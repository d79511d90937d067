"""SparkSession builder and fixture-table registry.

Design notes (100 TB posture):
- session TZ pinned to UTC so date_trunc/extract agree with the DuckDB
  oracle and with any cluster-side ingestion.
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  join-strategy switching are the scale-out levers we rely on instead of
  hand-tuned partition counts.
- `spark.sql.shuffle.partitions` seeds at 2x cores for local runs; AQE
  coalesces down. On a real cluster this would be set to ~2-3x total cores.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: the ten driver fixture tables (TESTDATA.md / FIXTURES.md §1)
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: kind -> this process's scratch dir for that kind (lazily created).
_PROC_TMPDIRS: dict[str, str] = {}


def proc_tmpdir(kind: str) -> str:
    """One scratch directory per (process, kind), deleted at interpreter exit.

    Replaces the ``smb_<kind>_<pid>`` fixed paths (ADVICE r9): ``mkdtemp``
    makes the path collision-free under pid reuse / shared hosts, reuse
    within the process keeps growth bounded across stability loops (the
    ADVICE-r8 property), and the ``atexit`` rmtree removes the leak the
    fixed-path scheme never cleaned up.  Callers write with
    ``mode("overwrite")`` beneath it, so repeated query runs stay bounded.
    """
    d = _PROC_TMPDIRS.get(kind)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix=f"smb_{kind}_")
        _PROC_TMPDIRS[kind] = d
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def sf_scratch(kind: str, sf_dir: str) -> str:
    """Per-(process, kind, sf_dir) scratch dir for query-internal round-trips.

    Scratch parquet/text a query writes and reads back LAZILY must be keyed
    by sf_dir (ADVICE r9): multi-SF loops in one process (stability sweeps,
    3-SF verification) would otherwise overwrite the files an earlier
    still-unevaluated result DataFrame reads.  Growth stays bounded by the
    number of distinct SFs a process touches (callers overwrite within)."""
    import hashlib

    leaf = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = os.path.join(proc_tmpdir(kind), leaf)
    os.makedirs(d, exist_ok=True)
    return d


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Model-sized local rows as a LITERAL-EXPRESSION plan instead of
    ``createDataFrame`` (r14 optimization round, guide §4.1/§6.3).

    ``createDataFrame`` parallelizes local data into defaultParallelism RDD
    slices, and every materialization of the frame — each broadcast build,
    parquet write, unionAll scan — pays a pickle + Python-worker roundtrip
    PER SLICE (32 on this host); worse, the slices re-run on every action
    because an RDD-backed local relation is never folded.  Measured on a
    2-row model table: 5 noop/broadcast-join/parquet-roundtrip cycles cost
    2.4/3.8/5.3 s as createDataFrame vs 0.7/1.1/2.3 s as literals, and
    ``coalesce(1)`` on the RDD form is WORSE (26–32 s: one task pays all
    slices' worker roundtrips serially).  Embedding the rows as a literal
    struct array over a one-partition ``range(1)`` keeps every
    materialization a 1-task JVM-only job — the correct shape for any
    model-sized or driver-computed-result table at ANY corpus scale (the
    table size is bounded by the model/round count, not the data).

    Bit-exact: ``F.lit`` preserves Python float bits; every field is cast
    to the declared type exactly as createDataFrame's schema did.  Falls
    back to createDataFrame for EMPTY input (no literals to type) and is
    only for BOUNDED row lists (the plan embeds every value).
    """
    from pyspark.sql.types import StructType

    if not rows:
        return spark.createDataFrame([], schema)
    st = StructType.fromDDL(schema)
    structs = []
    for row in rows:
        fields = []
        for i, f in enumerate(st.fields):
            v = row[i]
            col = (
                F.array()  # F.lit cannot type an empty list; cast does
                if isinstance(v, (list, tuple)) and len(v) == 0
                else F.lit(list(v) if isinstance(v, tuple) else v)
            )
            fields.append(col.cast(f.dataType).alias(f.name))
        structs.append(F.struct(*fields))
    return (
        spark.range(1, numPartitions=1)
        .select(F.explode(F.array(*structs)).alias("_s"))
        .select("_s.*")
    )


def get_spark(app_name: str = "spark_multiboost_spark") -> SparkSession:
    """Build (or reuse) the local SparkSession with scale-sane defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


#: id(session) -> the session itself.  The STRONG reference is the point:
#: CPython recycles object ids after GC, so an id-keyed set could serve a
#: brand-new session the previous tenant's state; pinning the session in
#: the value keeps every cached id unique among live objects.  Growth is
#: bounded by the number of sessions a process creates (a handful).
_SHIPPED_SESSIONS: dict[int, SparkSession] = {}


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Module-level functions used in applyInPandas / UDFs are pickled BY
    REFERENCE (module + qualname), so workers must be able to import
    ``spark_multiboost_spark`` regardless of the driver's cwd — exactly as
    on a real cluster, where the package is shipped with the job.
    """
    key = id(spark)
    if key in _SHIPPED_SESSIONS:
        return
    try:
        sc = spark.sparkContext
    except Exception:
        return  # Spark Connect — rely on artifact upload instead
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"smb_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    sc.addPyFile(zpath)
    _SHIPPED_SESSIONS[key] = spark


def _ensure_session_confs(spark: SparkSession) -> None:
    """Runtime confs required for oracle parity, applied defensively because
    the driver's verify may hand us a session we didn't build:
    - UTC session TZ so date_trunc/extract agree with DuckDB's naive
      timestamps;
    - nanosAsLong so Spark 4 can scan the events table's TIMESTAMP(NANOS)
      parquet column (converted to µs in :func:`load_tables`).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # scale-sane runtime knobs, in case the outer session kept defaults:
    # 200 shuffle partitions is pure scheduling overhead at fixture scale
    # (AQE coalesces, but the floor matters for many small queries)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        n = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(max(8, n)))
    except Exception:
        pass  # Spark Connect: leave the server default
    _ship_package(spark)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read all fixture parquet tables, apply the FIXTURES.md §3 type-parity
    casts, and register each as a temp view.

    Parity casts (must be mirrored by explicit casts in oracle SQL):
    - embeddings.embedding: list<float> -> ARRAY<DOUBLE> (so vector math
      matches DuckDB's DOUBLE[] arithmetic bit-for-bit).
    - events.ts: TIMESTAMP(NANOS) parquet -> LongType (nanosAsLong) ->
      truncate to µs TIMESTAMP via integer division (DuckDB's
      CAST(ts AS TIMESTAMP) truncates ns the same way). Integer `div`, not
      `/`: epoch-nanos ~1.7e18 exceeds double's 2^53 exact-integer range.
    """
    _ensure_session_confs(spark)
    cached = _TABLE_CACHE.get(id(spark))
    if cached is not None and cached[0] is spark and cached[1] == sf_dir:
        return cached[2]
    dfs: dict[str, DataFrame] = {}
    for name in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "embeddings":
            df = df.withColumn("embedding", F.col("embedding").cast("array<double>"))
        elif name == "events":
            if dict(df.dtypes)["ts"] == "bigint":
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            else:
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        df.createOrReplaceTempView(name)
        dfs[name] = df
    _TABLE_CACHE[id(spark)] = (spark, sf_dir, dfs)
    return dfs


#: (session id) -> (session, sf_dir, tables); avoids re-reading 10 parquet
#: footers per query call — temp views stay registered for the matching
#: sf_dir.  The session sits in the VALUE as a strong reference so its id
#: can never be recycled and handed to a different live session (see
#: _SHIPPED_SESSIONS); the `is` check in load_tables is belt-and-braces.
_TABLE_CACHE: dict[int, tuple[SparkSession, str, dict[str, DataFrame]]] = {}


def warm_cache(spark: SparkSession, sf_dir: str, min_bytes: int = 1 << 20) -> None:
    """Benchmark/warm-warehouse mode (SURVEY.md §7 Phase 5: "cache the shared
    scan in multi-query runs").

    The driver fixtures are single-row-group parquet files, so a cold scan is
    ONE task no matter how many cores exist — every downstream agg/join then
    starts single-threaded. A real 100 TB warehouse table has thousands of
    row groups and never hits this; locally we recover the parallelism by
    repartitioning each large fact table across the cores once and persisting
    it (Spark's in-memory columnar cache = the hot-table tier). Aggregate
    parity is unaffected: every double aggregate goes through the exact
    decimal path (functions/parity.py), which is accumulation-order
    independent by construction.
    """
    tables = dict(load_tables(spark, sf_dir))
    par = spark.sparkContext.defaultParallelism
    # the text corpus always fans out regardless of file bytes: its derived
    # work (shingle HOFs, 8 md5 signatures per shingle) is CPU-superlinear
    # in tokens, so even a sub-MB parquet file serializes seconds of compute
    # onto one core if left on the scan's partitioning.  embeddings stays on
    # byte rules: its heavy path (Arrow blocked matmul) WANTS large batches,
    # and fanning 5k rows across 32 partitions measurably hurt it.
    force_fanout = {"documents"}
    for name in TABLES:
        size = os.path.getsize(f"{sf_dir}/{name}.parquet")
        if size < min_bytes and name not in force_fanout:
            continue
        df = tables[name]
        if size >= 4 * min_bytes or name in force_fanout:
            # only genuinely large facts get fanned out: on a table this
            # size the scan parallelism pays for the extra tasks; smaller
            # tables finish faster on few partitions than 32 tasks schedule
            df = df.repartition(par)
        df = df.persist()
        df.count()  # materialize now so timed runs see the warm cache
        df.createOrReplaceTempView(name)
        tables[name] = df
    _TABLE_CACHE[id(spark)] = (spark, sf_dir, tables)
