"""Fixture table loaders.

The driver provides TPC-H-ish parquet tables (TESTDATA.md):
region nation customer supplier part orders lineitem events documents
embeddings. Loading is plain ``spark.read.parquet`` so Catalyst gets full
predicate pushdown / column pruning into the scan.
"""

from __future__ import annotations

import os
import tempfile
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
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
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events stores ts as TIMESTAMP(NANOS), which the Parquet reader
        # rejects outright; this runtime conf must be set on ANY session
        # (incl. driver-built vanilla ones) before reading it.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read via nanosAsLong: convert to timestamp_ntz
        # (micro-aligned in fixtures, so integer division is lossless).
        # `div` keeps the arithmetic in LONG — `floor(ts / 1000)` would go
        # through double, whose 53-bit mantissa rounds epoch-nanos by up to
        # ±128 ns and flips the resulting microsecond for ~half the rows.
        df = df.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz")
        )
    return df


# Per-session fixture-table cache (r8 perf, VERDICT r7 #2 root-cause).
# `spark.read.parquet` is NOT free at plan-build time: each call is a
# driver->JVM round trip that lists the path and reads the parquet footer
# for schema inference — measured 0.86 s for the 10-table set on the bench
# box. Re-running that per query call was the real "~1 s/query job-
# submission floor" (the flagged text_code_detect spends ~0.1 s scanning
# and ~0.9 s re-inferring schemas). A real deployment declares tables ONCE
# in a catalog and reuses the plan; this cache is that pattern. Safety:
# DataFrames are immutable lazy plans; staleness is keyed out by a cheap
# dir fingerprint (see _dir_fingerprint — in-place fixture regeneration
# rotates the key); keying WEAKLY by the session object means a
# stopped/collected session drops its entries and a fresh session re-lists
# from scratch. Callers get a shallow copy so mutating the returned dict
# (tables["x"] = ...) never leaks into the cache.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple, dict[str, DataFrame]]]" = (
    weakref.WeakKeyDictionary()
)


def _dir_fingerprint(sf_dir: str) -> tuple:
    """Cheap staleness key for a fixture dir (ADVICE r8 #4): the sorted
    (name, mtime_ns, size) of its immediate entries — one listdir + ~10
    stats, microseconds against the 0.86 s footer-inference it guards.
    In-place regeneration of a fixture (a test rewriting sf0.01) changes a
    file's mtime/size or the dir's membership, so the cache key rotates and
    the stale plan can never be served. Parquet table DIRS get the dir
    inode's own mtime, which bumps whenever files inside are added/replaced
    (Spark writers always create new part files)."""
    try:
        with os.scandir(sf_dir) as it:
            return tuple(
                sorted(
                    (e.name, e.stat().st_mtime_ns, e.stat().st_size) for e in it
                )
            )
    except OSError:
        return ("<unlistable>",)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every fixture table; values are lazy DataFrames (no IO yet).

    Cached per (session, sf_dir, dir-fingerprint): the first call lists +
    schema-infers the 10 parquet tables, later calls reuse the lazy plans
    (catalog pattern — see _TABLE_CACHE note). The fingerprint keys out
    in-place fixture regeneration (ADVICE r8 #4). Execution still scans
    real data every action.
    """
    try:
        per_session = _TABLE_CACHE.setdefault(spark, {})
    except TypeError:  # session object not weak-referenceable: skip cache
        return {name: load_table(spark, sf_dir, name) for name in TABLES}
    key = (sf_dir, _dir_fingerprint(sf_dir))
    cached = per_session.get(key)
    if cached is None:
        # evict stale generations of THIS dir only (other sf_dirs stay warm)
        for k in [k for k in per_session if k[0] == sf_dir]:
            del per_session[k]
        cached = {name: load_table(spark, sf_dir, name) for name in TABLES}
        per_session[key] = cached
    return dict(cached)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register each table as a temp view for spark.sql() querying."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def few_input_splits(df: DataFrame) -> bool:
    """True when ``df``'s file scan arrives in too few splits to keep every
    core busy — the guard that makes ``spread`` SCALE-CONDITIONAL
    (VERDICT r10 #2). Locally every fixture table is ONE parquet file (one
    row group ⇒ one split), so explode/decode work downstream of a bare
    scan runs on one task and a round-robin repartition is a big win. On a
    real cluster the same scan arrives in thousands of file splits, and the
    unconditional repartition was a FULL network pass of every corpus row —
    pure added cost (guide §2.3/§2.4). File count is the cheap proxy for
    split count: a source with ≥ defaultParallelism/2 files is split at
    least that wide by the scanner (maxPartitionBytes can only split finer,
    never merge across files). Non-file sources (checkpointed RDD scans,
    in-memory frames) report no input files and keep the repartition —
    the conservative local-mode behavior."""
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return True
    threshold = max(1, df.sparkSession.sparkContext.defaultParallelism // 2)
    return n_files < threshold


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition ``df`` across every core before per-row heavy work
    (tokenize/shingle explodes, Arrow decodes, vector folds) when its scan
    arrives in few splits (``few_input_splits``); otherwise ``df`` itself.
    Round-robin with no ``keys``; hash by ``keys`` when a downstream
    ``groupBy(keys)`` should reuse the partitioning instead of paying a
    second exchange."""
    if not few_input_splits(df):
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


def one_row_df(spark: SparkSession, cols: list[tuple]) -> DataFrame:
    """One-row DataFrame built entirely JVM-side (``range(1)`` + literal
    projections). The python-list ``createDataFrame([(...)])`` alternative
    is RDD-backed with defaultParallelism partitions, so EVERY action on it
    fans out one Python-worker task per core — measured ~5 s per 1-row
    sentinel/journal parquet write on the 32-core bench box vs 0.2 s for
    the literal build. Inside a foreachBatch journal that tax repeats per
    micro-batch, so it dominated the streaming capstones' wall clock.

    ``cols``: list of ``(name, spark_ddl_type, python_value)``.
    """
    return spark.range(1).select(
        *[F.lit(v).cast(t).alias(n) for n, t, v in cols]
    )


_SCRATCH_ROOT = None


def _scratch(prefix: str) -> str:
    """Session-scoped scratch dir for queries that materialize (streaming
    sinks and landing zones, staged sources, rewritten tables): every
    output/checkpoint/landing dir lives under ONE root that is removed at
    interpreter exit, so repeated bench/pytest runs cannot accumulate
    fixture-sized parquet + state-store copies in /tmp. Cleanup must be
    deferred to exit: the returned DataFrames read the materialized
    parquet LAZILY, so deleting right after return would break the
    caller's collect."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        import atexit
        import shutil

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="stream_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)
