"""Co-location & skew machinery — the 100 TB join toolbox.

The reference sidesteps shuffle economics entirely (parallelism 1,
FlinkCDCApp.java:24-30); at cluster scale the two dominant costs this module
addresses are:

- **Repeated shuffles of the same fact table on the same key.** Bucketing
  writes the table pre-hash-partitioned AND pre-sorted on the join key;
  a join of two tables bucketed on that key with equal bucket counts needs
  NO Exchange on either side (sort-merge runs directly on bucket files).
  At 100 TB this turns every orders⋈lineitem-shaped join from two full
  shuffles into zero.
- **Skewed keys.** AQE's skew-join splitting (on in session.py) handles
  moderate skew at runtime; ``salted_join`` is the explicit fallback for
  pathological hot keys (one key ≫ executor memory): the big side gets a
  deterministic salt in [0, n), the small side is replicated n ways, and the
  equi-join runs on (key, salt) — the hot key's rows spread over n tasks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_210225_spark.io import _scratch

# bucket_prune_demo's per-session catalog bookkeeping (ADVICE r8 #1):
# id(session) -> the catalog table the LAST invocation created, dropped on
# re-entry so repeated bench reps don't accumulate catalog entries. Files
# live under the streaming scratch root, rmtree'd at interpreter exit.
_BKTPRUNE_TABLES: dict[int, str] = {}


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str | list[str],
    num_buckets: int = 32,
    sort_key: str | list[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist hash-bucketed (and bucket-sorted) — the co-located layout for
    a key joined repeatedly. num_buckets must match across co-joined tables.
    ``path`` makes it an external table (warehouse.dir is a static conf, so
    tests and ad-hoc runs point tables at scratch space explicitly)."""
    keys = [bucket_key] if isinstance(bucket_key, str) else list(bucket_key)
    sorts = keys if sort_key is None else (
        [sort_key] if isinstance(sort_key, str) else list(sort_key)
    )
    writer = (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, keys[0], *keys[1:])
        .sortBy(sorts[0], *sorts[1:])
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def bucketed_join(spark, left_table: str, right_table: str, on, how: str = "inner") -> DataFrame:
    """Join two same-bucketed catalog tables; with matching bucket counts the
    plan contains no Exchange (verify with plans.explain.audit)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
    salt_source: Column | None = None,
) -> DataFrame:
    """Skew-resistant equi-join: big side salted by a deterministic hash of
    its non-key content, small side replicated ``n_salts`` ways. Semantics
    identical to ``big.join(small, key, how)`` for inner/left joins; cost =
    small side inflated n×, hot-key rows spread over n tasks.

    right/full/semi/anti are rejected: replication would emit each unmatched
    small-side row once per salt (wrong multiplicity)."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins only, got {how!r}: "
            "small-side replication breaks unmatched-row multiplicity for "
            "right/full/semi/anti joins"
        )
    salt = (
        F.pmod(F.hash(*[c for c in big.columns if c != key]), F.lit(n_salts))
        if salt_source is None
        else F.pmod(salt_source, F.lit(n_salts))
    )
    b = big.withColumn("__salt", salt)
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = b.join(s, [key, "__salt"], how)
    return out.drop("__salt")


def key_skew_profile(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """Skew diagnostic: per-key row counts vs the mean — feeds the decision
    between AQE-only and explicit salting. The mean attaches as a SCALAR
    SUBQUERY (no crossJoin → no BNLJ node; the counts aggregate is planned
    twice, both runs key-count-sized); the top-k is orderBy+limit with a
    key tiebreak → TakeOrderedAndProject."""
    counts = df.groupBy(key).agg(F.count("*").alias("ct"))
    avg_ct = counts.agg(F.avg("ct")).scalar()
    return (
        counts.withColumn(
            "skew_ratio", F.floor(F.col("ct") / avg_ct * 100 + 0.5) / 100
        )
        .orderBy(F.desc("ct"), F.asc(key))
        .limit(top)
    )


def skew_profile_demo(tables: dict[str, DataFrame]) -> DataFrame:
    """Driver entry: heaviest event users vs the mean — the pre-join check
    that decides whether ``salted_join`` is warranted."""
    return key_skew_profile(tables["events"], "user_id")


def salted_join_demo(tables: dict[str, DataFrame]) -> DataFrame:
    """Driver-gated salted join: customer⋈nation is naturally skewed —
    25 distinct nation keys over the whole customer table (~6 000 rows per
    key at sf0.1), the classic hot-key shape. The big side salts on a
    deterministic hash of its payload, the 25-row small side replicates 8×,
    and the equi-join runs on (key, salt); aggregating per nation afterwards
    makes the result independent of the salt fan-out, so the DuckDB oracle
    is simply the UNSALTED join + group — identical output proves the
    salting is semantics-preserving under the driver hash. Account balances
    fold as exact cents (round→long) so the sum is order-independent."""
    cust = tables["customer"]
    nat = tables["nation"].select(F.col("n_nationkey").alias("nk"), "n_name")
    big = cust.select(
        F.col("c_nationkey").alias("nk"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    out = salted_join(big, nat, "nk", n_salts=8)
    return out.groupBy("n_name").agg(
        F.count("*").alias("n_cust"), F.sum("cents").alias("acctbal_cents")
    )


def zorder_keys_demo(tables: dict[str, DataFrame], bits: int = 16) -> DataFrame:
    """Driver-visible Z-order surface: every order's Morton key over
    (o_custkey, order epoch-day) — the exact interleave ``write_zordered``
    range-partitions by, now under the hash gate (the layout writer itself
    is pytest-gated: file-level min-max tightness is an artifact property,
    but the KEY construction — scaling, clamping, 32 bit-interleave
    terms — is pure arithmetic both engines replay bit-for-bit). Ranges
    are data-derived via one tiny min/max collect (embedded as literals;
    the oracle re-derives them as scalar subqueries over the same rows)."""
    o = tables["orders"]
    days = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    r = o.agg(
        F.min("o_custkey").alias("la"),
        F.max("o_custkey").alias("ha"),
        F.min(days).alias("lb"),
        F.max(days).alias("hb"),
    ).collect()[0]
    z = zorder_value(
        F.col("o_custkey"), days, (r.la, r.ha), (r.lb, r.hb), bits
    )
    return o.select("o_orderkey", F.col("o_custkey"), z.alias("zkey"))


def _zorder_oracle(bits: int = 16) -> str:
    terms = " + ".join(
        f"(((sa >> {i}) & 1) << {2 * i}) + (((sb >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    m = (1 << bits) - 1
    return f"""
        WITH r AS (
            SELECT min(o_custkey) AS la, max(o_custkey) AS ha,
                   min(o_orderdate::DATE - DATE '1970-01-01') AS lb,
                   max(o_orderdate::DATE - DATE '1970-01-01') AS hb
            FROM orders
        ),
        s AS (
            SELECT o_orderkey, o_custkey,
                   floor(least(greatest(
                       (o_custkey::DOUBLE - (SELECT la FROM r))
                           / ((SELECT ha FROM r) - (SELECT la FROM r)), 0.0), 1.0)
                       * {m})::BIGINT AS sa,
                   floor(least(greatest(
                       ((o_orderdate::DATE - DATE '1970-01-01')::DOUBLE - (SELECT lb FROM r))
                           / ((SELECT hb FROM r) - (SELECT lb FROM r)), 0.0), 1.0)
                       * {m})::BIGINT AS sb
            FROM orders
        )
        SELECT o_orderkey, o_custkey, ({terms})::BIGINT AS zkey FROM s
    """


QUERIES = {
    "join_skew_profile": skew_profile_demo,
    "join_salted": salted_join_demo,
    "colocate_zorder_keys": zorder_keys_demo,
}

ORACLES = {
    "join_salted": """
        SELECT n_name,
               count(*)::BIGINT AS n_cust,
               sum(round(c_acctbal * 100)::BIGINT)::BIGINT AS acctbal_cents
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "join_skew_profile": """
        WITH counts AS (
            SELECT user_id, count(*)::BIGINT AS ct FROM events GROUP BY user_id
        )
        SELECT user_id, ct,
               floor(ct / (SELECT avg(ct) FROM counts) * 100 + 0.5) / 100
                   AS skew_ratio
        FROM counts
        ORDER BY ct DESC, user_id ASC
        LIMIT 10
    """,
}


def zorder_value(
    a: Column, b: Column, a_range: tuple[float, float], b_range: tuple[float, float], bits: int = 16
) -> Column:
    """Morton/Z-order key: each column scales to ``bits`` bits over its
    known [min, max] range, then the bits interleave (a even, b odd
    positions). Nearby (a, b) points get nearby z-values, so a z-sorted
    layout keeps parquet row-group/file min-max tight on BOTH columns at
    once — the multi-dimensional generalization of ``write_stats``'s
    single-key sort, and what Delta's OPTIMIZE ZORDER BY computes. Pure
    integer expression (floor-scale + shift/mask folds), codegen-friendly."""
    sa = scale_to_bits(a, *a_range, bits=bits)
    sb = scale_to_bits(b, *b_range, bits=bits)
    return interleave_bits(sa, sb, bits)


def scale_to_bits(c: Column, lo: float, hi: float, bits: int = 16) -> Column:
    """Clamp-scale a value over its known [lo, hi] range to a ``bits``-bit
    integer coordinate (the normalization step of ``zorder_value``, split
    out so layout auditors can reuse the exact same grid)."""
    frac = (c.cast("double") - F.lit(lo)) / F.lit(hi - lo)
    clamped = F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))
    return F.floor(clamped * F.lit((1 << bits) - 1)).cast("long")


def interleave_bits(sa: Column, sb: Column, bits: int = 16) -> Column:
    """Morton interleave of two pre-scaled ``bits``-bit coordinates
    (a even positions, b odd)."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftrightunsigned(sa, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftrightunsigned(sb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    a: str,
    b: str,
    a_range: tuple[float, float],
    b_range: tuple[float, float],
    n_files: int = 8,
) -> None:
    """Z-ordered parquet layout: range-partition by the z-value into
    ``n_files`` tasks and sort within each — every output file covers a
    contiguous z-range, i.e. a small rectangle-ish region of (a, b) space,
    so predicates on EITHER column prune files/row-groups via footer
    min-max stats."""
    z = zorder_value(F.col(a), F.col(b), a_range, b_range)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


ORACLES["colocate_zorder_keys"] = _zorder_oracle()


def bucket_prune_demo(tables: dict[str, DataFrame]) -> DataFrame:
    """BUCKET PRUNING on read — the third scan-reduction lever after
    static partition pruning (``source_partition_prune``) and dynamic
    partition pruning (``join_dpp_prune``): an equality filter on the
    BUCKET KEY of a hash-bucketed table lets Spark open only the buckets
    the key can hash into (SelectedBucketsCount in the scan, pinned by
    the plan test) — on a 32-bucket layout an IN (k1, k2) probe reads ≤
    2/32 of the files with NO directory layout at all (bucketing prunes
    on HASH, partitioning on VALUE; high-cardinality keys that would
    explode a partition tree bucket happily). Events land bucketed by
    user_id in scratch; the probe filters two user ids and rolls up.

    Exactness: pure counts/cents replayed by the oracle from the raw
    table.

    Scale: the write is one shuffle into 32 bucket files; the probe
    reads 2 buckets regardless of corpus size."""
    ev = tables["events"]
    spark = ev.sparkSession
    out = _scratch(prefix="bktprune_")
    # Catalog name carries the scratch dir's per-run random suffix so two
    # concurrent sessions sharing a metastore can never race on the same
    # table name (ADVICE r7 #5); the scratch root already guarantees the
    # path side of that isolation. Re-entry in the same session drops the
    # PREVIOUS run's table first (ADVICE r8 #1): the scratch rmtree already
    # reclaims the files at exit, but without the DROP a 3-rep bench leaves
    # stale catalog entries and keeps each events-sized bucketed copy
    # undeletable-by-name until interpreter exit.
    import os as _os

    prev = _BKTPRUNE_TABLES.pop(id(spark), None)
    if prev is not None:
        spark.sql(f"DROP TABLE IF EXISTS {prev}")

    tbl = f"events_{_os.path.basename(out)}"
    _BKTPRUNE_TABLES[id(spark)] = tbl
    write_bucketed(
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        ),
        tbl,
        "user_id",
        num_buckets=32,
        path=out,
    )
    probe = spark.table(tbl).where(F.col("user_id").isin(7, 42))
    return probe.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("cents"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
    )


QUERIES["colocate_bucket_prune"] = bucket_prune_demo
ORACLES["colocate_bucket_prune"] = """
    SELECT user_id, count(*)::BIGINT AS n_events,
           sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS cents,
           count(DISTINCT event_type)::BIGINT AS n_types
    FROM events WHERE user_id IN (7, 42)
    GROUP BY user_id
"""
