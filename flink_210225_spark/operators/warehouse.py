"""Serving-store layout (K3's scale posture).

The reference lands DWS output in ClickHouse tables keyed by stt and filters
dashboards with ``toYYYYMMDD(stt)=?`` (ProductStatsMapper.java:17) — i.e. a
date-partitioned serving store. Here the store is parquet partitioned by
``dt``: writes append per micro-batch (idempotent per checkpoint), and every
serving query that filters on ``dt`` prunes to the matching directories —
``PartitionFilters`` in the scan, zero I/O outside the window. At 100 TB,
day-partitioning bounds every dashboard query to ~1/365th of the store
regardless of total history size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_210225_spark.functions.scalars import round6
from flink_210225_spark.io import _scratch


def write_stats(df: DataFrame, path: str, dt_col: str = "stt", mode: str = "append") -> None:
    """Land a stats table partitioned by calendar day of ``dt_col``.
    Rows are sorted by ``dt_col`` within each task so parquet row-group
    min/max stats stay tight — sub-day time-range filters skip whole row
    groups on top of the directory-level day pruning."""
    (
        df.withColumn("dt", F.to_date(F.col(dt_col)))
        .sortWithinPartitions("dt", dt_col)
        .write.mode(mode)
        .partitionBy("dt")
        .parquet(path)
    )


def read_stats(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_stats_jdbc(
    df: DataFrame, url: str, table: str, driver: str, mode: str = "append"
) -> None:
    """The literal K3 drop-in: land a stats table over JDBC exactly as the
    reference's batch sink does (ClickHouseUtil.java:20-54 builds an INSERT
    and addBatch/executeBatch per buffered window; Spark's JDBC writer is
    the same batched-INSERT protocol, one batch per partition,
    ``batchsize`` rows per executeBatch). The parquet serving store above
    is the default because the sandbox has no warehouse service; this path
    is exercised for real in tests against Spark's bundled embedded Derby
    (tests/test_jdbc_sink.py) — swapping ``url``/``driver`` to a
    ClickHouse/Postgres endpoint is a config change, not a code change.

    Scale: each executor partition opens its own connection and streams its
    rows in ``batchsize`` chunks — the write parallelism IS the partition
    count; coalesce upstream if the warehouse throttles connections."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .option("batchsize", "1000")
        .mode(mode)
        .save()
    )


def read_stats_jdbc(
    spark: SparkSession, url: str, table: str, driver: str
) -> DataFrame:
    """Read-back half of the JDBC drop-in (dashboard mapper side)."""
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .load()
    )


def stats_for_day(spark: SparkSession, path: str, day: str) -> DataFrame:
    """The toYYYYMMDD(stt)=? access path: dt predicate → partition pruning."""
    return read_stats(spark, path).filter(F.col("dt") == day)


def dq_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Data-quality profile of a table: per column, row count, null count,
    null fraction, and exact distinct count — the ingest-gate audit every
    warehouse load runs before publishing a partition (freshness/completeness
    checks compose on top via ``stats_for_day``).

    Plan: ONE aggregation pass. The multi-column exact countDistinct plans an
    Expand (input multiplied by #profiled columns before the partial agg) —
    the documented cost of exactness; at 100 TB swap
    ``approx_count_distinct`` in via the same expression slot for an
    Expand-free single scan. The unpivot to long form happens on the single
    aggregated row (driver-sized)."""
    names = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in names:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__null_{c}")
        )
        aggs.append(F.countDistinct(c).alias(f"__dist_{c}"))
    row = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', __null_{c}, __dist_{c}" for c in names)
    long = row.selectExpr(
        "__n AS n_rows",
        f"stack({len(names)}, {stack_args}) AS (col_name, n_null, n_distinct)",
    )
    return long.select(
        "col_name",
        "n_rows",
        "n_null",
        (F.floor(F.col("n_null") * 1000000.0 / F.col("n_rows") + 0.5) / 1000000).alias(
            "null_frac"
        ),
        "n_distinct",
    )


def dq_profile_events(tables: dict[str, DataFrame]) -> DataFrame:
    """Driver entry: profile the events stream table."""
    return dq_profile(tables["events"])


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, payload: str
) -> DataFrame:
    """Dataset-version diff: per key, is the row added / removed / changed /
    unchanged between two snapshots — the audit behind incremental
    republishing (ship only added+changed partitions) and pipeline
    regression review (an upstream filter change shows up as a removed
    spike). Content is compared by md5(payload) computed inside each scan,
    so the join carries 16-byte digests plus keys, never payload bytes.

    Scale: ONE full-outer shuffle join on the key. At 100 TB both sides are
    typically partitioned/bucketed by the same key already (storage-ordered
    snapshots), which turns the Exchange into a co-located merge."""
    o = old.select(F.col(key).alias("k"), F.md5(F.col(payload)).alias("oh"))
    n = new.select(F.col(key).alias("k"), F.md5(F.col(payload)).alias("nh"))
    j = o.join(n, "k", "full_outer")
    status = (
        F.when(F.col("oh").isNull(), F.lit("added"))
        .when(F.col("nh").isNull(), F.lit("removed"))
        .when(F.col("oh") != F.col("nh"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(F.col("k").alias(key), status.alias("status"))


def snapshot_diff_demo(tables: dict[str, DataFrame]) -> DataFrame:
    """Driver entry: documents vs a deterministic next version (every 10th
    doc dropped, every 7th-not-10th rewritten, plus re-keyed additions).
    Synthetic 'added' keys are -(doc_id+1): strictly negative, so they can
    never collide with a real (non-negative) doc_id at ANY scale factor
    (ADVICE r1 — the old +1000000 re-keying collided past sf where
    doc_id ≥ 10^6)."""
    docs = tables["documents"]
    v2 = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [v2]"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 13 == 0).select(
                (-(F.col("doc_id") + 1)).alias("doc_id"), "text"
            )
        )
    )
    return snapshot_diff(docs.select("doc_id", "text"), v2, "doc_id", "text")


def delete_cascade(tables: dict[str, DataFrame]) -> DataFrame:
    """Right-to-be-forgotten propagation accounting: for a deletion list of
    customer keys, how many rows each downstream table loses (orders by
    key, lineitem transitively through orders) and what survives — the
    audit a GDPR erasure job emits before the actual rewrite. The erasure
    itself is the same joins with anti-join semantics feeding an overwrite.

    Scale: the deletion list broadcast-SEMI-joins each fact (no row
    widening, Catalyst turns it into a bloom-ish hash probe); the lineitem
    cascade reuses the already-filtered orders keys, again broadcast. One
    aggregate per table, unioned — each fact scanned once."""
    cust, orders, li = tables["customer"], tables["orders"], tables["lineitem"]
    victims = cust.filter(F.col("c_custkey") % 997 == 0).select(
        "c_custkey", F.lit(1).alias("__v")
    )
    # left-join markers instead of semi-join + crossJoin of 1-row counts:
    # one scan and ONE aggregate per table yields deleted AND total together
    # (count of the marker vs count(*)), no cartesian anywhere.
    o_marked = orders.join(
        F.broadcast(victims), orders["o_custkey"] == victims["c_custkey"], "left"
    ).select("o_orderkey", "__v")
    dead_order_keys = o_marked.filter(F.col("__v").isNotNull()).select(
        "o_orderkey", F.lit(1).alias("__vo")
    )
    li_marked = li.join(
        F.broadcast(dead_order_keys), li["l_orderkey"] == F.col("o_orderkey"), "left"
    ).select(F.col("__vo").alias("__v"))

    def counted(marked: DataFrame, name: str) -> DataFrame:
        return marked.agg(
            F.count("__v").alias("rows_deleted"), F.count(F.lit(1)).alias("rows_total")
        ).select(
            F.lit(name).alias("table_name"),
            "rows_deleted",
            "rows_total",
            (F.col("rows_total") - F.col("rows_deleted")).alias("rows_kept"),
        )

    c_marked = cust.select(
        F.when(F.col("c_custkey") % 997 == 0, 1).alias("__v")
    )
    return (
        counted(c_marked, "customer")
        .unionByName(counted(o_marked.select("__v"), "orders"))
        .unionByName(counted(li_marked, "lineitem"))
    )


def _file_inventory(orders: DataFrame) -> DataFrame:
    """The synthesized per-partition file inventory BOTH maintenance
    planners read (partition = order month, file = write-task bucket
    ``o_orderkey % 16``, bytes = 120·rows — a row-size stand-in for the
    filesystem listing / catalog manifest a real planner consumes). One
    shared derivation so the compaction and vacuum plans can never
    disagree about what is on disk."""
    return orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("part_month"),
        (F.col("o_orderkey") % 16).alias("bucket"),
    ).agg((F.count("*") * 120).alias("file_bytes"))


def compaction_plan(
    tables: dict[str, DataFrame], target_bytes: int = 4096
) -> DataFrame:
    """Small-file compaction PLANNING — the table-maintenance pass every
    large parquet store runs (小文件问题): per partition, inventory the
    files, decide whether rewriting is worth it, and size the rewrite.
    The file inventory is synthesized deterministically from orders
    (partition = order month, file = write-task bucket ``o_orderkey % 16``,
    bytes = 120·rows — a row-size stand-in), standing in for the
    filesystem listing a real planner reads; everything downstream is the
    real planning arithmetic, all integer-exact:

    - ``target_files`` = ceil(total/target) floored at 1 — what the
      partition SHOULD hold at the target file size;
    - ``needs_compaction`` iff the partition holds MORE files than that
      (rewriting can only help when merging reduces file count);
    - ``files_saved`` = the open-file-handle/scan-task reduction the
      rewrite buys — the number a maintenance scheduler prioritizes by.

    Plan: two map-side-combined groupBys ((month, bucket) then month);
    output is months-sized. At 100 TB the inventory comes from the
    catalog/manifest instead, same shape — the planner never touches data
    bytes, which is what makes it schedulable as a cheap scan-free job."""
    orders = tables["orders"]
    files = _file_inventory(orders)
    parts = files.groupBy("part_month").agg(
        F.count("*").alias("n_files"),
        F.sum("file_bytes").alias("total_bytes"),
    )
    target_files = F.greatest(
        F.ceil(F.col("total_bytes") / F.lit(target_bytes)), F.lit(1).cast("long")
    )
    needs = F.col("n_files") > target_files
    return parts.select(
        "part_month",
        "n_files",
        "total_bytes",
        F.floor(F.col("total_bytes") / F.col("n_files")).alias("avg_file_bytes"),
        target_files.alias("target_files"),
        needs.alias("needs_compaction"),
        F.when(needs, F.col("n_files") - target_files)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("files_saved"),
    )


def vacuum_orphans(tables: dict[str, DataFrame]) -> DataFrame:
    """Orphan-file reconciliation — the VACUUM planning pass of every
    manifest-tracked table format (Delta/Iceberg/Hudi): list the data
    directory, anti-join against the manifest, and report what a vacuum
    would reclaim per partition. The inventory is synthesized
    deterministically from orders (live manifest = current-generation
    files; even-numbered months were compacted to gen 1, leaving their
    gen-0 predecessors on disk; the gen-0 listing derives from the
    'F'-status subset — the pre-rewrite state), standing in for the
    filesystem listing + manifest read; the reconciliation itself is the
    real algorithm: a (month, bucket, gen)-keyed LEFT ANTI join, then a
    months-sized rollup. At 100 TB both inputs are metadata (catalog +
    listing), never data bytes — the anti-join keys are file paths."""
    orders = tables["orders"]
    cur = _file_inventory(orders)
    old = _file_inventory(orders.where(F.col("o_orderstatus") == "F"))
    rewritten = F.pmod(F.substring("part_month", 6, 2).cast("int"), F.lit(2)) == 0
    manifest = cur.where(rewritten).withColumn("gen", F.lit(1)).unionByName(
        cur.where(~rewritten).withColumn("gen", F.lit(0))
    )
    on_disk_old = old.withColumn("gen", F.lit(0))
    orphans = on_disk_old.join(
        manifest.select("part_month", "bucket", "gen"),
        ["part_month", "bucket", "gen"],
        "left_anti",
    )
    live = manifest.groupBy("part_month").agg(
        F.count("*").alias("n_live"), F.sum("file_bytes").alias("live_bytes")
    )
    orph = orphans.groupBy("part_month").agg(
        F.count("*").alias("n_orphans"), F.sum("file_bytes").alias("orphan_bytes")
    )
    return (
        live.join(orph, "part_month", "left")
        .select(
            "part_month",
            "n_live",
            "live_bytes",
            F.coalesce("n_orphans", F.lit(0)).cast("long").alias("n_orphans"),
            F.coalesce("orphan_bytes", F.lit(0)).cast("long").alias("orphan_bytes"),
            (F.coalesce("n_orphans", F.lit(0)) > 0).alias("needs_vacuum"),
        )
    )


def dp_noisy_counts(tables: dict[str, DataFrame], epsilon: float = 1.0) -> DataFrame:
    """Differential-privacy release mechanism for count queries — the
    third member of the privacy family (``warehouse_kanon_audit`` gates
    re-identification risk, ``warehouse_data_masking`` tokenizes columns;
    this one perturbs AGGREGATES): per event type, the true count plus
    Laplace(1/ε) noise, the classic ε-DP counting mechanism (sensitivity
    1 — one user-event moves a count by one). The registered driver query
    runs the ε=1 default; the static oracle pins b=1, so a non-default ε
    is test-able only through this function directly.

    The uniform draw is DERANDOMIZED for the hash gate (16-bit md5 of the
    group key → u = (h + 0.5)/65536, then the inverse-CDF transform
    −b·sign(u−½)·ln(1−2|u−½|)); a production release swaps u for a secure
    RNG — the mechanism, clipping, and rounding are exactly what ships.
    Exactness: h is an exact integer, the transform is one fixed-shape
    IEEE tree, and the released value floors to an integer (DP releases
    round anyway); max(0, ·) clips the negative tail. One group-keyed
    partial agg, |types|-sized everything after."""
    ev = tables["events"]
    agg = ev.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("dp:"), F.col("event_type"))), 1, 4), 16, 10
    ).cast("long")
    u = (h.cast("double") + 0.5) / 65536.0
    b = 1.0 / epsilon
    noise = (
        -F.lit(b)
        * F.signum(u - 0.5)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    released = F.greatest(
        F.lit(0).cast("long"),
        F.floor(F.col("n") + noise + F.lit(0.5)).cast("long"),
    )
    return agg.select(
        "event_type",
        released.alias("released_count"),
        F.lit(float(epsilon)).alias("epsilon"),
        F.lit(1).cast("long").alias("sensitivity"),
    )


def late_arriving_facts(tables: dict[str, DataFrame]) -> DataFrame:
    """Late-arriving-fact audit — the warehouse-side measurement behind
    every watermark/TTL decision: how many facts arrive AFTER a
    later-timestamped fact already landed (those are the rows an
    event-time window would have to reopen, and the rows a naive
    ingest-order incremental load files into the wrong partition). The
    fixture's feed is perfectly ordered, so a deterministic delayed
    subset is synthesized (every event_id % 13 == 0 delivered 600 s
    late — the record_linkage synthesize-the-defect pattern); arrival
    order is (arrival_us, event_id).

    A fact is late iff its event time is behind the running maximum over
    everything that arrived before it; delay = that maximum minus the
    event time (how far the watermark would have to reach back). All
    integers (epoch micros); the rate is one pinned division. One global
    arrival-order window at fixture scale — production shards this by
    ingest partition, where arrival order actually exists."""
    ev = tables["events"]
    us = F.timestamp_diff(
        "MICROSECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), F.col("ts")
    )
    base = ev.select(
        "event_id",
        us.alias("us"),
        (
            us
            + F.when(F.col("event_id") % 13 == 0, F.lit(600_000_000)).otherwise(
                F.lit(0)
            )
        ).alias("arrival_us"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
    )
    w = Window.orderBy("arrival_us", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tagged = base.select(
        "day",
        "us",
        F.max("us").over(w).alias("rm"),
    ).select(
        "day",
        F.when(F.col("us") < F.col("rm"), 1).otherwise(0).alias("late"),
        F.when(F.col("us") < F.col("rm"), F.col("rm") - F.col("us"))
        .otherwise(F.lit(0))
        .alias("delay_us"),
    )
    return tagged.groupBy("day").agg(
        F.count("*").cast("long").alias("n_facts"),
        F.sum("late").cast("long").alias("n_late"),
        F.max("delay_us").cast("long").alias("max_delay_us"),
        round6(
            F.sum("late").cast("double") / F.count("*").cast("double")
        ).alias("late_rate"),
    ).select(
        F.col("day").cast("string").alias("day"),
        "n_facts",
        "n_late",
        "max_delay_us",
        "late_rate",
    )


def dq_expectations(tables: dict[str, DataFrame]) -> DataFrame:
    """Rule-based data-quality EXPECTATIONS (the Great-Expectations /
    Deequ contract family — ``warehouse_dq_profile`` PROFILES a table;
    this ASSERTS on it, the gate a load runs before publishing): per
    rule, the violation count and a pass flag. Six production-shaped
    rules over orders: key uniqueness, FK non-null, value domain,
    positive amounts, date sanity, and referential integrity against
    customer (the one rule that needs a second table — spelled as a
    broadcast LEFT join null-probe, Deequ's isContainedIn-reference
    shape).

    Plan: five of the rules fold into ONE full-table aggregate
    (stack-melted); the RI rule adds one broadcast-probe aggregate —
    two scans total, no shuffle beyond the final 6-row union."""
    o, c = tables["orders"], tables["customer"]
    one_pass = o.agg(
        (F.count("*") - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("v_unique"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("v_notnull"),
        F.sum(F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0))
        .cast("long")
        .alias("v_domain"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("v_positive"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < "1990-01-01")
                | (F.col("o_orderdate") >= "2010-01-01"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("v_daterange"),
    )
    melted = one_pass.selectExpr(
        "stack(5, 'orderkey_unique', v_unique, 'custkey_not_null', v_notnull,"
        " 'status_in_domain', v_domain, 'totalprice_positive', v_positive,"
        " 'orderdate_in_range', v_daterange) AS (rule, n_violations)"
    )
    ri = (
        o.join(
            F.broadcast(c.select(F.col("c_custkey").alias("ck"))),
            o.o_custkey == F.col("ck"),
            "left",
        )
        .agg(
            F.sum(F.when(F.col("ck").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_violations")
        )
        .select(F.lit("custkey_in_customer").alias("rule"), "n_violations")
    )
    return melted.unionByName(ri).withColumn(
        "passed", F.col("n_violations") == 0
    )


_ANALYZE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")


def analyze_column_stats(tables: dict[str, DataFrame]) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS — the CBO stats
    collection every cost-based planner (Spark's own, Trino, Hive)
    schedules as table maintenance: per column, null count and NDV. The
    production path uses an HLL sketch for NDV (one pass, mergeable
    across partitions); the audit contract mirrors the uv family — the
    output carries the EXACT ndv (cross-engine hashable) plus ``ndv_ok``
    = sketch-vs-exact within the 5σ band, so a sketch regression flips a
    boolean the hash sees. All four columns' exact measures ride ONE
    full-table aggregate row, melted to per-column rows with ``stack``.

    Plan note (measured, sf0.1): mixing countDistinct and
    approx_count_distinct in the SAME aggregate makes the multi-distinct
    Expand rewrite carry an HLL++ buffer PER (gid, value) GROUP — ~250 k
    sketches through the exchange, 13 s for a 150 k-row table. The
    sketches ride as four 1-row scalar subqueries instead (1.9 s
    measured): the exact agg keeps its plain Expand, each sketch agg is
    its own scan with a single accumulator — at 100 TB still the right
    trade (sketch passes are scan-bound; sketch-per-group is
    memory-bound)."""
    o = tables["orders"]
    aggs = []
    for c in _ANALYZE_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"nulls_{c}"),
            F.countDistinct(c).cast("long").alias(f"ndv_{c}"),
        ]
    apx = {
        c: o.agg(F.approx_count_distinct(c, 0.02).alias("a")).scalar()
        for c in _ANALYZE_COLS
    }
    row = o.agg(*aggs).select(
        "*", *[apx[c].alias(f"apx_{c}") for c in _ANALYZE_COLS]
    )
    stack = ", ".join(
        f"'{c}', nulls_{c}, ndv_{c}, apx_{c}" for c in _ANALYZE_COLS
    )
    melted = row.selectExpr(
        f"stack({len(_ANALYZE_COLS)}, {stack})"
        " AS (column_name, n_nulls, ndv_exact, ndv_approx)"
    )
    rel_err = F.abs(F.col("ndv_approx") / F.col("ndv_exact") - 1.0)
    return melted.select(
        "column_name",
        "n_nulls",
        "ndv_exact",
        (rel_err <= 0.10).alias("ndv_ok"),
    )


def deletion_vector_report(tables: dict[str, DataFrame]) -> DataFrame:
    """Deletion-vector accounting — the merge-on-READ ledger (Iceberg v2
    position deletes / Delta deletion vectors): row-level deletes land as
    per-file bitmaps instead of rewrites, reads anti-join the bitmap, and
    a maintenance job rewrites a file once its dead fraction makes the
    read-side merge more expensive than the rewrite. This is the read
    path the rename-swap critique in VERDICT r2 points toward: deletes
    cost O(deleted), not O(table), until compaction. Synthetic DV:
    orderkey%13 rows are deleted everywhere, and even months carry an
    extra %3 purge wave (a GDPR-style cohort), so both sides of the
    rewrite threshold occur. Per (month, bucket) file: rows, deleted,
    live, dv_ratio (4dp), and the rewrite flag at ≥ 20% dead.

    Plan: one file-keyed partial agg over the facts — manifest-sized
    output; the report IS the compaction queue."""
    o = tables["orders"]
    k = F.col("o_orderkey")
    deleted = (k % 13 == 0) | ((F.month("o_orderdate") % 2 == 0) & (k % 3 == 0))
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    per = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("part_month"),
        (k % 16).alias("bucket"),
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.when(deleted, 1).otherwise(0)).cast("long").alias("n_deleted"),
    )
    ratio = F.col("n_deleted") / F.col("n_rows")
    return per.select(
        "part_month",
        "bucket",
        "n_rows",
        "n_deleted",
        (F.col("n_rows") - F.col("n_deleted")).alias("n_live"),
        r4(ratio).alias("dv_ratio"),
        (r4(ratio) >= 0.2).alias("rewrite"),
    )


def zonemap_prune_stats(tables: dict[str, DataFrame]) -> DataFrame:
    """Zone-map (min/max statistics) skipping effectiveness report — the
    read-side sibling of the layout planners (``warehouse_compaction_plan``
    sizes files, ``colocate_zorder_keys`` orders them; this MEASURES what
    the ordering buys): per candidate predicate ``o_totalprice > t``, how
    many of the synthetic (month, orderkey%16-bucket) files a scan could
    skip because the file's max never clears the threshold — exactly the
    row-group pruning parquet/ORC zone maps and Delta/Iceberg file stats
    perform. totalprice is UNCORRELATED with the bucket layout, so skip
    ratios stay near zero until the threshold passes most of the value
    mass — the negative result IS the report: it is the quantitative case
    for re-clustering (z-order) a column before relying on its stats.

    Plan: one (month, bucket)-keyed partial agg builds the stats manifest
    (file-count-sized, ~thousands of rows at any table size), thresholds
    explode from a literal array, and the evaluation joins manifest ×
    5 thresholds — never the base table. At 100 TB the manifest is the
    only thing read after the first pass, the same economics as a real
    table-format stats file."""
    o = tables["orders"]
    stats = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("part_month"),
        (F.col("o_orderkey") % 16).alias("bucket"),
    ).agg(
        F.count("*").alias("n_rows"),
        F.max("o_totalprice").alias("max_tp"),
    )
    # thresholds ride an exploded literal array (a 5-row cross JOIN would
    # plan BNLJ and trip the blanket no-cartesian gate for nothing)
    ev = stats.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.lit(t).cast("long")
                    for t in (10000, 50000, 100000, 200000, 300000)
                ]
            )
        ).alias("t"),
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return (
        ev.groupBy("t")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum(F.when(F.col("max_tp") <= F.col("t"), 1).otherwise(0))
            .cast("long")
            .alias("n_skipped"),
            F.sum(
                F.when(F.col("max_tp") <= F.col("t"), F.col("n_rows")).otherwise(0)
            )
            .cast("long")
            .alias("rows_skipped"),
        )
        .select(
            "t",
            "n_files",
            "n_skipped",
            "rows_skipped",
            r4(F.col("n_skipped") / F.col("n_files")).alias("skip_ratio"),
        )
    )


def ivm_incremental_agg(tables: dict[str, DataFrame]) -> DataFrame:
    """Incremental view maintenance of an aggregate — the delta-merge
    that keeps a (month, status) revenue rollup current WITHOUT
    re-scanning the base facts (the DBSP/Materialize move, and what a
    MERGE-maintained gold table does under the hood). The CDC batch is
    synthesized deterministically from orders: orderkey%4==0 rows are
    the INSERTS, %7==0 survivors are UPDATES (+10.00 price), %11==0
    survivors are DELETES — disjoint by construction. The maintainer
    folds the batch into per-group deltas (Δcount, Δcents) and merges
    them into the standing view; output = the touched groups with
    old/new values (a group born entirely from inserts has old 0).

    The oracle recomputes the post-change table FROM SCRATCH and
    aggregates — a fully independent algorithm, so the hash gate proves
    delta-merge == recompute. All money flows as integer cents (floor
    half-up at ingest), so base+delta vs full-sum can't drift a 2dp
    boundary apart.

    Plan: one scan builds the base view (groupBy partial agg), one scan
    builds the deltas; the merge joins two GROUP-sized frames — at
    100 TB the base facts are never re-read, which is the entire point
    vs the O(table) rename-swap sinks (``router.upsert_dim``)."""
    o = tables["orders"]
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")
    status = F.col("o_orderstatus").alias("status")
    base_view = (
        o.where(F.col("o_orderkey") % 4 != 0)
        .groupBy(month, status)
        .agg(
            F.count("*").alias("old_ct"),
            F.sum(cents).cast("long").alias("old_cents"),
        )
    )
    k = F.col("o_orderkey")
    op = (
        F.when(k % 4 == 0, F.lit("I"))
        .when(k % 7 == 0, F.lit("U"))
        .when(k % 11 == 0, F.lit("D"))
    )
    delta = (
        o.select(
            month,
            status,
            op.alias("op"),
            F.when(op == "I", 1).when(op == "D", -1).otherwise(0).alias("dct"),
            F.when(op == "I", cents)
            .when(op == "U", F.lit(1000))
            .when(op == "D", -cents)
            .alias("dcents"),
        )
        .where(F.col("op").isNotNull())
        .groupBy("month", "status")
        .agg(
            F.sum("dct").cast("long").alias("dct"),
            F.sum("dcents").cast("long").alias("dcents"),
        )
    )
    merged = delta.join(base_view, ["month", "status"], "left")
    old_ct = F.coalesce(F.col("old_ct"), F.lit(0)).cast("long")
    old_cents = F.coalesce(F.col("old_cents"), F.lit(0)).cast("long")
    return merged.select(
        "month",
        "status",
        old_ct.alias("old_ct"),
        (old_ct + F.col("dct")).cast("long").alias("new_ct"),
        (old_cents / 100.0).alias("old_rev"),
        ((old_cents + F.col("dcents")) / 100.0).alias("new_rev"),
    )


_BIDX_M = 1 << 14  # bits per partition filter
_BIDX_K = 4


def bloom_index_probe(tables: dict[str, DataFrame]) -> DataFrame:
    """Per-partition Bloom-filter POINT-LOOKUP index — the file-skipping
    structure parquet column bloom filters / Delta-Iceberg bloom indexes
    implement for predicates zone maps can't serve (``o_custkey = ?`` is
    invisible to min/max stats on an unclustered column — exactly the
    ``warehouse_zonemap_prune`` negative result, fixed). Per order-month
    partition: fold the DISTINCT custkeys into an m=2¹⁴-bit filter (k=4
    double-hashed probes from two md5-prefix words), then probe a
    deterministic key set (custkey ≡ 7 mod 199) and report per partition:
    bloom positives, exact positives, false positives, and the
    zero-false-negative guarantee measured, not assumed.

    The index NEVER leaves the cluster: bitsets live as (month, word, bits)
    rows and the probe is an equi-join on the word id — contrast with
    ``text_bloom_contamination`` where ONE filter broadcasts. This is the
    many-filters shape (one per partition; at 100 TB, one per file), so the
    join-side layout is the scalable one: probe keys × k words each, joined
    against the word table, no driver fold, no per-partition collect."""
    orders, customer = tables["orders"], tables["customer"]
    m, k = _BIDX_M, _BIDX_K
    ins = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("part_month"),
        F.col("o_custkey").alias("key"),
    ).distinct()

    def h12(key_col):
        md = F.md5(key_col.cast("string"))
        h1 = F.pmod(F.conv(F.substring(md, 1, 15), 16, 10).cast("long"), F.lit(m))
        h2 = F.pmod(F.conv(F.substring(md, 16, 15), 16, 10).cast("long"), F.lit(m))
        return h1, h2

    ih1, ih2 = h12(F.col("key"))
    ipos = ins.select(
        "part_month",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: F.pmod(ih1 + i * ih2, F.lit(m)),
            )
        ).alias("p"),
    )
    # localCheckpoint: the per-month word table is (months × ≤m/64)-sized
    # and feeds TWO consumers (the probe equi-join and the month census
    # below) — un-checkpointed, the month census re-derived the whole
    # distinct+explode+bit_or pipeline over orders as its own scan (r11;
    # plan had orders scanned 3×, now 2×).
    words = (
        ipos.select(
            "part_month",
            (F.col("p") / 64).cast("int").alias("w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("p") % 64).cast("int")
            ).alias("bit"),
        )
        .groupBy("part_month", "w")
        .agg(F.bit_or("bit").alias("bits"))
        .localCheckpoint()
    )
    # localCheckpoint: the deterministic probe-key sliver (custkey ≡ 7 mod
    # 199, ~0.5% of customer) feeds THREE consumers (ppos, the true-pair
    # broadcast, the n_keys scalar) — each re-scanned customer.
    probe = (
        customer.select(F.col("c_custkey").alias("key"))
        .where(F.col("key") % 199 == 7)
        .localCheckpoint()
    )
    ph1, ph2 = h12(F.col("key"))
    ppos = probe.select(
        "key",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: F.pmod(ph1 + i * ph2, F.lit(m)),
            )
        ).alias("i", "p"),
    ).select(
        "key",
        "i",
        (F.col("p") / 64).cast("int").alias("w"),
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), (F.col("p") % 64).cast("int")
        ).alias("bit"),
    )
    hits = (
        ppos.join(words, "w")
        .where(F.col("bits").bitwiseAND(F.col("bit")) != 0)
        .groupBy("part_month", "key")
        .agg(F.count("*").alias("n_set"))
        .where(F.col("n_set") == k)
        .select("part_month", "key", F.lit(True).alias("bloom_pos"))
    )
    true_pairs = ins.join(F.broadcast(probe), "key").select(
        "part_month", "key", F.lit(True).alias("is_true")
    )
    flags = hits.join(true_pairs, ["part_month", "key"], "full").fillna(
        False, ["bloom_pos", "is_true"]
    )
    # months via the CHECKPOINTED word table, not a third orders scan: every
    # distinct (part_month, key) row emits exactly k bloom positions (the
    # transform always yields k elements), so the word table's month set ==
    # ins's month set — an exact identity, oracle-gated.
    months = words.select("part_month").distinct()
    n_keys = probe.agg(F.count("*")).scalar()
    per_month = flags.groupBy("part_month").agg(
        F.sum(F.col("bloom_pos").cast("long")).alias("n_bloom_pos"),
        F.sum(F.col("is_true").cast("long")).alias("n_true"),
        F.sum((F.col("bloom_pos") & ~F.col("is_true")).cast("long")).alias("n_fp"),
        F.sum((F.col("is_true") & ~F.col("bloom_pos")).cast("long")).alias("n_fn"),
    )
    return (
        months.join(per_month, "part_month", "left")
        .fillna(0, ["n_bloom_pos", "n_true", "n_fp", "n_fn"])
        .select(
            "part_month",
            F.lit(n_keys).alias("n_probe_keys"),
            "n_bloom_pos",
            "n_true",
            "n_fp",
            (F.col("n_fn") == 0).alias("fn_free"),
        )
    )


def clustering_depth(tables: dict[str, DataFrame]) -> DataFrame:
    """Iceberg-style clustering-depth metric: for each partition, the MAX
    number of files whose [min,max] ranges of the sort column overlap at
    one point — depth 1 means file-level range pruning answers a point
    query with one file; depth = n_files means the stats are useless (scan
    everything). Measured for TWO layouts of the same order-month data:
    the write-task bucketing that exists (``o_orderkey % 16`` — custkey
    ranges interleave, worst case) and the re-clustered layout a z-order /
    sort-on-write pass would produce (16 custkey-rank slices). The paired
    rows quantify exactly what re-clustering buys — the positive half of
    ``warehouse_zonemap_prune``'s negative result.

    Depth is a classic sweep: +1 at each file's min, −1 after its max,
    starts before ends at ties (closed intervals), max running sum. The
    sweep runs over file BOUNDARIES (2·files rows per partition, manifest
    not data scale); intermediate running values at equal-key tie clusters
    depend on tie order, but the cluster's peak — the only thing reported —
    does not.

    Plan: one pass builds both inventories (month-keyed aggs), sweep
    windows run per (month, layout) over ~32 rows each. At 100 TB this
    reads the stats manifest, never the table."""
    orders = tables["orders"]
    month = F.date_format("o_orderdate", "yyyy-MM").alias("part_month")
    bucketed = (
        orders.groupBy(month, (F.col("o_orderkey") % 16).alias("file_id"))
        .agg(F.min("o_custkey").alias("lo"), F.max("o_custkey").alias("hi"))
        .select("part_month", F.lit("bucketed").alias("layout"), "lo", "hi")
    )
    wrk = Window.partitionBy("part_month").orderBy("o_custkey", "o_orderkey")
    ranked = orders.select(
        month, "o_custkey", "o_orderkey"
    ).withColumn("rn", F.row_number().over(wrk))
    wn = Window.partitionBy("part_month")
    clustered = (
        ranked.withColumn("n", F.count("*").over(wn))
        .withColumn(
            "file_id", F.floor((F.col("rn") - 1) * 16 / F.col("n")).cast("int")
        )
        .groupBy("part_month", "file_id")
        .agg(F.min("o_custkey").alias("lo"), F.max("o_custkey").alias("hi"))
        .select("part_month", F.lit("clustered").alias("layout"), "lo", "hi")
    )
    files = bucketed.unionByName(clustered)
    events = files.select(
        "part_month", "layout", F.col("lo").alias("pos"), F.lit(1).alias("ev")
    ).unionByName(
        files.select(
            "part_month", "layout", F.col("hi").alias("pos"), F.lit(-1).alias("ev")
        )
    )
    ws = (
        Window.partitionBy("part_month", "layout")
        .orderBy(F.col("pos"), F.col("ev").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = events.withColumn("depth", F.sum("ev").over(ws))
    return (
        swept.groupBy("part_month", "layout")
        .agg(
            (F.count("*") / 2).cast("long").alias("n_files"),
            F.max("depth").alias("depth_max"),
        )
    )


def partition_skew_report(tables: dict[str, DataFrame]) -> DataFrame:
    """Partition/file-size skew report over the shared ``_file_inventory``
    manifest — the health check that catches the hot partition before it
    melts a reducer (the write-side twin of AQE's runtime skew split):
    per order-month partition, file count, total bytes, the max/median
    file-size ratio, the largest file's share, and a file-size Gini
    (``serving_gini``'s rank form reused on bytes). Medians interpolate
    identically on both engines; every other number is an integer ratio
    pinned at 6dp.

    Plan: manifest-sized all the way — one partial agg builds the
    inventory, windows and one rollup run over (months × 16) rows."""
    files = _file_inventory(tables["orders"])
    wr = Window.partitionBy("part_month").orderBy("file_bytes", "bucket")
    ranked = files.withColumn("i", F.row_number().over(wr))
    r6 = round6
    agg = ranked.groupBy("part_month").agg(
        F.count("*").alias("n_files"),
        F.sum("file_bytes").alias("total_bytes"),
        F.max("file_bytes").alias("max_bytes"),
        F.percentile("file_bytes", F.lit(0.5)).alias("med_bytes"),
        F.sum((2 * F.col("i") - 1) * F.col("file_bytes")).alias("g_raw"),
    )
    n = F.col("n_files")
    gini = (F.col("g_raw") - n * F.col("total_bytes")) / (
        n * F.col("total_bytes")
    )
    return agg.select(
        "part_month",
        "n_files",
        "total_bytes",
        r6(F.col("max_bytes") / F.col("med_bytes")).alias("max_over_median"),
        r6(F.col("max_bytes") / F.col("total_bytes")).alias("top_share"),
        r6(gini).alias("gini_bytes"),
    )


# log10(1 + 1/d) in integer micros — pinned LITERALS on both engines (the
# IEEE constant-drift rule: never let two engines each compute the constant).
_BENFORD_MICRO = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def benford_audit(tables: dict[str, DataFrame]) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    forensic-accounting / data-fabrication screen (organic multiplicative
    amounts follow log10(1+1/d); fabricated or capped data doesn't).
    Per digit: observed count, observed vs expected share, and the
    deviation in integer micros with a 1.5-point suspicion flag. The
    expected shares are pinned micro literals on BOTH engines; the
    observed share is one exact integer division — the flag can't flake.

    Plan: one first-digit partial agg off the fact scan; 9 rows after."""
    o = tables["orders"]
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    wall = Window.partitionBy()
    total = F.sum("n").over(wall)
    obs_micro = F.floor(F.col("n") * 1000000 / total + F.lit(0.5)).cast("long")
    exp_micro = F.lit(None).cast("long")
    for d, m in _BENFORD_MICRO.items():
        exp_micro = F.when(F.col("digit") == d, F.lit(m)).otherwise(exp_micro)
    staged = counts.select(
        "digit",
        "n",
        obs_micro.alias("obs_micro"),
        exp_micro.alias("exp_micro"),
    )
    dev = F.abs(F.col("obs_micro") - F.col("exp_micro"))
    return staged.select(
        "digit",
        "n",
        (F.col("obs_micro") / 1000000.0).alias("obs_share"),
        (F.col("exp_micro") / 1000000.0).alias("exp_share"),
        dev.alias("dev_micro"),
        (dev > 15000).alias("suspicious"),
    )


def kanon_audit(tables: dict[str, DataFrame], k: int = 5) -> DataFrame:
    """k-anonymity / l-diversity audit — the privacy gate a table must
    pass before leaving the warehouse as a "de-identified" extract: group
    customers by the quasi-identifier (nation, market segment), and per
    equivalence class report its size, whether it meets k=5 (a class
    smaller than k re-identifies its members by QI alone), and the
    l-diversity of the sensitive attribute (distinct account-balance
    BANDS — a k-anonymous class where everyone shares one sensitive value
    still leaks it). Plus the suppression plan: rows that must be dropped
    or generalized to reach k. Exact integer counts end to end.

    Plan: one QI-grain agg off the customer scan (the nation dim
    broadcasts); the class table is domain-bounded (25 nations × 5
    segments)."""
    cust, nation = tables["customer"], tables["nation"]
    band = F.floor(F.col("c_acctbal") / 2000).cast("long")
    classes = (
        cust.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            cust.c_nationkey == nation.n_nationkey,
        )
        .groupBy(F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("class_size"),
            F.countDistinct(band).alias("l_diversity"),
        )
    )
    return classes.select(
        "nation",
        "segment",
        "class_size",
        (F.col("class_size") >= k).alias("k_anonymous"),
        "l_diversity",
        (F.col("l_diversity") >= 3).alias("l_diverse"),
        F.when(F.col("class_size") >= k, F.lit(0))
        .otherwise(F.col("class_size"))
        .cast("long")
        .alias("rows_to_suppress"),
    )


def data_masking(tables: dict[str, DataFrame]) -> DataFrame:
    """Deterministic format-preserving data masking — the de-identified-
    extract WRITER next to ``warehouse_kanon_audit``'s gate: customer
    names become 'Customer#' + a 12-digit md5-derived token (same shape
    as the original key format, stable across runs so joins on the masked
    extract still work — the property tokenization exists for), balances
    coarsen to 1000-unit bands, and direct identifiers drop. The output
    IS the masked extract; hash-gating it end-to-end pins the whole
    masking rule. Token collisions are birthday-bounded (~n²/2·10¹²) and
    deterministic — a real collision would show in both engines alike.

    Plan: one projection, zero shuffle."""
    cust = tables["customer"]
    tok = F.lpad(
        F.pmod(
            F.conv(F.substring(F.md5("c_name"), 1, 12), 16, 10).cast("long"),
            F.lit(1_000_000_000_000),
        ).cast("string"),
        12,
        "0",
    )
    band = (F.floor(F.col("c_acctbal") / 1000) * 1000).cast("long")
    return cust.select(
        F.concat(F.lit("Customer#"), tok).alias("masked_name"),
        F.col("c_mktsegment").alias("segment"),
        band.alias("acctbal_band"),
    )


QUERIES = {
    "warehouse_dp_counts": dp_noisy_counts,
    "warehouse_late_arriving": late_arriving_facts,
    "warehouse_data_masking": data_masking,
    "warehouse_kanon_audit": kanon_audit,
    "warehouse_benford_audit": benford_audit,
    "warehouse_partition_skew": partition_skew_report,
    "warehouse_bloom_index": bloom_index_probe,
    "warehouse_clustering_depth": clustering_depth,
    "warehouse_deletion_vectors": deletion_vector_report,
    "warehouse_dq_expectations": dq_expectations,
    "warehouse_analyze_stats": analyze_column_stats,
    "warehouse_zonemap_prune": zonemap_prune_stats,
    "warehouse_ivm_agg": ivm_incremental_agg,
    "warehouse_compaction_plan": compaction_plan,
    "warehouse_vacuum_orphans": vacuum_orphans,
    "warehouse_dq_profile": dq_profile_events,
    "warehouse_snapshot_diff": snapshot_diff_demo,
    "warehouse_delete_cascade": delete_cascade,
}

ORACLES = {
    # Same derandomized inverse-CDF Laplace draw from the 16-bit md5 of
    # the group key; released value floors to an integer and clips at 0.
    "warehouse_dp_counts": """
        WITH agg AS (
            SELECT event_type, count(*)::BIGINT AS n FROM events GROUP BY 1
        ),
        drawn AS (
            SELECT event_type, n,
                   (('0x' || substr(md5('dp:' || event_type), 1, 4))
                      ::UBIGINT::BIGINT::DOUBLE + 0.5) / 65536.0 AS u
            FROM agg
        )
        SELECT event_type,
               greatest(0, floor(n + (-1.0 * sign(u - 0.5)
                                      * ln(1.0 - 2.0 * abs(u - 0.5)))
                                 + 0.5))::BIGINT AS released_count,
               1.0 AS epsilon, 1::BIGINT AS sensitivity
        FROM drawn
    """,
    # Same synthesized %13 delayed subset; running event-time max over
    # (arrival_us, event_id) order; exact integer delays.
    "warehouse_late_arriving": """
        WITH base AS (
            SELECT event_id, epoch_us(ts)::BIGINT AS us,
                   (epoch_us(ts) + CASE WHEN event_id % 13 = 0
                                        THEN 600000000 ELSE 0 END)::BIGINT AS arrival_us,
                   date_trunc('day', ts)::DATE AS day
            FROM events
        ),
        tagged AS (
            SELECT day, us,
                   max(us) OVER (ORDER BY arrival_us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING)::BIGINT AS rm
            FROM base
        )
        SELECT day::VARCHAR AS day, count(*)::BIGINT AS n_facts,
               sum(CASE WHEN us < rm THEN 1 ELSE 0 END)::BIGINT AS n_late,
               max(CASE WHEN us < rm THEN rm - us ELSE 0 END)::BIGINT AS max_delay_us,
               floor(sum(CASE WHEN us < rm THEN 1 ELSE 0 END)::DOUBLE
                     / count(*)::DOUBLE * 1000000 + 0.5) / 1000000 AS late_rate
        FROM tagged GROUP BY day
    """,
    # Same md5-derived token surgery and band coarsening; the extract
    # itself is the gated artifact.
    "warehouse_data_masking": """
        SELECT 'Customer#' || lpad(
                   ((('0x' || substr(md5(c_name), 1, 12))::UBIGINT
                     % 1000000000000)::BIGINT)::VARCHAR, 12, '0')
                   AS masked_name,
               c_mktsegment AS segment,
               (floor(c_acctbal / 1000) * 1000)::BIGINT AS acctbal_band
        FROM customer
    """,
    # Same QI grain, same banded sensitive attribute, exact counts.
    "warehouse_kanon_audit": """
        WITH c AS (
            SELECT n.n_name AS nation, c_mktsegment AS segment,
                   count(*)::BIGINT AS class_size,
                   count(DISTINCT floor(c_acctbal / 2000)::BIGINT)::BIGINT
                       AS l_diversity
            FROM customer JOIN nation n ON c_nationkey = n_nationkey
            GROUP BY 1, 2
        )
        SELECT nation, segment, class_size,
               (class_size >= 5) AS k_anonymous,
               l_diversity,
               (l_diversity >= 3) AS l_diverse,
               (CASE WHEN class_size >= 5 THEN 0
                     ELSE class_size END)::BIGINT AS rows_to_suppress
        FROM c
    """,
    # Same pinned expected-share micros (a CASE literal table), same
    # integer observed-share division and deviation flag.
    "warehouse_benford_audit": """
        WITH c AS (
            SELECT substr(floor(o_totalprice * 100 + 0.5)::BIGINT::VARCHAR,
                          1, 1)::INT AS digit,
                   count(*)::BIGINT AS n
            FROM orders GROUP BY 1
        ),
        s AS (
            SELECT digit, n,
                   floor(n * 1000000 / ((sum(n) OVER ())::DOUBLE)
                         + 0.5)::BIGINT AS obs_micro,
                   CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
                        WHEN 3 THEN 124939 WHEN 4 THEN 96910
                        WHEN 5 THEN 79181 WHEN 6 THEN 66947
                        WHEN 7 THEN 57992 WHEN 8 THEN 51153
                        WHEN 9 THEN 45757 END::BIGINT AS exp_micro
            FROM c
        )
        SELECT digit, n,
               obs_micro / 1000000.0 AS obs_share,
               exp_micro / 1000000.0 AS exp_share,
               abs(obs_micro - exp_micro)::BIGINT AS dev_micro,
               (abs(obs_micro - exp_micro) > 15000) AS suspicious
        FROM s
    """,
    # Same inventory (120·rows bytes), same ascending (bytes, bucket) rank
    # Gini, quantile_cont == percentile for the median.
    "warehouse_partition_skew": """
        WITH f AS (
            SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
                       AS part_month,
                   o_orderkey % 16 AS bucket,
                   (count(*) * 120)::BIGINT AS file_bytes
            FROM orders GROUP BY 1, 2
        ),
        rk AS (
            SELECT part_month, file_bytes,
                   row_number() OVER (PARTITION BY part_month
                                      ORDER BY file_bytes, bucket) AS i
            FROM f
        ),
        a AS (
            SELECT part_month, count(*)::BIGINT AS n_files,
                   sum(file_bytes)::BIGINT AS total_bytes,
                   max(file_bytes)::BIGINT AS max_bytes,
                   quantile_cont(file_bytes, 0.5) AS med_bytes,
                   sum((2 * i - 1) * file_bytes)::BIGINT AS g_raw
            FROM rk GROUP BY 1
        )
        SELECT part_month, n_files, total_bytes,
               floor(max_bytes / med_bytes * 1000000 + 0.5) / 1000000
                   AS max_over_median,
               floor(max_bytes / total_bytes * 1000000 + 0.5) / 1000000
                   AS top_share,
               floor((g_raw - n_files * total_bytes)
                     / ((n_files * total_bytes))::DOUBLE * 1000000 + 0.5)
                   / 1000000 AS gini_bytes
        FROM a
    """,
    # Membership replayed as a position-set join (the bloom oracle pattern):
    # every inserted key's k probe positions per month vs every probe key's
    # k positions; count(*) = k over the join IS the all-bits-set test.
    "warehouse_bloom_index": f"""
        WITH ins AS (
            SELECT DISTINCT strftime(date_trunc('month', o_orderdate),
                                     '%Y-%m') AS part_month,
                   o_custkey AS key
            FROM orders
        ),
        ipos AS (
            SELECT DISTINCT part_month, (h1 + r.i * h2) % {_BIDX_M} AS p
            FROM (
                SELECT part_month,
                       (('0x' || substr(md5(key::VARCHAR), 1, 15))::UBIGINT
                            % {_BIDX_M})::BIGINT AS h1,
                       (('0x' || substr(md5(key::VARCHAR), 16, 15))::UBIGINT
                            % {_BIDX_M})::BIGINT AS h2
                FROM ins
            ), range({_BIDX_K}) r(i)
        ),
        probe AS (
            SELECT c_custkey AS key FROM customer WHERE c_custkey % 199 = 7
        ),
        ppos AS (
            SELECT key, r.i AS i, (h1 + r.i * h2) % {_BIDX_M} AS p
            FROM (
                SELECT key,
                       (('0x' || substr(md5(key::VARCHAR), 1, 15))::UBIGINT
                            % {_BIDX_M})::BIGINT AS h1,
                       (('0x' || substr(md5(key::VARCHAR), 16, 15))::UBIGINT
                            % {_BIDX_M})::BIGINT AS h2
                FROM probe
            ), range({_BIDX_K}) r(i)
        ),
        hits AS (
            SELECT part_month, key
            FROM ppos JOIN ipos USING (p)
            GROUP BY 1, 2
            HAVING count(*) = {_BIDX_K}
        ),
        tp AS (
            SELECT part_month, key FROM ins JOIN probe USING (key)
        ),
        flags AS (
            SELECT coalesce(h.part_month, t.part_month) AS part_month,
                   (h.key IS NOT NULL) AS bloom_pos,
                   (t.key IS NOT NULL) AS is_true
            FROM hits h FULL JOIN tp t
                 ON h.part_month = t.part_month AND h.key = t.key
        ),
        per AS (
            SELECT part_month,
                   sum(CASE WHEN bloom_pos THEN 1 ELSE 0 END)::BIGINT
                       AS n_bloom_pos,
                   sum(CASE WHEN is_true THEN 1 ELSE 0 END)::BIGINT AS n_true,
                   sum(CASE WHEN bloom_pos AND NOT is_true
                            THEN 1 ELSE 0 END)::BIGINT AS n_fp,
                   sum(CASE WHEN is_true AND NOT bloom_pos
                            THEN 1 ELSE 0 END)::BIGINT AS n_fn
            FROM flags GROUP BY 1
        )
        SELECT m.part_month,
               (SELECT count(*) FROM probe)::BIGINT AS n_probe_keys,
               coalesce(n_bloom_pos, 0)::BIGINT AS n_bloom_pos,
               coalesce(n_true, 0)::BIGINT AS n_true,
               coalesce(n_fp, 0)::BIGINT AS n_fp,
               coalesce(n_fn, 0) = 0 AS fn_free
        FROM (SELECT DISTINCT part_month FROM ins) m
        LEFT JOIN per ON m.part_month = per.part_month
    """,
    # Same two layouts, same closed-interval sweep (starts before ends at
    # ties via ORDER BY pos, ev DESC); only the tie-cluster PEAK is read.
    "warehouse_clustering_depth": """
        WITH b AS (
            SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
                       AS part_month,
                   'bucketed' AS layout, o_orderkey % 16 AS file_id,
                   min(o_custkey) AS lo, max(o_custkey) AS hi
            FROM orders GROUP BY 1, 2, 3
        ),
        rk AS (
            SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
                       AS part_month,
                   o_custkey,
                   row_number() OVER (
                       PARTITION BY strftime(date_trunc('month', o_orderdate),
                                             '%Y-%m')
                       ORDER BY o_custkey, o_orderkey) AS rn,
                   count(*) OVER (
                       PARTITION BY strftime(date_trunc('month', o_orderdate),
                                             '%Y-%m')) AS n
            FROM orders
        ),
        c AS (
            SELECT part_month, 'clustered' AS layout,
                   ((rn - 1) * 16 // n)::INT AS file_id,
                   min(o_custkey) AS lo, max(o_custkey) AS hi
            FROM rk GROUP BY 1, 2, 3
        ),
        files AS (SELECT * FROM b UNION ALL SELECT * FROM c),
        ev AS (
            SELECT part_month, layout, lo AS pos, 1 AS e FROM files
            UNION ALL
            SELECT part_month, layout, hi AS pos, -1 AS e FROM files
        ),
        sw AS (
            SELECT part_month, layout,
                   sum(e) OVER (PARTITION BY part_month, layout
                                ORDER BY pos, e DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS depth
            FROM ev
        )
        SELECT part_month, layout, (count(*) // 2)::BIGINT AS n_files,
               max(depth)::BIGINT AS depth_max
        FROM sw GROUP BY 1, 2
    """,
    # Same six rules, violation counts recomputed independently.
    "warehouse_dq_expectations": """
        SELECT 'orderkey_unique' AS rule,
               (count(*) - count(DISTINCT o_orderkey))::BIGINT
                   AS n_violations,
               (count(*) - count(DISTINCT o_orderkey)) = 0 AS passed
        FROM orders
        UNION ALL
        SELECT 'custkey_not_null',
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0
        FROM orders
        UNION ALL
        SELECT 'status_in_domain',
               sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                        THEN 1 ELSE 0 END)::BIGINT,
               sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                        THEN 1 ELSE 0 END) = 0
        FROM orders
        UNION ALL
        SELECT 'totalprice_positive',
               sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)::BIGINT,
               sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) = 0
        FROM orders
        UNION ALL
        SELECT 'orderdate_in_range',
               sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                             OR o_orderdate >= TIMESTAMP '2010-01-01'
                        THEN 1 ELSE 0 END)::BIGINT,
               sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                             OR o_orderdate >= TIMESTAMP '2010-01-01'
                        THEN 1 ELSE 0 END) = 0
        FROM orders
        UNION ALL
        SELECT 'custkey_in_customer',
               sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
               sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) = 0
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    # Exact ndv/null recomputed per column; TRUE audits the sketch band.
    "warehouse_analyze_stats": """
        SELECT 'o_orderkey' AS column_name,
               sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_nulls,
               count(DISTINCT o_orderkey)::BIGINT AS ndv_exact,
               TRUE AS ndv_ok
        FROM orders
        UNION ALL
        SELECT 'o_custkey',
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
               count(DISTINCT o_custkey)::BIGINT, TRUE
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus',
               sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
               count(DISTINCT o_orderstatus)::BIGINT, TRUE
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority',
               sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                   ::BIGINT,
               count(DISTINCT o_orderpriority)::BIGINT, TRUE
        FROM orders
    """,
    # Same synthetic DV rule, ratio 4dp, flag on the rounded ratio.
    "warehouse_deletion_vectors": """
        WITH per AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS part_month,
                   o_orderkey % 16 AS bucket,
                   count(*)::BIGINT AS n_rows,
                   sum(CASE WHEN o_orderkey % 13 = 0
                                 OR (month(o_orderdate) % 2 = 0
                                     AND o_orderkey % 3 = 0)
                            THEN 1 ELSE 0 END)::BIGINT AS n_deleted
            FROM orders GROUP BY 1, 2
        )
        SELECT part_month, bucket, n_rows, n_deleted,
               (n_rows - n_deleted)::BIGINT AS n_live,
               floor(n_deleted / n_rows * 10000 + 0.5) / 10000 AS dv_ratio,
               floor(n_deleted / n_rows * 10000 + 0.5) / 10000 >= 0.2
                   AS rewrite
        FROM per
    """,
    # Same (month, bucket) manifest, same max<=t skip rule, ratio 4dp.
    "warehouse_zonemap_prune": """
        WITH stats AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS part_month,
                   o_orderkey % 16 AS bucket,
                   count(*)::BIGINT AS n_rows,
                   max(o_totalprice) AS max_tp
            FROM orders GROUP BY 1, 2
        ),
        ev AS (
            SELECT s.*, t.t
            FROM stats s,
                 (SELECT unnest([10000, 50000, 100000, 200000, 300000]
                         ::BIGINT[]) AS t) t
        )
        SELECT t,
               count(*)::BIGINT AS n_files,
               sum(CASE WHEN max_tp <= t THEN 1 ELSE 0 END)::BIGINT
                   AS n_skipped,
               sum(CASE WHEN max_tp <= t THEN n_rows ELSE 0 END)::BIGINT
                   AS rows_skipped,
               floor(sum(CASE WHEN max_tp <= t THEN 1 ELSE 0 END)
                     / count(*) * 10000 + 0.5) / 10000 AS skip_ratio
        FROM ev GROUP BY t
    """,
    # Independent algorithm: recompute the post-change table from scratch
    # (inserts present, updates +1000 cents, deletes absent), aggregate,
    # and report the groups the change batch touched; integer cents
    # throughout, /100.0 only at the edge.
    "warehouse_ivm_agg": """
        WITH c AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS month,
                   o_orderstatus AS status, o_orderkey AS k,
                   floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
            FROM orders
        ),
        base AS (
            SELECT month, status, count(*)::BIGINT AS old_ct,
                   sum(cents)::BIGINT AS old_cents
            FROM c WHERE k % 4 != 0 GROUP BY 1, 2
        ),
        final_rows AS (
            SELECT month, status,
                   CASE WHEN k % 4 != 0 AND k % 7 = 0 THEN cents + 1000
                        ELSE cents END AS cents
            FROM c
            WHERE k % 4 = 0
               OR NOT (k % 7 != 0 AND k % 11 = 0)
        ),
        final AS (
            SELECT month, status, count(*)::BIGINT AS new_ct,
                   sum(cents)::BIGINT AS new_cents
            FROM final_rows GROUP BY 1, 2
        ),
        touched AS (
            SELECT DISTINCT month, status FROM c
            WHERE k % 4 = 0 OR k % 7 = 0 OR k % 11 = 0
        )
        SELECT t.month, t.status,
               coalesce(b.old_ct, 0)::BIGINT AS old_ct,
               coalesce(f.new_ct, 0)::BIGINT AS new_ct,
               coalesce(b.old_cents, 0) / 100.0 AS old_rev,
               coalesce(f.new_cents, 0) / 100.0 AS new_rev
        FROM touched t
        LEFT JOIN base b ON b.month = t.month AND b.status = t.status
        LEFT JOIN final f ON f.month = t.month AND f.status = t.status
    """,
    "warehouse_vacuum_orphans": """
        WITH cur AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS part_month,
                   o_orderkey % 16 AS bucket,
                   (count(*) * 120)::BIGINT AS file_bytes
            FROM orders GROUP BY 1, 2
        ),
        old AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS part_month,
                   o_orderkey % 16 AS bucket,
                   (count(*) * 120)::BIGINT AS file_bytes
            FROM orders WHERE o_orderstatus = 'F' GROUP BY 1, 2
        ),
        manifest AS (
            SELECT part_month, bucket, file_bytes,
                   CASE WHEN substr(part_month, 6, 2)::INT % 2 = 0
                        THEN 1 ELSE 0 END AS gen
            FROM cur
        ),
        orphans AS (
            SELECT o.part_month, o.bucket, o.file_bytes
            FROM old o
            LEFT JOIN manifest m
              ON m.part_month = o.part_month AND m.bucket = o.bucket
                 AND m.gen = 0
            WHERE m.part_month IS NULL
        ),
        live AS (
            SELECT part_month, count(*)::BIGINT AS n_live,
                   sum(file_bytes)::BIGINT AS live_bytes
            FROM manifest GROUP BY 1
        ),
        orph AS (
            SELECT part_month, count(*)::BIGINT AS n_orphans,
                   sum(file_bytes)::BIGINT AS orphan_bytes
            FROM orphans GROUP BY 1
        )
        SELECT l.part_month, l.n_live, l.live_bytes,
               coalesce(o.n_orphans, 0)::BIGINT AS n_orphans,
               coalesce(o.orphan_bytes, 0)::BIGINT AS orphan_bytes,
               coalesce(o.n_orphans, 0) > 0 AS needs_vacuum
        FROM live l LEFT JOIN orph o ON o.part_month = l.part_month
    """,
    "warehouse_compaction_plan": """
        WITH files AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS part_month,
                   o_orderkey % 16 AS bucket,
                   (count(*) * 120)::BIGINT AS file_bytes
            FROM orders GROUP BY 1, 2
        ),
        parts AS (
            SELECT part_month, count(*)::BIGINT AS n_files,
                   sum(file_bytes)::BIGINT AS total_bytes
            FROM files GROUP BY 1
        )
        SELECT part_month, n_files, total_bytes,
               (total_bytes // n_files)::BIGINT AS avg_file_bytes,
               greatest(ceil(total_bytes / 4096.0)::BIGINT, 1) AS target_files,
               n_files > greatest(ceil(total_bytes / 4096.0)::BIGINT, 1)
                   AS needs_compaction,
               CASE WHEN n_files > greatest(ceil(total_bytes / 4096.0)::BIGINT, 1)
                    THEN n_files - greatest(ceil(total_bytes / 4096.0)::BIGINT, 1)
                    ELSE 0 END AS files_saved
        FROM parts
    """,
    "warehouse_dq_profile": """
        SELECT c.col_name,
               (SELECT count(*) FROM events)::BIGINT AS n_rows,
               c.n_null::BIGINT AS n_null,
               floor(c.n_null * 1000000.0 / (SELECT count(*) FROM events) + 0.5)
                   / 1000000 AS null_frac,
               c.n_distinct::BIGINT AS n_distinct
        FROM (
            SELECT 'event_id' AS col_name,
                   sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS n_null,
                   count(DISTINCT event_id) AS n_distinct FROM events
            UNION ALL
            SELECT 'ts', sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END),
                   count(DISTINCT ts) FROM events
            UNION ALL
            SELECT 'user_id', sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END),
                   count(DISTINCT user_id) FROM events
            UNION ALL
            SELECT 'event_type', sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END),
                   count(DISTINCT event_type) FROM events
            UNION ALL
            SELECT 'value', sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END),
                   count(DISTINCT value) FROM events
            UNION ALL
            SELECT 'props', sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END),
                   count(DISTINCT props) FROM events
        ) c
    """,
    "warehouse_snapshot_diff": """
        WITH v2 AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN text || ' [v2]' ELSE text END AS text
            FROM documents WHERE doc_id % 10 != 0
            UNION ALL
            SELECT -(doc_id + 1), text FROM documents WHERE doc_id % 13 = 0
        ),
        o AS (SELECT doc_id AS k, md5(text) AS oh FROM documents),
        n AS (SELECT doc_id AS k, md5(text) AS nh FROM v2)
        SELECT coalesce(o.k, n.k) AS doc_id,
               CASE WHEN o.oh IS NULL THEN 'added'
                    WHEN n.nh IS NULL THEN 'removed'
                    WHEN o.oh != n.nh THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM o FULL OUTER JOIN n ON o.k = n.k
    """,
    "warehouse_delete_cascade": """
        WITH victims AS (SELECT c_custkey FROM customer WHERE c_custkey % 997 = 0),
        dead_orders AS (
            SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM victims)
        )
        SELECT 'customer' AS table_name,
               (SELECT count(*) FROM victims)::BIGINT AS rows_deleted,
               (SELECT count(*) FROM customer)::BIGINT AS rows_total,
               ((SELECT count(*) FROM customer) - (SELECT count(*) FROM victims))::BIGINT AS rows_kept
        UNION ALL
        SELECT 'orders',
               (SELECT count(*) FROM dead_orders)::BIGINT,
               (SELECT count(*) FROM orders)::BIGINT,
               ((SELECT count(*) FROM orders) - (SELECT count(*) FROM dead_orders))::BIGINT
        UNION ALL
        SELECT 'lineitem',
               (SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM dead_orders))::BIGINT,
               (SELECT count(*) FROM lineitem)::BIGINT,
               ((SELECT count(*) FROM lineitem)
                - (SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM dead_orders)))::BIGINT
    """,
}


def row_policy_audit(tables: dict[str, DataFrame]) -> DataFrame:
    """Row-level-security policy audit — the governance sibling of
    ``warehouse_data_masking`` (that one masks COLUMNS; this scopes ROWS):
    each region name acts as a role whose policy filter is "customers in
    my region's nations" (the textbook multi-tenant RLS predicate over a
    dim chain), and the audit reports what each role can actually see —
    visible row count, nation spread, exact key + balance-cents checksums
    — plus a measured ``__unassigned__`` row counting customers whose
    nation maps to NO region (must be 0; an actual anti-join, not an
    assumption, so a broken policy chain trips the gate).

    Plan: customer scan ⋈ broadcast(nation) ⋈ broadcast(region) — the
    constant-size dims broadcast, the fact table never shuffles; the audit
    agg is region-keyed (5 rows)."""
    c = tables["customer"]
    n = tables["nation"]
    r = tables["region"]
    vis = c.join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    ).join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    per_role = vis.groupBy(F.col("r_name").alias("role")).agg(
        F.count("*").cast("long").alias("n_visible"),
        F.countDistinct("n_nationkey").cast("long").alias("n_nations"),
        F.sum("c_custkey").cast("long").alias("sum_custkey"),
        F.sum(F.floor(F.col("c_acctbal") * 100 + 0.5)).cast("long").alias("bal_cents"),
    )
    orphan = (
        c.join(
            F.broadcast(n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])),
            c["c_nationkey"] == n["n_nationkey"],
            "left_anti",
        )
        .agg(
            F.lit("__unassigned__").alias("role"),
            F.count("*").cast("long").alias("n_visible"),
            F.lit(0).cast("long").alias("n_nations"),
            F.coalesce(F.sum("c_custkey"), F.lit(0)).cast("long").alias("sum_custkey"),
            F.coalesce(
                F.sum(F.floor(F.col("c_acctbal") * 100 + 0.5)), F.lit(0)
            ).cast("long").alias("bal_cents"),
        )
    )
    return per_role.unionByName(orphan)


QUERIES["warehouse_row_policy_audit"] = row_policy_audit
ORACLES["warehouse_row_policy_audit"] = """
    WITH vis AS (
        SELECT r.r_name AS role, c.c_custkey, c.c_acctbal, n.n_nationkey
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    roles AS (
        SELECT role, count(*)::BIGINT AS n_visible,
               count(DISTINCT n_nationkey)::BIGINT AS n_nations,
               sum(c_custkey)::BIGINT AS sum_custkey,
               sum(floor(c_acctbal * 100 + 0.5))::BIGINT AS bal_cents
        FROM vis GROUP BY role
    ),
    orphan AS (
        SELECT '__unassigned__' AS role, count(*)::BIGINT AS n_visible,
               0::BIGINT AS n_nations,
               coalesce(sum(c_custkey), 0)::BIGINT AS sum_custkey,
               coalesce(sum(floor(c_acctbal * 100 + 0.5)), 0)::BIGINT AS bal_cents
        FROM customer c
        WHERE c.c_nationkey NOT IN (
            SELECT n.n_nationkey FROM nation n
            JOIN region r ON n.n_regionkey = r.r_regionkey
        )
    )
    SELECT * FROM roles UNION ALL SELECT * FROM orphan
"""


def merge_upsert(tables: dict[str, DataFrame]) -> DataFrame:
    """SQL MERGE semantics (upsert-in-place) emulated on plain parquet —
    the third warehouse write primitive next to SCD2 history
    (``cdc_scd2_history``: versioned) and IVM (``warehouse_ivm_agg``:
    aggregate maintenance): one change batch applied to a snapshot with
    WHEN MATCHED AND deleted → DELETE / WHEN MATCHED → UPDATE / WHEN NOT
    MATCHED → INSERT, spelled as ONE full-outer join + CASE — exactly how
    an engine without a transactional table format executes MERGE
    (copy-on-write). The change batch derives deterministically from the
    snapshot itself: every custkey % 17 == 0 is a delete, % 3 == 0 (and
    not deleted) an update (segment → 'UPDATED', balance +10.00), and 50
    synthetic keys above the max are inserts — all three MERGE arms are
    provably exercised, and the post-merge summary (per-segment counts,
    key checksum, balance cents) pins the entire result state.

    Plan: one key-keyed full-outer join (equi, no skew) + a segment-keyed
    agg; at scale this is the standard copy-on-write MERGE shape — the
    snapshot scan is the only corpus-sized work."""
    c = tables["customer"]
    max_key = c.agg(F.max("c_custkey").cast("long").alias("m")).scalar()
    base = c.select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias("bal_cents"),
    )
    upd = base.where(
        (F.col("c_custkey") % 3 == 0) & (F.col("c_custkey") % 17 != 0)
    ).select(
        "c_custkey",
        F.lit("UPDATED").alias("n_seg"),
        (F.col("bal_cents") + 1000).alias("n_bal"),
        F.lit("U").alias("op"),
    )
    dele = base.where(F.col("c_custkey") % 17 == 0).select(
        "c_custkey",
        F.lit(None).cast("string").alias("n_seg"),
        F.lit(None).cast("long").alias("n_bal"),
        F.lit("D").alias("op"),
    )
    ins = (
        c.sparkSession.range(1, 51)
        .select(
            (F.col("id") + max_key).alias("c_custkey"),
            F.lit("INSERTED").alias("n_seg"),
            (F.col("id") * 100).cast("long").alias("n_bal"),
            F.lit("I").alias("op"),
        )
    )
    changes = upd.unionByName(dele).unionByName(ins)
    merged = (
        base.join(changes, "c_custkey", "full")
        .where((F.col("op").isNull()) | (F.col("op") != "D"))
        .select(
            "c_custkey",
            F.coalesce("n_seg", "c_mktsegment").alias("segment"),
            F.coalesce("n_bal", "bal_cents").cast("long").alias("bal_cents"),
        )
    )
    return merged.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("c_custkey").cast("long").alias("sum_keys"),
        F.sum("bal_cents").cast("long").alias("sum_bal_cents"),
    )


QUERIES["warehouse_merge_upsert"] = merge_upsert
ORACLES["warehouse_merge_upsert"] = """
    WITH base AS (
        SELECT c_custkey, c_mktsegment,
               floor(c_acctbal * 100 + 0.5)::BIGINT AS bal_cents
        FROM customer
    ),
    mx AS (SELECT max(c_custkey) AS m FROM base),
    changes AS (
        SELECT c_custkey, 'UPDATED' AS n_seg, bal_cents + 1000 AS n_bal, 'U' AS op
        FROM base WHERE c_custkey % 3 = 0 AND c_custkey % 17 != 0
        UNION ALL
        SELECT c_custkey, NULL, NULL, 'D' FROM base WHERE c_custkey % 17 = 0
        UNION ALL
        SELECT (SELECT m FROM mx) + i, 'INSERTED', i * 100, 'I'
        FROM (SELECT unnest(range(1, 51)) AS i)
    ),
    merged AS (
        SELECT coalesce(b.c_custkey, ch.c_custkey) AS c_custkey,
               coalesce(ch.n_seg, b.c_mktsegment) AS segment,
               coalesce(ch.n_bal, b.bal_cents)::BIGINT AS bal_cents
        FROM base b FULL JOIN changes ch ON b.c_custkey = ch.c_custkey
        WHERE ch.op IS NULL OR ch.op != 'D'
    )
    SELECT segment, count(*)::BIGINT AS n_rows,
           sum(c_custkey)::BIGINT AS sum_keys,
           sum(bal_cents)::BIGINT AS sum_bal_cents
    FROM merged GROUP BY segment
"""


def histogram_equiheight(tables: dict[str, DataFrame], n_buckets: int = 8) -> DataFrame:
    """Equi-height (equi-depth) column histogram — the CBO statistic behind
    range-selectivity estimates (Spark's own ``ANALYZE TABLE ... FOR
    COLUMNS`` builds exactly this shape; reference warehouses ship it as
    table stats). Over ``o_totalprice`` cents: ``n_buckets`` buckets of
    (near-)equal row count with per-bucket lower/upper endpoints, exact
    row count, and exact NDV.

    Built WITHOUT a global per-row sort: counts collapse to the DISTINCT
    value domain first (value-keyed agg), a value-domain running sum
    assigns each distinct value its global rank span [lo, hi], and rank
    arithmetic maps spans onto buckets — bucket(r) = ceil((B·r − B + 1)/n)
    with pure integer ceil-division on both engines. A value straddling a
    boundary contributes its exact rank overlap to each side. Row counts
    per bucket therefore reproduce the textbook ceil(i·n/B) boundaries
    bit-for-bit while the only window runs over the value DOMAIN (price
    cents), never the row count — the 100 TB shape (a row-ranked
    row_number would be one global single-partition sort).

    Reference parity: CBO stats collection (ANALYZE), gmall's ADS-layer
    profiling; sibling of ``warehouse_analyze_stats`` (NDV sketches)."""
    o = tables["orders"]
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    vals = o.select(cents.alias("v")).groupBy("v").agg(
        F.count("*").cast("long").alias("ct")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    spans = vals.select(
        "v",
        "ct",
        F.sum("ct").over(w).cast("long").alias("hi"),
    ).select(
        "v", "ct", (F.col("hi") - F.col("ct") + 1).alias("lo"), "hi"
    )
    n_total = F.sum("ct").over(Window.partitionBy())
    b = F.lit(int(n_buckets)).cast("long")
    # bucket(r) = ceil((B*r - B + 1) / n) via the (a + n - 1 - mod) integer
    # ceil idiom (all terms positive; exact on both engines)
    def _ceil_div(a, n):
        # decimal(38,0) division, not `/` (double): the mod-subtracted
        # numerator is exactly divisible, and decimal keeps it exact past
        # 2^53 rows — the docstring's integer-ceil claim, kept honest
        num = a + n - F.lit(1)
        return (
            (num - num % n).cast("decimal(38,0)") / n.cast("decimal(38,0)")
        ).cast("long")

    spanned = spans.withColumn("n", n_total.cast("long")).select(
        "v",
        "ct",
        "lo",
        "hi",
        "n",
        _ceil_div(b * F.col("lo") - b + 1, F.col("n")).alias("b_lo"),
        _ceil_div(b * F.col("hi") - b + 1, F.col("n")).alias("b_hi"),
    )
    per_bucket = (
        spanned.select(
            "v", "ct", "lo", "hi", "n",
            F.explode(F.sequence("b_lo", "b_hi")).alias("bucket"),
        )
        .select(
            "bucket",
            "v",
            "n",
            # bucket i covers ranks (ceil((i-1)n/B), ceil(in/B)]
            (
                F.least(F.col("hi"), _ceil_div(F.col("bucket") * F.col("n"), b))
                - F.greatest(
                    F.col("lo"),
                    _ceil_div((F.col("bucket") - 1) * F.col("n"), b) + 1,
                )
                + 1
            ).alias("rows_in"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("ndv"),
            F.sum("rows_in").cast("long").alias("n_rows"),
            F.min("v").alias("lo_cents"),
            F.max("v").alias("hi_cents"),
        )
    )
    return per_bucket.select(
        F.col("bucket").cast("long"), "n_rows", "ndv", "lo_cents", "hi_cents"
    )


QUERIES["warehouse_histogram_equiheight"] = histogram_equiheight
# Replays the same value-domain rank-span algebra; the boundary law is the
# textbook ceil(i*n/B) so per-bucket n_rows is fully determined (ties
# straddling a boundary contribute identical values to both sides — the
# bucket's value multiset is tie-order invariant).
ORACLES["warehouse_histogram_equiheight"] = """
    WITH vals AS (
        SELECT floor(o_totalprice * 100 + 0.5)::BIGINT AS v,
               count(*)::BIGINT AS ct
        FROM orders GROUP BY 1
    ),
    spans AS (
        SELECT v, ct,
               sum(ct) OVER (ORDER BY v)::BIGINT AS hi,
               (sum(ct) OVER (ORDER BY v) - ct + 1)::BIGINT AS lo,
               (sum(ct) OVER ())::BIGINT AS n
        FROM vals
    ),
    spanned AS (
        SELECT v, ct, lo, hi, n,
               (8 * lo - 7 + n - 1) // n AS b_lo,
               (8 * hi - 7 + n - 1) // n AS b_hi
        FROM spans
    ),
    pb AS (
        SELECT unnest(range(b_lo, b_hi + 1)) AS bucket, v, lo, hi, n
        FROM spanned
    )
    SELECT bucket::BIGINT AS bucket,
           sum(least(hi, (bucket * n + 7) // 8)
               - greatest(lo, ((bucket - 1) * n + 7) // 8 + 1) + 1)::BIGINT
               AS n_rows,
           count(*)::BIGINT AS ndv,
           min(v) AS lo_cents,
           max(v) AS hi_cents
    FROM pb GROUP BY 1
"""


def _tt_resolve(spark, manifest_dir: str, asof: int) -> str:
    """Manifest resolution: latest committed snapshot with version ≤ asof
    (the Iceberg/Delta time-travel contract). The manifest is a tiny
    commit log — reading it is a driver-side metadata lookup, exactly
    like a table format's snapshot list."""
    rows = (
        spark.read.parquet(manifest_dir)
        .where(F.col("version") <= asof)
        .orderBy(F.col("version").desc())
        .limit(1)
        .collect()
    )
    return rows[0]["path"]


def time_travel(tables: dict[str, DataFrame]) -> DataFrame:
    """Snapshot time travel — VERSION AS OF over a copy-on-write table:
    three committed snapshots (base, an update batch, a delete batch)
    land as immutable directories behind a manifest commit log, and the
    SAME query runs against each historical version through the manifest
    resolver. This is the read-side contract ``warehouse_snapshot_diff``
    (which diffs two versions) and ``warehouse_merge_upsert`` (which
    builds one) both assume: old versions stay byte-identical after new
    commits. Any resolver defect (wrong max-version-≤ pick, a v3 write
    disturbing v1 files) moves a historical aggregate the oracle computes
    independently per version.

    Scale: snapshots are full columnar tables (copy-on-write); the
    manifest read is metadata-only; the three as-of scans are ordinary
    pruned parquet scans — time travel costs nothing at read time beyond
    the snapshot's own size."""
    c = tables["customer"]
    spark = c.sparkSession
    root = _scratch(prefix="tt_tbl_")
    base = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
    )
    v1 = base
    v2 = v1.select(
        "c_custkey",
        "segment",
        F.when(F.col("c_custkey") % 3 == 0, F.col("bal_cents") + 1000)
        .otherwise(F.col("bal_cents"))
        .alias("bal_cents"),
    )
    v3 = v2.where(F.col("c_custkey") % 17 != 0)
    paths = {}
    for ver, df in ((1, v1), (2, v2), (3, v3)):
        p = f"{root}/v{ver}"
        df.write.mode("overwrite").parquet(p)
        paths[ver] = p
    manifest_dir = f"{root}/_manifest"
    import pandas as pd

    # pandas/Arrow input, NOT a python-list createDataFrame — the latter is
    # RDD-backed with defaultParallelism partitions (32-task fan-out per
    # action for a 3-row manifest; the io.one_row_df lesson)
    spark.createDataFrame(
        pd.DataFrame(
            {"version": list(paths), "path": [paths[v] for v in paths]}
        ),
        "version int, path string",
    ).coalesce(1).write.mode("overwrite").parquet(manifest_dir)

    reads = []
    for asof in (1, 2, 3):
        snap = spark.read.parquet(_tt_resolve(spark, manifest_dir, asof))
        reads.append(
            snap.groupBy(F.lit(asof).cast("long").alias("version")).agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("bal_cents").cast("long").alias("sum_bal_cents"),
                F.countDistinct("segment").cast("long").alias("n_segments"),
            )
        )
    out = reads[0]
    for r in reads[1:]:
        out = out.unionByName(r)
    return out


QUERIES["warehouse_time_travel"] = time_travel
# Independent per-version replay of the three snapshot definitions.
ORACLES["warehouse_time_travel"] = """
    WITH base AS (
        SELECT c_custkey, c_mktsegment AS segment,
               floor(c_acctbal * 100 + 0.5)::BIGINT AS bal_cents
        FROM customer
    ),
    v2 AS (
        SELECT c_custkey, segment,
               CASE WHEN c_custkey % 3 = 0 THEN bal_cents + 1000
                    ELSE bal_cents END AS bal_cents
        FROM base
    ),
    v3 AS (SELECT * FROM v2 WHERE c_custkey % 17 != 0)
    SELECT 1::BIGINT AS version, count(*)::BIGINT AS n_rows,
           sum(bal_cents)::BIGINT AS sum_bal_cents,
           count(DISTINCT segment)::BIGINT AS n_segments
    FROM base
    UNION ALL
    SELECT 2, count(*)::BIGINT, sum(bal_cents)::BIGINT,
           count(DISTINCT segment)::BIGINT FROM v2
    UNION ALL
    SELECT 3, count(*)::BIGINT, sum(bal_cents)::BIGINT,
           count(DISTINCT segment)::BIGINT FROM v3
"""


def fk_inference(tables: dict[str, DataFrame]) -> DataFrame:
    """Foreign-key discovery by containment profiling — the cross-table
    half of data profiling (``dq_profile`` audits one table; THIS scores
    candidate child→parent column pairs the way schema-inference tools
    (Metanome/HoPF-style) rank FK candidates): per candidate, the child's
    distinct-value count, how many of those values exist in the parent
    column, the containment ratio, and whether the parent side is unique
    (a real FK target must be a key). Four true TPC-H FKs must score
    containment 10⁶; a deliberately wrong candidate
    (orders.o_orderkey → customer.c_custkey) documents what failure
    looks like.

    Plan: each candidate is ONE distinct-projected left join (child
    distinct values vs parent distinct values — key-domain sized, never
    row-domain), unioned; parent uniqueness rides the same parent scan."""
    cands = [
        ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_orderkey->customer.c_custkey", "orders", "o_orderkey", "customer", "c_custkey"),
    ]
    # Parent-key stats: ONE collected (count, countDistinct) pass per
    # UNIQUE parent column instead of two scalar subqueries per candidate
    # (r11 — the subquery pair replayed the parent scan per use and per
    # boolean: 20 scans / 20 subqueries in the plan; customer was profiled
    # twice for its two candidates). The containment joins stay a lazy
    # 5-branch union so they evaluate concurrently in the one action.
    from concurrent.futures import ThreadPoolExecutor

    uniq = []
    for _, _, _, pt, pc in cands:
        if (pt, pc) not in uniq:
            uniq.append((pt, pc))

    def _pstats(pt: str, pc: str) -> bool:
        r = (
            tables[pt]
            .agg(
                F.count("*").cast("long").alias("a"),
                F.countDistinct(pc).cast("long").alias("d"),
            )
            .collect()[0]
        )
        return int(r["a"]) == int(r["d"])

    # 4-thread pool (the medallion pattern): sequential collects measured
    # 1.62 -> 2.06 s (the basket_triangles serialization trap); pooled,
    # the four profile passes overlap like the old subqueries did.
    with ThreadPoolExecutor(max_workers=len(uniq)) as pool:
        futs = {k: pool.submit(_pstats, *k) for k in uniq}
        parent_stats = {k: f.result() for k, f in futs.items()}
    outs = []
    for name, ct, cc, pt, pc in cands:
        child = tables[ct].select(F.col(cc).alias("v")).distinct()
        parent = tables[pt].select(F.col(pc).alias("v")).distinct()
        joined = child.join(
            parent.withColumn("hit", F.lit(1)), "v", "left"
        ).agg(
            F.count("*").cast("long").alias("child_distinct"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("contained"),
        )
        outs.append(
            joined.select(
                F.lit(name).alias("candidate"),
                "child_distinct",
                "contained",
                F.floor(
                    F.col("contained").cast("double")
                    / F.col("child_distinct").cast("double")
                    * 1000000
                    + 0.5
                ).cast("long").alias("containment_micro"),
                F.lit(parent_stats[(pt, pc)]).alias("parent_unique"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


QUERIES["warehouse_fk_inference"] = fk_inference
ORACLES["warehouse_fk_inference"] = """
    WITH pairs AS (
        SELECT 'orders.o_custkey->customer.c_custkey' AS candidate,
               (SELECT count(DISTINCT o_custkey) FROM orders) AS child_distinct,
               (SELECT count(DISTINCT o.o_custkey) FROM orders o
                WHERE EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS contained,
               (SELECT count(*) = count(DISTINCT c_custkey) FROM customer)
                   AS parent_unique
        UNION ALL
        SELECT 'lineitem.l_orderkey->orders.o_orderkey',
               (SELECT count(DISTINCT l_orderkey) FROM lineitem),
               (SELECT count(DISTINCT l.l_orderkey) FROM lineitem l
                WHERE EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)),
               (SELECT count(*) = count(DISTINCT o_orderkey) FROM orders)
        UNION ALL
        SELECT 'lineitem.l_partkey->part.p_partkey',
               (SELECT count(DISTINCT l_partkey) FROM lineitem),
               (SELECT count(DISTINCT l.l_partkey) FROM lineitem l
                WHERE EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey)),
               (SELECT count(*) = count(DISTINCT p_partkey) FROM part)
        UNION ALL
        SELECT 'lineitem.l_suppkey->supplier.s_suppkey',
               (SELECT count(DISTINCT l_suppkey) FROM lineitem),
               (SELECT count(DISTINCT l.l_suppkey) FROM lineitem l
                WHERE EXISTS (SELECT 1 FROM supplier s
                              WHERE s.s_suppkey = l.l_suppkey)),
               (SELECT count(*) = count(DISTINCT s_suppkey) FROM supplier)
        UNION ALL
        SELECT 'orders.o_orderkey->customer.c_custkey',
               (SELECT count(DISTINCT o_orderkey) FROM orders),
               (SELECT count(DISTINCT o.o_orderkey) FROM orders o
                WHERE EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_orderkey)),
               (SELECT count(*) = count(DISTINCT c_custkey) FROM customer)
    )
    SELECT candidate, child_distinct::BIGINT AS child_distinct,
           contained::BIGINT AS contained,
           floor(contained::DOUBLE / child_distinct::DOUBLE * 1000000
                 + 0.5)::BIGINT AS containment_micro,
           parent_unique
    FROM pairs
"""


def mcv_stats(tables: dict[str, DataFrame]) -> DataFrame:
    """Most-common-values statistics + selectivity audit — the MCV side of
    the CBO stats surface (``analyze_column_stats`` gates NDV/nulls,
    ``histogram_equiheight`` gates range stats; MCV lists are the third
    leg every optimizer keeps: Postgres pg_stats.most_common_vals, Spark
    CBO's histogram+NDV hybrid). Per profiled column: the top-5 values by
    exact frequency (ties broken by value — deterministic), and the
    audit the MCV list exists FOR — the uniform-remainder estimate
    est_other = (n − Σ mcv_freq) / (ndv − 5) that a CBO assigns to any
    non-MCV equality predicate, scored against the held-out 6th value:
    abs_err_x_den = |probe_freq·(ndv−5) − (n − Σ mcv)| stays a pure
    integer (the ×denominator form avoids the division), est_other
    itself is round6-pinned.

    Scale: each column contributes one value-keyed pre-agg (map-side
    combined); the rank window partitions on col_name over the ALREADY
    collapsed value domain — rows per partition = NDV, never table rows."""
    parts = tables["part"]
    cust = tables["customer"]
    cols = [
        parts.select(F.lit("p_brand").alias("col_name"), F.col("p_brand").cast("string").alias("val")),
        parts.select(F.lit("p_type").alias("col_name"), F.col("p_type").cast("string").alias("val")),
        cust.select(F.lit("c_nationkey").alias("col_name"), F.col("c_nationkey").cast("string").alias("val")),
    ]
    melted = cols[0]
    for c in cols[1:]:
        melted = melted.unionByName(c)
    counts = melted.groupBy("col_name", "val").agg(
        F.count("*").cast("long").alias("freq")
    )
    wp = Window.partitionBy("col_name")
    ranked = counts.select(
        "col_name",
        "val",
        "freq",
        F.row_number()
        .over(wp.orderBy(F.col("freq").desc(), F.col("val")))
        .alias("rnk"),
    ).select(
        "*",
        F.count("*").over(wp).cast("long").alias("ndv"),
        F.sum("freq").over(wp).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("rnk") <= 5, F.col("freq")).otherwise(0))
        .over(wp)
        .cast("long")
        .alias("mcv_mass"),
        F.coalesce(
            F.max(F.when(F.col("rnk") == 6, F.col("freq"))).over(wp), F.lit(0)
        )
        .cast("long")
        .alias("probe_freq"),
    )
    return ranked.where(F.col("rnk") <= 5).select(
        "col_name",
        "rnk",
        "val",
        "freq",
        "ndv",
        "n_rows",
        "probe_freq",
        F.when(
            F.col("ndv") > 5,
            round6(
                (F.col("n_rows") - F.col("mcv_mass")).cast("double")
                / (F.col("ndv") - 5).cast("double")
            ),
        ).alias("est_other"),
        F.when(
            F.col("ndv") > 5,
            F.abs(
                F.col("probe_freq") * (F.col("ndv") - 5)
                - (F.col("n_rows") - F.col("mcv_mass"))
            ),
        ).cast("long").alias("abs_err_x_den"),
    )


QUERIES["warehouse_mcv_stats"] = mcv_stats
ORACLES["warehouse_mcv_stats"] = """
    WITH melted AS (
        SELECT 'p_brand' AS col_name, p_brand::VARCHAR AS val FROM part
        UNION ALL
        SELECT 'p_type', p_type::VARCHAR FROM part
        UNION ALL
        SELECT 'c_nationkey', c_nationkey::VARCHAR FROM customer
    ),
    counts AS (
        SELECT col_name, val, count(*)::BIGINT AS freq
        FROM melted GROUP BY 1, 2
    ),
    ranked AS (
        SELECT col_name, val, freq,
               row_number() OVER (PARTITION BY col_name
                                  ORDER BY freq DESC, val) AS rnk,
               count(*) OVER (PARTITION BY col_name)::BIGINT AS ndv,
               sum(freq) OVER (PARTITION BY col_name)::BIGINT AS n_rows
        FROM counts
    ),
    audit AS (
        SELECT col_name,
               sum(CASE WHEN rnk <= 5 THEN freq ELSE 0 END)::BIGINT AS mcv_mass,
               coalesce(max(CASE WHEN rnk = 6 THEN freq END), 0)::BIGINT
                   AS probe_freq
        FROM ranked GROUP BY 1
    )
    SELECT r.col_name, r.rnk::INT AS rnk, r.val, r.freq, r.ndv, r.n_rows,
           a.probe_freq,
           CASE WHEN r.ndv > 5
                THEN floor((r.n_rows - a.mcv_mass)::DOUBLE
                           / (r.ndv - 5)::DOUBLE * 1000000 + 0.5) / 1000000
           END AS est_other,
           CASE WHEN r.ndv > 5
                THEN abs(a.probe_freq * (r.ndv - 5)
                         - (r.n_rows - a.mcv_mass))
           END::BIGINT AS abs_err_x_den
    FROM ranked r JOIN audit a USING (col_name)
    WHERE r.rnk <= 5
"""


def dynamic_overwrite(tables: dict[str, DataFrame]) -> DataFrame:
    """Dynamic partition overwrite — the INSERT OVERWRITE semantics every
    day-partitioned lake table depends on (``source_partition_prune``
    gates the partitioned READ; this gates the WRITER): a restatement
    batch touching a subset of partitions must replace ONLY those
    partitions, leaving the rest byte-identical. Spark's static mode
    (the default) would DROP every untouched day — the oracle's expected
    state breaks loudly if the dynamic option regresses.

    Day-partitioned write of all events, then a restatement of the last 3
    days (ALL their rows, with purchase rows re-priced ×2 — restating the
    full day keeps every hot partition present in the written frame, so
    the dynamic writer's semantics stay decidable even on a day with no
    purchases), written with ``partitionOverwriteMode=dynamic``; the
    read-back rolls up per day class. Scale: both writes are day-partitioned (partition count =
    calendar days); the restatement shuffles only its own days."""
    ev = tables["events"]
    spark = ev.sparkSession
    out = _scratch(prefix="dynover_")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    base = ev.select(
        "event_id",
        "event_type",
        cents.alias("cents"),
        F.date_format("ts", "yyyyMMdd").alias("day"),
    )
    base.write.mode("overwrite").partitionBy("day").parquet(out)
    days = [r[0] for r in base.select("day").distinct().collect()]
    hot = sorted(days)[-3:]
    restated = base.where(F.col("day").isin(hot)).select(
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("cents") * 2)
        .otherwise(F.col("cents"))
        .alias("cents"),
        "day",
    )
    restated.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("day").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy(
        F.when(F.col("day").isin(hot), F.lit("restated"))
        .otherwise(F.lit("untouched"))
        .alias("day_class")
    ).agg(
        F.count_distinct("day").cast("long").alias("n_days"),
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("cents"),
    )


QUERIES["warehouse_dynamic_overwrite"] = dynamic_overwrite
# Expected post-restatement state replayed from events: the last 3 days
# hold all their rows with purchases doubled; every other day is the
# original batch.
ORACLES["warehouse_dynamic_overwrite"] = """
    WITH base AS (
        SELECT event_id, event_type,
               floor(value * 100 + 0.5)::BIGINT AS cents,
               strftime(ts, '%Y%m%d') AS day
        FROM events
    ),
    hot AS (
        SELECT DISTINCT day FROM base ORDER BY day DESC LIMIT 3
    ),
    state AS (
        SELECT day, event_type, cents FROM base
        WHERE day NOT IN (SELECT day FROM hot)
        UNION ALL
        SELECT day, event_type,
               CASE WHEN event_type = 'purchase' THEN cents * 2
                    ELSE cents END
        FROM base WHERE day IN (SELECT day FROM hot)
    )
    SELECT CASE WHEN day IN (SELECT day FROM hot) THEN 'restated'
                ELSE 'untouched' END AS day_class,
           count(DISTINCT day)::BIGINT AS n_days,
           count(*)::BIGINT AS n_rows,
           sum(cents)::BIGINT AS cents
    FROM state GROUP BY 1
"""


def wap_publish(tables: dict[str, DataFrame]) -> DataFrame:
    """Write-Audit-Publish — the lakehouse promotion flow Iceberg/Netflix
    popularized (``warehouse_dq_expectations`` ASSERTS rules; this gates
    the FLOW those rules guard): a batch lands in a STAGING dir, the audit
    splits it against the expectation suite, clean rows get PUBLISHED and
    violations land in a QUARANTINE dir with a reason column — and the
    returned report reads every number back FROM THE PUBLISHED/QUARANTINE
    FILES, so a broken split, a dropped row, or a write that leaked dirty
    rows into the published table breaks the oracle hash.

    The staged batch is events with deterministic injected corruption
    (event_id % 37 == 0 → negated amount; % 41 == 0 → unknown type;
    % 43 == 0 → nulled user) — the same artifact-injection discipline as
    ``pii_redact``. Rows failing several rules quarantine under the FIRST
    failing reason (checked in a fixed order — deterministic).

    Plan: one staging write, one audit scan splitting via a single CASE
    reason column, two filtered writes, two read-back rollups. All
    day-partitionable at scale; the audit is a stateless projection."""
    ev = tables["events"]
    spark = ev.sparkSession
    root = _scratch(prefix="wap_")
    staging, published, quarantine = (
        f"{root}/staging",
        f"{root}/published",
        f"{root}/quarantine",
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    staged = ev.select(
        "event_id",
        F.when(F.col("event_id") % 43 == 0, F.lit(None)).otherwise(
            F.col("user_id")
        ).alias("user_id"),
        F.when(F.col("event_id") % 41 == 0, F.lit("mystery")).otherwise(
            F.col("event_type")
        ).alias("event_type"),
        F.when(F.col("event_id") % 37 == 0, -cents).otherwise(cents).alias(
            "cents"
        ),
    )
    staged.write.mode("overwrite").parquet(staging)
    back = spark.read.parquet(staging)
    reason = (
        F.when(F.col("cents") < 0, F.lit("negative_amount"))
        .when(
            ~F.col("event_type").isin(
                "signup", "error", "click", "view", "purchase"
            ),
            F.lit("unknown_type"),
        )
        .when(F.col("user_id").isNull(), F.lit("null_user"))
    )
    audited = back.withColumn("reason", reason)
    audited.where(F.col("reason").isNull()).drop("reason").write.mode(
        "overwrite"
    ).parquet(published)
    audited.where(F.col("reason").isNotNull()).write.mode(
        "overwrite"
    ).parquet(quarantine)
    pub = (
        spark.read.parquet(published)
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(F.lit("published").alias("bucket"), "n_rows", "cents")
    )
    quar = (
        spark.read.parquet(quarantine)
        .groupBy(F.concat(F.lit("quarantine:"), F.col("reason")).alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    return pub.unionByName(quar)


QUERIES["warehouse_wap_publish"] = wap_publish
# Expected split replayed from events with the same injection + the same
# first-failing-reason order.
ORACLES["warehouse_wap_publish"] = """
    WITH staged AS (
        SELECT event_id,
               CASE WHEN event_id % 43 = 0 THEN NULL
                    ELSE user_id END AS user_id,
               CASE WHEN event_id % 41 = 0 THEN 'mystery'
                    ELSE event_type END AS event_type,
               CASE WHEN event_id % 37 = 0
                    THEN -floor(value * 100 + 0.5)::BIGINT
                    ELSE floor(value * 100 + 0.5)::BIGINT END AS cents
        FROM events
    ),
    audited AS (
        SELECT *,
               CASE WHEN cents < 0 THEN 'negative_amount'
                    WHEN event_type NOT IN ('signup', 'error', 'click',
                                            'view', 'purchase')
                         THEN 'unknown_type'
                    WHEN user_id IS NULL THEN 'null_user'
               END AS reason
        FROM staged
    )
    SELECT 'published' AS bucket, count(*)::BIGINT AS n_rows,
           sum(cents)::BIGINT AS cents
    FROM audited WHERE reason IS NULL
    UNION ALL
    SELECT 'quarantine:' || reason, count(*)::BIGINT, sum(cents)::BIGINT
    FROM audited WHERE reason IS NOT NULL
    GROUP BY 1
"""


def accumulating_snapshot(tables: dict[str, DataFrame]) -> DataFrame:
    """Kimball ACCUMULATING-SNAPSHOT fact — the order lifecycle widened to
    one row per order with its milestone dates (placed → first ship →
    last ship) and lag columns, then rolled to a per-priority fulfilment
    profile: order volumes, mean days-to-first-ship and ship-window span
    (micro-pinned), the max span, and the share fully shipped within 30
    days — the warehouse modeling pattern for pipeline/fulfilment
    processes (vs the transaction grain every other fact query uses;
    reference gmall only ships transaction + periodic-snapshot shapes).

    Exactness: milestone dates are exact min/max; day lags are exact
    date arithmetic; only the mean/share emit through pinned divisions.

    Scale: one orderkey-keyed rollup of lineitem (the natural shuffle),
    one broadcast-joined orders probe, one |priorities|-row agg."""
    li = tables["lineitem"]
    o = tables["orders"]
    ms = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
        F.count("*").cast("long").alias("n_lines"),
    )
    wide = ms.join(
        o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "o_orderpriority",
        "n_lines",
        F.datediff("first_ship", "o_orderdate").cast("long").alias("d_first"),
        F.datediff("last_ship", "first_ship").cast("long").alias("d_span"),
    )
    return wide.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("n_lines").cast("long").alias("n_lines"),
        F.floor(
            F.sum("d_first").cast("double") / F.count("*").cast("double") * 1000000
            + 0.5
        ).cast("long").alias("mean_days_to_first_ship_micro"),
        F.floor(
            F.sum("d_span").cast("double") / F.count("*").cast("double") * 1000000
            + 0.5
        ).cast("long").alias("mean_ship_span_micro"),
        F.max("d_span").cast("long").alias("max_ship_span_days"),
        F.floor(
            F.sum(
                F.when(F.col("d_first") + F.col("d_span") <= 30, 1).otherwise(0)
            ).cast("double")
            / F.count("*").cast("double")
            * 1000000
            + 0.5
        ).cast("long").alias("within_30d_share_micro"),
    )


QUERIES["warehouse_accumulating_snapshot"] = accumulating_snapshot
ORACLES["warehouse_accumulating_snapshot"] = """
    WITH ms AS (
        SELECT l_orderkey, min(l_shipdate) AS first_ship,
               max(l_shipdate) AS last_ship, count(*)::BIGINT AS n_lines
        FROM lineitem GROUP BY 1
    ),
    wide AS (
        SELECT o.o_orderpriority AS priority, ms.n_lines,
               date_diff('day', o.o_orderdate::DATE, ms.first_ship::DATE)
                   ::BIGINT AS d_first,
               date_diff('day', ms.first_ship::DATE, ms.last_ship::DATE)
                   ::BIGINT AS d_span
        FROM ms JOIN orders o ON ms.l_orderkey = o.o_orderkey
    )
    SELECT priority, count(*)::BIGINT AS n_orders,
           sum(n_lines)::BIGINT AS n_lines,
           floor(sum(d_first)::DOUBLE / count(*)::DOUBLE * 1000000
                 + 0.5)::BIGINT AS mean_days_to_first_ship_micro,
           floor(sum(d_span)::DOUBLE / count(*)::DOUBLE * 1000000
                 + 0.5)::BIGINT AS mean_ship_span_micro,
           max(d_span)::BIGINT AS max_ship_span_days,
           floor(sum(CASE WHEN d_first + d_span <= 30 THEN 1 ELSE 0 END)
                 ::DOUBLE / count(*)::DOUBLE * 1000000 + 0.5)::BIGINT
               AS within_30d_share_micro
    FROM wide GROUP BY priority
"""


def scd2_integrity(tables: dict[str, DataFrame]) -> DataFrame:
    """SCD2 interval-INTEGRITY audit — the dbt-style quality contract on
    the versioned dim `cdc_scd2_history` builds: per key, validity
    intervals must be (1) non-overlapping, (2) gap-free (each version's
    valid_to equals the next valid_from), (3) carry AT MOST one open
    (is_current) row, and keys whose history ends in a delete carry
    exactly zero. A broken SCD2 builder (out-of-order closes, duplicate
    opens) flips the violation counts, which the hash pins at their
    structural values (all zeros on a correct builder, plus the exact
    deleted-key census).

    Exactness: pure interval/set algebra over exact BIGINT ts.

    Scale: the history build's own key-partitioned window; the audit
    adds a lag comparison on the same partitioning (one Exchange total)
    and a key-keyed rollup."""
    from flink_210225_spark.operators.router import scd2_demo

    hist = scd2_demo(tables)
    w = Window.partitionBy("custkey").orderBy("valid_from")
    ann = hist.select(
        "custkey",
        "valid_from",
        "valid_to",
        F.col("is_current").cast("int").alias("cur"),
        F.lag("valid_to").over(w).alias("prev_to"),
    )
    per_key = ann.groupBy("custkey").agg(
        F.count("*").cast("long").alias("n_versions"),
        F.sum("cur").cast("long").alias("n_open"),
        F.sum(
            F.when(
                F.col("prev_to").isNotNull()
                & (F.col("valid_from") < F.col("prev_to")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_overlaps"),
        F.sum(
            F.when(
                F.col("prev_to").isNotNull()
                & (F.col("valid_from") > F.col("prev_to")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_gaps"),
    )
    return per_key.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n_versions").cast("long").alias("n_versions"),
        F.sum("n_overlaps").cast("long").alias("overlap_violations"),
        F.sum("n_gaps").cast("long").alias("gap_violations"),
        F.sum(F.when(F.col("n_open") > 1, 1).otherwise(0))
        .cast("long")
        .alias("multi_open_keys"),
        F.sum(F.when(F.col("n_open") == 0, 1).otherwise(0))
        .cast("long")
        .alias("closed_out_keys"),
    )


QUERIES["warehouse_scd2_integrity"] = scd2_integrity
# Replays the same change stream + SCD2 build, then the same interval
# audit; closed_out_keys must equal the %1000 delete census (keys with
# at least one surviving version — every such key got an insert at ts 0).
ORACLES["warehouse_scd2_integrity"] = """
    WITH changes AS (
        SELECT c_custkey AS custkey, 'insert' AS type, 0::BIGINT AS ts
        FROM customer
        UNION ALL
        SELECT o_custkey, 'update',
               date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT
               * 10000000000 + o_orderkey
        FROM orders
        UNION ALL
        SELECT c_custkey, 'delete', 1000000000000000::BIGINT
        FROM customer WHERE c_custkey % 1000 = 0
    ),
    closed AS (
        SELECT custkey, type, ts AS valid_from,
               lead(ts) OVER (PARTITION BY custkey ORDER BY ts) AS valid_to
        FROM changes
    ),
    hist AS (SELECT * FROM closed WHERE type != 'delete'),
    ann AS (
        SELECT custkey, valid_from, valid_to,
               CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS cur,
               lag(valid_to) OVER (PARTITION BY custkey ORDER BY valid_from)
                   AS prev_to
        FROM hist
    ),
    per_key AS (
        SELECT custkey, count(*)::BIGINT AS n_versions,
               sum(cur)::BIGINT AS n_open,
               sum(CASE WHEN prev_to IS NOT NULL AND valid_from < prev_to
                        THEN 1 ELSE 0 END)::BIGINT AS n_overlaps,
               sum(CASE WHEN prev_to IS NOT NULL AND valid_from > prev_to
                        THEN 1 ELSE 0 END)::BIGINT AS n_gaps
        FROM ann GROUP BY custkey
    )
    SELECT count(*)::BIGINT AS n_keys,
           sum(n_versions)::BIGINT AS n_versions,
           sum(n_overlaps)::BIGINT AS overlap_violations,
           sum(n_gaps)::BIGINT AS gap_violations,
           sum(CASE WHEN n_open > 1 THEN 1 ELSE 0 END)::BIGINT
               AS multi_open_keys,
           sum(CASE WHEN n_open = 0 THEN 1 ELSE 0 END)::BIGINT
               AS closed_out_keys
    FROM per_key
"""


def medallion_recon(tables: dict[str, DataFrame]) -> DataFrame:
    """Medallion row-count RECONCILIATION — the bronze→silver→gold
    accounting every lakehouse runbook demands: bronze = raw events;
    silver = typed rows that survive quality gates (parseable props,
    non-negative value, event_type in the known domain) MINUS
    within-day duplicates on (user, type, value); gold = the daily
    rollup. Every bronze row must be accounted for: silver + each
    rejection-reason census must telescope back to bronze, and gold's
    row mass must equal silver's (sum of n = silver count) — the
    emitted ledger makes silent row loss arithmetically impossible
    (the cross-LAYER sibling of ``cdc_state_reconciliation``'s
    cross-ALGORITHM check; reference gmall's ods→dwd→dws layering had
    no such ledger).

    Exactness: pure counts; the dedup census is exact (count −
    distinct).

    Scale: one scan with conditional aggregation for the censuses, one
    (user, type, value, day)-keyed dedup, one day-keyed gold agg."""
    ev = tables["events"]
    known = ("click", "view", "purchase", "signup", "error")
    parsed = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.to_date("ts").alias("day"),
        F.get_json_object("props", "$.k").isNotNull().alias("props_ok"),
        (F.col("value") >= 0).alias("value_ok"),
        F.col("event_type").isin(*known).alias("type_ok"),
    )
    # THREE explicit passes instead of eight scalar SUBQUERIES (r11, guide
    # §1.2/§2.4): each .scalar() embedded its own subquery in the final
    # 1-row plan and ReuseSubquery deduplicated none of them — the plan
    # scanned events 17× (the censuses once each, the clean→silver→gold
    # chain re-derived per scalar; measured 2.4 s vs ~1.1 s pin). The five
    # bronze-side censuses fold into ONE conditional aggregate (they were
    # always mutually exclusive cases of one scan — the docstring's scale
    # claim, now true); silver and gold keep their OWN passes so the
    # ledger's reconciliation identities stay independently measured, not
    # algebraically folded away. Values and schema are byte-identical.
    clean = parsed.where("props_ok AND value_ok AND type_ok")
    silver = clean.groupBy("user_id", "event_type", "value", "day").agg(
        F.count("*").cast("long").alias("dup_ct")
    )
    gold = silver.groupBy("day").agg(F.count("*").cast("long").alias("n"))
    # The three passes have no data dependencies between them — collect
    # them from a small thread pool (guide §2.6, the lsh_family_audit
    # pattern) so the fixture-scale wall stays max(pass), not Σ(passes);
    # the old one-job subquery plan got that overlap for free, which is
    # the only thing it did well.
    from concurrent.futures import ThreadPoolExecutor

    bronze_agg = parsed.agg(
        F.count("*").cast("long").alias("n_bronze"),
        F.sum(F.when(~F.col("props_ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_bad_props"),
        F.sum(F.when(F.col("props_ok") & ~F.col("value_ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_bad_value"),
        F.sum(
            F.when(F.col("props_ok") & F.col("value_ok") & ~F.col("type_ok"), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_bad_type"),
        F.sum(
            F.when(F.col("props_ok") & F.col("value_ok") & F.col("type_ok"), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_clean"),
    )
    gold_agg = gold.agg(
        F.count("*").cast("long").alias("rows"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("mass"),
    )
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_bronze = pool.submit(lambda: bronze_agg.collect()[0])
        f_silver = pool.submit(lambda: silver.agg(F.count("*")).collect()[0][0])
        f_gold = pool.submit(lambda: gold_agg.collect()[0])
        bronze_row, n_silver, gold_row = (
            f_bronze.result(), int(f_silver.result()), f_gold.result()
        )
    n_bronze = int(bronze_row["n_bronze"])
    n_bad_props = int(bronze_row["n_bad_props"])
    n_bad_value = int(bronze_row["n_bad_value"])
    n_bad_type = int(bronze_row["n_bad_type"])
    n_clean = int(bronze_row["n_clean"])
    n_gold_rows = int(gold_row["rows"])
    n_gold_mass = int(gold_row["mass"])
    return tables["events"].sparkSession.range(1).select(
        F.lit(n_bronze).cast("long").alias("bronze_rows"),
        F.lit(n_bad_props).cast("long").alias("rejected_props"),
        F.lit(n_bad_value).cast("long").alias("rejected_value"),
        F.lit(n_bad_type).cast("long").alias("rejected_type"),
        F.lit(n_clean - n_silver).cast("long").alias("deduped_rows"),
        F.lit(n_silver).cast("long").alias("silver_rows"),
        F.lit(n_gold_rows).cast("long").alias("gold_rows"),
        F.lit(
            n_bad_props + n_bad_value + n_bad_type + (n_clean - n_silver) + n_silver
            == n_bronze
        ).alias("ledger_balances"),
        F.lit(n_gold_mass == n_silver).alias("gold_covers_silver"),
    )


QUERIES["warehouse_medallion_recon"] = medallion_recon
# props_ok mirrors Spark get_json_object's null semantics exactly
# (ADVICE r7 #4): a JSON null $.k is SQL NULL in Spark (row rejected) but
# a non-NULL JSON 'null' value under DuckDB's json_extract (row kept),
# and DuckDB json_extract ERRORS on malformed JSON where Spark returns
# NULL — json_valid + json_extract_string reproduces reject-on-null and
# reject-on-malformed on the oracle side, so the gate stays aligned even
# if the events fixture ever gains null/dirty props.
ORACLES["warehouse_medallion_recon"] = """
    WITH parsed AS (
        SELECT user_id, event_type, value, ts::DATE AS day,
               (CASE WHEN json_valid(props)
                     THEN json_extract_string(props, '$.k') IS NOT NULL
                     ELSE FALSE END) AS props_ok,
               (value >= 0) AS value_ok,
               event_type IN ('click', 'view', 'purchase', 'signup',
                              'error') AS type_ok
        FROM events
    ),
    clean AS (
        SELECT * FROM parsed WHERE props_ok AND value_ok AND type_ok
    ),
    silver AS (
        SELECT user_id, event_type, value, day, count(*)::BIGINT AS dup_ct
        FROM clean GROUP BY 1, 2, 3, 4
    ),
    c AS (
        SELECT
            (SELECT count(*) FROM parsed)::BIGINT AS bronze_rows,
            (SELECT sum(CASE WHEN NOT props_ok THEN 1 ELSE 0 END)
             FROM parsed)::BIGINT AS rejected_props,
            (SELECT sum(CASE WHEN props_ok AND NOT value_ok THEN 1 ELSE 0 END)
             FROM parsed)::BIGINT AS rejected_value,
            (SELECT sum(CASE WHEN props_ok AND value_ok AND NOT type_ok
                             THEN 1 ELSE 0 END)
             FROM parsed)::BIGINT AS rejected_type,
            (SELECT count(*) FROM clean)::BIGINT AS n_clean,
            (SELECT count(*) FROM silver)::BIGINT AS silver_rows,
            (SELECT count(DISTINCT day) FROM silver)::BIGINT AS gold_rows
    )
    SELECT bronze_rows, rejected_props, rejected_value, rejected_type,
           (n_clean - silver_rows)::BIGINT AS deduped_rows, silver_rows,
           gold_rows,
           rejected_props + rejected_value + rejected_type
           + (n_clean - silver_rows) + silver_rows = bronze_rows
               AS ledger_balances,
           TRUE AS gold_covers_silver
    FROM c
"""


def storage_tiering(tables: dict[str, DataFrame]) -> DataFrame:
    """Hot/warm/cold storage-tiering plan — the lifecycle policy input
    every lakehouse cost review asks for: classify each part by RECENCY
    of its last shipment against the corpus's last shipping day (hot ≤
    180 days, warm ≤ 720, else cold) and report per tier the part
    census, the revenue mass parked there, and the share of revenue a
    cold-tier migration would move off premium storage. The
    access-frequency sibling of ``warehouse_ttl_purge`` (which deletes;
    tiering demotes) and ``warehouse_compaction_plan`` (layout; this is
    placement).

    Exactness: recency is exact date arithmetic against the exact max
    ship date (scalar subquery); cents exact; shares pinned.

    Scale: one partkey rollup of lineitem, one 3-row agg."""
    li = tables["lineitem"]
    anchor = li.agg(F.max(F.to_date("l_shipdate"))).scalar()
    per = li.groupBy("l_partkey").agg(
        F.max(F.to_date("l_shipdate")).alias("last_ship"),
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
            )
        )
        .cast("long")
        .alias("cents"),
    )
    age = F.datediff(anchor, F.col("last_ship"))
    tier = (
        F.when(age <= 180, "1_hot")
        .when(age <= 720, "2_warm")
        .otherwise("3_cold")
    )
    tot = per.agg(F.sum("cents").cast("long")).scalar()
    return per.groupBy(tier.alias("tier")).agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("cents").cast("long").alias("cents"),
        F.min(age).cast("long").alias("min_age_days"),
        F.max(age).cast("long").alias("max_age_days"),
    ).select(
        "tier",
        "n_parts",
        "cents",
        "min_age_days",
        "max_age_days",
        F.floor(
            F.col("cents").cast("double") / tot.cast("double") * 1000000 + 0.5
        ).cast("long").alias("revenue_share_micro"),
    )


QUERIES["warehouse_storage_tiering"] = storage_tiering
ORACLES["warehouse_storage_tiering"] = """
    WITH per AS (
        SELECT l_partkey, max(l_shipdate::DATE) AS last_ship,
               sum(floor(l_extendedprice * (1 - l_discount) * 100
                         + 0.5)::BIGINT)::BIGINT AS cents
        FROM lineitem GROUP BY 1
    ),
    a AS (SELECT max(last_ship) AS anchor FROM per),
    t AS (
        SELECT date_diff('day', last_ship, (SELECT anchor FROM a))::BIGINT
                   AS age,
               cents
        FROM per
    ),
    tiered AS (
        SELECT CASE WHEN age <= 180 THEN '1_hot'
                    WHEN age <= 720 THEN '2_warm'
                    ELSE '3_cold' END AS tier,
               age, cents
        FROM t
    )
    SELECT tier, count(*)::BIGINT AS n_parts, sum(cents)::BIGINT AS cents,
           min(age)::BIGINT AS min_age_days, max(age)::BIGINT AS max_age_days,
           floor(sum(cents)::DOUBLE / (SELECT sum(cents) FROM per)::DOUBLE
                 * 1000000 + 0.5)::BIGINT AS revenue_share_micro
    FROM tiered GROUP BY tier
"""


def file_skew_audit(tables: dict[str, DataFrame]) -> DataFrame:
    """Partition FILE-BALANCE audit — the small-files/skew report every
    lakehouse maintenance loop runs before compaction planning
    (``warehouse_compaction_plan`` decides what to rewrite; this is the
    telemetry feeding it): write events day-partitioned with one file
    per partition (repartition on the partition key makes the file count
    deterministic), then read back the physical layout — per-partition
    file count and FOOTER row count — and reconcile against the data
    (rows_match must be TRUE per partition; footer machinery shared in
    spirit with ``source_parquet_metadata``, but per PARTITION directory
    instead of table-level, which is the dimension skew lives in). The
    skew ratio (partition rows ÷ mean rows, 4dp pinned) is the number a
    rebalance alert fires on.

    Exactness: file/row counts are exact integers read from real parquet
    footers executor-side; the oracle recomputes per-day row counts and
    the same ratio from the data.

    Scale: the write is one shuffle on the partition key; the audit
    lists the directory tree and reads FOOTERS only (KBs/file),
    distributed over executors via the same mapInPandas shape as the
    table-level footer audit."""
    import os as _os

    import pandas as pd

    ev = tables["events"]
    spark = ev.sparkSession
    out = _scratch(prefix="fileskew_")
    base = ev.select(
        "event_id",
        F.date_format("ts", "yyyyMMdd").alias("day"),
    )
    base.repartition("day").write.mode("overwrite").partitionBy("day").parquet(out)
    # list (day, file) pairs driver-side (directory listing is metadata,
    # partition-count-sized); footer reads distribute over executors
    pairs = []
    for entry in sorted(_os.listdir(out)):
        if not entry.startswith("day="):
            continue
        day = entry.split("=", 1)[1]
        pdir = _os.path.join(out, entry)
        for fn in sorted(_os.listdir(pdir)):
            if fn.endswith(".parquet"):
                pairs.append((day, _os.path.join(pdir, fn)))
    fdf = spark.createDataFrame(pairs, "day string, path string").repartition(
        max(1, min(len(pairs), 32))
    )

    def footers(it):
        import pyarrow.parquet as pq

        for pdf in it:
            days, rows = [], []
            for day, path in zip(pdf["day"], pdf["path"]):
                md = pq.ParquetFile(path).metadata
                days.append(day)
                rows.append(int(md.num_rows))
            yield pd.DataFrame({"day": days, "footer_rows": rows})

    per_file = fdf.mapInPandas(footers, "day string, footer_rows long")
    layout = per_file.groupBy("day").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("footer_rows").cast("long").alias("footer_rows"),
    )
    # NOTE (r11, tried and REVERTED): localCheckpoint-ing this two-consumer
    # census (mean scalar + reconciliation join) measured 2.5 → 3.3-3.6 s —
    # the eager materialization serializes a scan+agg job in front of work
    # the lazy shape overlaps inside the final action (the same reason the
    # r10 dedup_prefix_filter checkpoint regressed). Leave it lazy.
    data = base.groupBy("day").agg(F.count("*").cast("long").alias("data_rows"))
    mean_rows = data.agg(F.avg("data_rows")).scalar()
    return (
        layout.join(data, "day")
        .select(
            "day",
            "n_files",
            "footer_rows",
            "data_rows",
            (F.col("footer_rows") == F.col("data_rows")).alias("rows_match"),
            (F.floor(F.col("data_rows") / mean_rows * 10000 + 0.5) / 10000).alias(
                "skew_ratio"
            ),
        )
    )


QUERIES["warehouse_file_skew_audit"] = file_skew_audit
# The oracle recomputes the per-day census and the ratio from the raw
# table; n_files == 1 and rows_match == TRUE are the layout's invariants
# under the repartition-by-key writer (a multi-file day or a footer/data
# divergence breaks the hash).
ORACLES["warehouse_file_skew_audit"] = """
    WITH d AS (
        SELECT strftime(ts, '%Y%m%d') AS day, count(*)::BIGINT AS data_rows
        FROM events GROUP BY 1
    ),
    m AS (SELECT avg(data_rows) AS mu FROM d)
    SELECT day, 1::BIGINT AS n_files, data_rows AS footer_rows, data_rows,
           TRUE AS rows_match,
           floor(data_rows / (SELECT mu FROM m) * 10000 + 0.5) / 10000
               AS skew_ratio
    FROM d
"""


def zorder_prune_stats(
    tables: dict[str, DataFrame], bits: int = 16, file_bits: int = 6
) -> DataFrame:
    """Z-order file-skipping effectiveness — the POSITIVE result that
    closes the loop ``warehouse_zonemap_prune`` opens (its uncorrelated
    layout measures near-zero skipping and its docstring says so: that
    negative result "is the quantitative case for re-clustering
    (z-order)"; this op quantifies what the re-clustering buys).
    Both layouts bin the SAME orders rows into 2^file_bits synthetic
    files and evaluate the SAME 2-D box predicate (the middle 20% of each
    dimension's scaled range — integer literals on both engines) against
    per-file min/max zonemaps over (o_custkey, order epoch-day):

    - ``linear``: files = contiguous ranges of the DATE coordinate (the
      single-key ``write_stats`` sort) — the date zonemaps are tight but
      custkey min/max spans the whole domain in every file, so the box
      prunes on one dimension only;
    - ``zorder``: files = contiguous ranges of the Morton key
      (``colocate.write_zordered``'s layout) — every file covers a
      rectangle-ish region, both zonemaps are tight, and the box prunes
      on BOTH dimensions.

    Exactness: the scaled coordinates, the 32 interleave terms, the top-
    ``file_bits`` file ids, the overlap test, and all counts are integer
    arithmetic both engines replay bit-for-bit; scan_ratio is a 1e-4
    cross-multiply. ``rows_matching`` is layout-invariant by construction
    — its equality across the two rows is the built-in sanity anchor.

    Plan: one scan computes (sa, sb, z); each layout is one file-keyed
    partial agg producing a manifest of ≤ 2^file_bits rows; the overlap
    evaluation never touches the base table again — real OPTIMIZE ZORDER
    economics (manifest-sized metadata answers the planning question).
    At 100 TB swap the synthetic top-bits binning for
    ``write_zordered``'s repartitionByRange and the audit is unchanged."""
    from flink_210225_spark.operators.colocate import interleave_bits, scale_to_bits

    o = tables["orders"]
    days = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    r = o.agg(
        F.min("o_custkey").alias("la"),
        F.max("o_custkey").alias("ha"),
        F.min(days).alias("lb"),
        F.max(days).alias("hb"),
    ).collect()[0]
    m = (1 << bits) - 1
    lo_box, hi_box = (m * 2) // 5, (m * 3) // 5  # middle 20% per dim
    sa = scale_to_bits(F.col("o_custkey"), r.la, r.ha, bits=bits)
    sb = scale_to_bits(days, r.lb, r.hb, bits=bits)
    coords = o.select(
        sa.alias("sa"),
        sb.alias("sb"),
        interleave_bits(sa, sb, bits).alias("z"),
    )

    def manifest(layout: str, file_col) -> DataFrame:
        in_box = (
            (F.col("sa") >= lo_box)
            & (F.col("sa") <= hi_box)
            & (F.col("sb") >= lo_box)
            & (F.col("sb") <= hi_box)
        )
        files = coords.groupBy(file_col.alias("file_id")).agg(
            F.count("*").alias("n_rows"),
            F.min("sa").alias("min_a"),
            F.max("sa").alias("max_a"),
            F.min("sb").alias("min_b"),
            F.max("sb").alias("max_b"),
            F.sum(in_box.cast("long")).alias("n_match"),
        )
        scanned = (F.col("max_a") >= lo_box) & (F.col("min_a") <= hi_box) & (
            F.col("max_b") >= lo_box
        ) & (F.col("min_b") <= hi_box)
        return files.agg(
            F.lit(layout).alias("layout"),
            F.count("*").cast("long").alias("n_files"),
            F.sum(scanned.cast("long")).cast("long").alias("files_scanned"),
            F.sum(F.when(scanned, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
            F.sum("n_match").cast("long").alias("rows_matching"),
        )

    lin = manifest("linear", F.shiftrightunsigned(F.col("sb"), bits - file_bits))
    zo = manifest("zorder", F.shiftrightunsigned(F.col("z"), 2 * bits - file_bits))
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return lin.unionByName(zo).select(
        "layout",
        "n_files",
        "files_scanned",
        "rows_scanned",
        "rows_matching",
        r4(F.col("files_scanned") / F.col("n_files")).alias("scan_ratio"),
    )


def _zorder_prune_oracle(bits: int = 16, file_bits: int = 6) -> str:
    terms = " + ".join(
        f"(((sa >> {i}) & 1) << {2 * i}) + (((sb >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    m = (1 << bits) - 1
    lo_box, hi_box = (m * 2) // 5, (m * 3) // 5
    return f"""
        WITH r AS (
            SELECT min(o_custkey) AS la, max(o_custkey) AS ha,
                   min(o_orderdate::DATE - DATE '1970-01-01') AS lb,
                   max(o_orderdate::DATE - DATE '1970-01-01') AS hb
            FROM orders
        ),
        s AS (
            SELECT floor(least(greatest(
                       (o_custkey::DOUBLE - (SELECT la FROM r))
                           / ((SELECT ha FROM r) - (SELECT la FROM r)), 0.0), 1.0)
                       * {m})::BIGINT AS sa,
                   floor(least(greatest(
                       ((o_orderdate::DATE - DATE '1970-01-01')::DOUBLE - (SELECT lb FROM r))
                           / ((SELECT hb FROM r) - (SELECT lb FROM r)), 0.0), 1.0)
                       * {m})::BIGINT AS sb
            FROM orders
        ),
        coords AS (SELECT sa, sb, ({terms})::BIGINT AS z FROM s),
        both_layouts AS (
            SELECT 'linear' AS layout, sb >> {bits - file_bits} AS file_id,
                   sa, sb FROM coords
            UNION ALL
            SELECT 'zorder', z >> {2 * bits - file_bits}, sa, sb FROM coords
        ),
        files AS (
            SELECT layout, file_id, count(*)::BIGINT AS n_rows,
                   min(sa) AS min_a, max(sa) AS max_a,
                   min(sb) AS min_b, max(sb) AS max_b,
                   sum(((sa BETWEEN {lo_box} AND {hi_box})
                        AND (sb BETWEEN {lo_box} AND {hi_box}))::INT)::BIGINT
                       AS n_match
            FROM both_layouts GROUP BY layout, file_id
        )
        SELECT layout,
               count(*)::BIGINT AS n_files,
               sum((max_a >= {lo_box} AND min_a <= {hi_box}
                    AND max_b >= {lo_box} AND min_b <= {hi_box})::INT)::BIGINT
                   AS files_scanned,
               sum(CASE WHEN max_a >= {lo_box} AND min_a <= {hi_box}
                         AND max_b >= {lo_box} AND min_b <= {hi_box}
                        THEN n_rows ELSE 0 END)::BIGINT AS rows_scanned,
               sum(n_match)::BIGINT AS rows_matching,
               floor(sum((max_a >= {lo_box} AND min_a <= {hi_box}
                          AND max_b >= {lo_box} AND min_b <= {hi_box})::INT)
                     * 1.0 / count(*) * 10000 + 0.5) / 10000 AS scan_ratio
        FROM files GROUP BY layout
    """


QUERIES["warehouse_zorder_prune"] = zorder_prune_stats
ORACLES["warehouse_zorder_prune"] = _zorder_prune_oracle()
