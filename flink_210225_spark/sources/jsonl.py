"""JSON-lines source with dirty-record side output — the FILE-reader form
of P1's "parse JSON, route the unparseable to a side output"
(BaseLogApp.java's dirty-tag OutputTag; ``operators/logsplit.py`` covers
the per-column form over ``props``). Here the whole ROW is a JSON document
and the engine's own JSON reader does the parsing: ``spark.read.json``
in PERMISSIVE mode with an explicit ``columnNameOfCorruptRecord`` — the
production contract for ingesting feeds where some lines are garbage
(truncated flushes, mid-line rotations). Corrupt lines surface as rows
whose data columns are NULL and whose ``_corrupt_record`` carries the raw
line, so the dirty side output is a filter, not an exception handler.

The driver query synthesizes the feed deterministically: events serialized
with ``to_json``, every event_id % 7 == 0 line truncated by one character
(always invalid — ``to_json`` output always ends in '}'). Numeric fidelity
rides the shortest-roundtrip guarantee: the double printed by ``to_json``
parses back bit-identical, so cent sums match the oracle that never left
parquet.

Scale: the reader is the built-in JSON scan (distributed, splittable by
line); the single-pass CASE aggregation avoids the known restriction on
querying ``_corrupt_record`` in isolation (Spark refuses a plan that
prunes to only the corrupt column — fold the corrupt tag into the group
key instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_210225_spark.io import _scratch


def jsonl_dirty_counts(tables: dict[str, DataFrame]) -> DataFrame:
    ev = tables["events"]
    spark = ev.sparkSession
    js = ev.select(
        "event_id",
        F.to_json(F.struct("event_id", "user_id", "event_type", "value")).alias("j"),
    )
    dirty = js.select(
        F.when(
            F.col("event_id") % 7 == 0,
            F.expr("substring(j, 1, length(j) - 1)"),
        )
        .otherwise(F.col("j"))
        .alias("value")
    )
    out = _scratch(prefix="jsonl_src_")
    dirty.write.mode("overwrite").text(out)
    schema = (
        "event_id bigint, user_id bigint, event_type string, value double,"
        " _corrupt_record string"
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    tagged = parsed.select(
        F.when(F.col("_corrupt_record").isNotNull(), F.lit("__corrupt__"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return tagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("value_cents"),
    )


def csv_dirty_counts(tables: dict[str, DataFrame]) -> DataFrame:
    """CSV sibling of the dirty-JSONL source — the OTHER ubiquitous feed
    format: every event_id % 7 row ships a non-numeric ``value`` field
    ('xx'). The corruption gate here is EXPLICIT (tokenize the line, test
    the numeric field against its format, cast only what passes) rather
    than the reader's ``_corrupt_record`` — deliberately. Measured on
    this engine: CSV PERMISSIVE corrupt detection is PROJECTION-DEPENDENT
    — a downstream plan that prunes the malformed column (``count()``
    does) never parses it, the row is silently unmarked, and the corrupt
    group vanishes; ``spark.sql.csv.parser.columnPruning.enabled=false``
    does not restore it on Spark 4. JSON does not have this failure mode
    (objects parse whole — the JSONL twin keeps the reader-level
    machinery); for CSV, a pipeline that must ACCOUNT for its rejects
    owns the corruption rule in an expression the optimizer cannot prune
    away. Numeric round trip via the writer's shortest repr keeps cents
    exact; one text scan, zero shuffle before the final rollup."""
    ev = tables["events"]
    spark = ev.sparkSession
    line = F.concat_ws(
        ",",
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        F.when(F.col("event_id") % 7 == 0, F.lit("xx")).otherwise(
            F.col("value").cast("string")
        ),
    )
    out = _scratch(prefix="csv_src_")
    ev.select(line.alias("value")).write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    fields = F.split(F.col("value"), ",")
    v_str = F.element_at(fields, 4)
    numeric = v_str.rlike(r"^-?[0-9]+(\.[0-9]+)?([eE][+-]?[0-9]+)?$")
    tagged = raw.select(
        F.when(numeric, F.element_at(fields, 3))
        .otherwise(F.lit("__corrupt__"))
        .alias("event_type"),
        F.when(
            numeric,
            F.floor(v_str.cast("double") * 100 + F.lit(0.5)).cast("long"),
        ).alias("cents"),
    )
    return tagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("value_cents"),
    )


def fixed_width_counts(tables: dict[str, DataFrame]) -> DataFrame:
    """Fixed-width (mainframe/COBOL copybook) source with a short-record
    gate — the third ubiquitous dirty-feed format after JSONL and CSV.
    Orders serialize to 46-byte records (orderkey 12, custkey 10, status
    2, cents 14, yyyyMMdd 8 — lpad/rpad column layout); every
    ``o_orderkey % 11 == 0`` record is truncated mid-field (the classic
    torn-write/partial-flush failure). Fixed-width has no delimiter to
    resynchronize on, so the ONLY reject rule is the record-length
    contract itself: length != 46 → corrupt side output; fields of
    surviving records parse by position. Cents round-trip as padded
    integers — bit-exact, no float printing involved.

    One text scan, zero shuffle before the rollup (the same economics as
    the CSV twin; like there, the reject rule lives in an expression the
    optimizer cannot prune away)."""
    o = tables["orders"]
    spark = o.sparkSession
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    rec = F.concat(
        F.lpad(F.col("o_orderkey").cast("string"), 12, " "),
        F.lpad(F.col("o_custkey").cast("string"), 10, " "),
        F.rpad(F.col("o_orderstatus"), 2, " "),
        F.lpad(cents.cast("string"), 14, " "),
        F.date_format("o_orderdate", "yyyyMMdd"),
    )
    line = F.when(
        F.col("o_orderkey") % 11 == 0, F.substring(rec, 1, 30)
    ).otherwise(rec)
    out = _scratch(prefix="fixedw_src_")
    o.select(line.alias("value")).write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    ok = F.length("value") == 46
    status = F.trim(F.substring("value", 23, 2))
    cents_f = F.trim(F.substring("value", 25, 14)).cast("long")
    tagged = raw.select(
        F.when(ok, status).otherwise(F.lit("__corrupt__")).alias("status"),
        F.when(ok, cents_f).alias("cents"),
    )
    return tagged.groupBy("status").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("value_cents"),
    )


def multiline_stack_counts(tables: dict[str, DataFrame]) -> DataFrame:
    """Multiline log reassembly — the Filebeat/Fluentd ``multiline`` codec
    as a batch operator: stack traces span several physical lines (a
    header plus whitespace-indented continuations), and ingest must stitch
    each group back into ONE logical record before parsing. The feed is
    synthesized deterministically from ``events`` (every event emits a
    header line; error events add two indented frame lines), written
    through a REAL text-file round trip, and reassembled by the
    gaps-and-islands rule: a line is a record start iff it does not begin
    with whitespace, record id = running count of starts in sequence
    order.

    Sequence contract: text files carry no cross-partition line order, so
    each line embeds its own 10-digit sequence number — the
    offset-in-file every real log shipper attaches. At 100 TB the window
    partitions by source file (a trace never straddles files);
    the single global ordering here is the one-stream case.

    Exactness: the reassembled record text is digested (md5 head as int64)
    and SUMMED per group — an order-independent checksum that pins the
    exact reconstruction, newlines included, while the oracle builds the
    same records directly from parquet (independent algorithms: islands
    reassembly vs direct construction)."""
    ev = tables["events"]
    spark = ev.sparkSession
    us = F.timestamp_diff(
        "MICROSECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), F.col("ts")
    )
    header = F.concat(
        F.lit("H "),
        us.cast("string"),
        F.lit(" "),
        F.col("event_type"),
        F.lit(" u"),
        F.col("user_id").cast("string"),
        F.lit(" e"),
        F.col("event_id").cast("string"),
    )
    is_err = F.col("event_type") == "error"
    lines = ev.select(
        F.explode(
            F.when(
                is_err,
                F.array(
                    F.struct((F.col("event_id") * 3).alias("seq"), header.alias("content")),
                    F.struct(
                        (F.col("event_id") * 3 + 1).alias("seq"),
                        F.concat(
                            F.lit(" at frame0 e"), F.col("event_id").cast("string")
                        ).alias("content"),
                    ),
                    F.struct(
                        (F.col("event_id") * 3 + 2).alias("seq"),
                        F.concat(
                            F.lit(" at frame1 e"), F.col("event_id").cast("string")
                        ).alias("content"),
                    ),
                ),
            ).otherwise(
                F.array(
                    F.struct((F.col("event_id") * 3).alias("seq"), header.alias("content"))
                )
            )
        ).alias("l")
    ).select(
        F.concat(
            F.lpad(F.col("l.seq").cast("string"), 10, "0"), F.lit(" "), F.col("l.content")
        ).alias("value")
    )
    out = _scratch(prefix="multiline_src_")
    lines.write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    parsed = raw.select(
        F.substring("value", 1, 10).cast("long").alias("seq"),
        F.substring("value", 12, 1000000).alias("content"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("seq")
    isl = parsed.select(
        "seq",
        "content",
        F.sum(
            F.when(F.substring("content", 1, 1) != " ", 1).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("rec"),
    )
    recs = isl.groupBy("rec").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq", "content"))),
                lambda s: s["content"],
            ),
            "\n",
        ).alias("full_text"),
    )
    etype = F.split(F.split(F.col("full_text"), "\n").getItem(0), " ").getItem(2)
    digest = F.conv(F.substring(F.md5("full_text"), 1, 8), 16, 10).cast("long")
    return recs.groupBy(
        etype.alias("event_type"), F.col("n_lines")
    ).agg(
        F.count("*").cast("long").alias("n_records"),
        F.sum(digest).cast("long").alias("digest_sum"),
    )


def schema_evolution_counts(tables: dict[str, DataFrame]) -> DataFrame:
    """Schema-evolution read — the lake reality that a long-lived dataset's
    early files lack columns added later, and the reader must widen rather
    than reject. Two genuine parquet snapshots are written (v1: even
    orderkeys, two columns; v2: odd orderkeys, plus ``o_orderpriority``)
    and read back through ``mergeSchema=true`` — Spark's footer-merging
    path, the real mechanism (schema inference from ONE footer would
    either drop the new column or fail on the old files). v1 rows surface
    the added column as NULL; the rollup folds that into the group key
    (the dirty-source discipline: the absence is data, not an error).

    Scale: footer merging is a driver-side metadata pass over file
    schemas, not data; the scan itself stays columnar and pruned."""
    o = tables["orders"]
    spark = o.sparkSession
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    out = _scratch(prefix="schema_evo_src_")
    o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", cents.alias("cents")
    ).write.mode("overwrite").parquet(f"{out}/v1")
    o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", cents.alias("cents"), "o_orderpriority"
    ).write.mode("overwrite").parquet(f"{out}/v2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/v1", f"{out}/v2"
    )
    return merged.groupBy(
        F.coalesce("o_orderpriority", F.lit("__pre_schema__")).alias("priority")
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("cents"),
    )


QUERIES = {
    "source_jsonl_dirty": jsonl_dirty_counts,
    "source_csv_dirty": csv_dirty_counts,
    "source_fixed_width": fixed_width_counts,
    "source_multiline_stack": multiline_stack_counts,
    "source_schema_evolution": schema_evolution_counts,
}

ORACLES = {
    # Replay from parquet: the %7 lines are the corrupt group (their cents
    # drop out — a corrupt row parses every data column NULL).
    "source_jsonl_dirty": """
        SELECT CASE WHEN event_id % 7 = 0 THEN '__corrupt__'
                    ELSE event_type END AS event_type,
               count(*)::BIGINT AS n_rows,
               coalesce(sum(CASE WHEN event_id % 7 != 0
                                 THEN floor(value * 100 + 0.5)::BIGINT END),
                        0)::BIGINT AS value_cents
        FROM events GROUP BY 1
    """,
}

# The corruption rule and surviving aggregates are format-independent, so
# the CSV twin shares the JSONL oracle verbatim.
ORACLES["source_csv_dirty"] = ORACLES["source_jsonl_dirty"]

# Multiline reassembly oracle: constructs each logical record DIRECTLY
# from parquet (header + error-only frames, '\n'-joined) — no islands
# logic — and digests it with the same md5-head checksum; any stitching
# defect (dropped line, wrong order, whitespace damage) breaks digest_sum.
ORACLES["source_multiline_stack"] = """
    WITH recs AS (
        SELECT event_type,
               CASE WHEN event_type = 'error' THEN 3 ELSE 1 END::BIGINT AS n_lines,
               'H ' || epoch_us(ts)::VARCHAR || ' ' || event_type
                    || ' u' || user_id::VARCHAR || ' e' || event_id::VARCHAR
                    || CASE WHEN event_type = 'error'
                            THEN chr(10) || ' at frame0 e' || event_id::VARCHAR
                              || chr(10) || ' at frame1 e' || event_id::VARCHAR
                            ELSE '' END AS full_text
        FROM events
    )
    SELECT event_type, n_lines, count(*)::BIGINT AS n_records,
           sum(('0x' || substr(md5(full_text), 1, 8))::UBIGINT::BIGINT)::BIGINT
             AS digest_sum
    FROM recs GROUP BY 1, 2
"""

# Schema-evolution replay: even orderkeys are the pre-schema snapshot
# (priority folds to the sentinel group), odd carry the evolved column.
ORACLES["source_schema_evolution"] = """
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN '__pre_schema__'
                ELSE o_orderpriority END AS priority,
           count(*)::BIGINT AS n_rows,
           sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
    FROM orders GROUP BY 1
"""

# Fixed-width twin: same replay-from-parquet shape over orders; the %11
# records are the short-record corrupt group (their cents drop out).
ORACLES["source_fixed_width"] = """
    SELECT CASE WHEN o_orderkey % 11 = 0 THEN '__corrupt__'
                ELSE o_orderstatus END AS status,
           count(*)::BIGINT AS n_rows,
           coalesce(sum(CASE WHEN o_orderkey % 11 != 0
                             THEN floor(o_totalprice * 100 + 0.5)::BIGINT END),
                    0)::BIGINT AS value_cents
    FROM orders GROUP BY 1
"""


def xml_records_counts(tables: dict[str, DataFrame]) -> DataFrame:
    """XML-record source with a dirty side output — the fourth dirty-feed
    format (JSONL, CSV, fixed-width, now single-line XML records, the
    shape legacy B2B/ERP exports actually ship). Orders serialize to
    ``<order id=.. status=..><total>..</total></order>`` lines through a
    REAL text round trip; every ``o_orderkey % 13 == 0`` record's closing
    tag is torn (the truncated-flush failure). Spark has no built-in XML
    reader, so the parse is an explicit full-record regex — like the CSV
    twin, the reject rule lives in an expression the optimizer cannot
    prune away, and the corrupt group is a filter, not an exception.
    Cents survive the round trip exactly (printed as an integer string,
    never a float repr).

    Scale: one splittable text scan, regex projection in codegen, one
    rollup — zero shuffles before the final group."""
    o = tables["orders"]
    spark = o.sparkSession
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    rec = F.concat(
        F.lit('<order id="'),
        F.col("o_orderkey").cast("string"),
        F.lit('" status="'),
        F.col("o_orderstatus"),
        F.lit('"><total>'),
        cents.cast("string"),
        F.lit("</total></order>"),
    )
    torn = F.when(
        F.col("o_orderkey") % 13 == 0,
        F.expr("substring(rec, 1, length(rec) - 3)"),
    ).otherwise(F.col("rec"))
    out = _scratch(prefix="xml_src_")
    o.select("o_orderkey", rec.alias("rec")).select(torn.alias("value")).write.mode(
        "overwrite"
    ).text(out)
    raw = spark.read.text(out)
    pat = r'^<order id="([0-9]+)" status="([A-Z])"><total>(-?[0-9]+)</total></order>$'
    ok = F.col("value").rlike(pat)
    tagged = raw.select(
        F.when(ok, F.regexp_extract("value", pat, 2))
        .otherwise(F.lit("__corrupt__"))
        .alias("status"),
        F.when(ok, F.regexp_extract("value", pat, 3).cast("long")).alias("cents"),
    )
    return tagged.groupBy("status").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("total_cents"),
    )


QUERIES["source_xml_records"] = xml_records_counts
# Replay from parquet: %13 orders form the corrupt group (cents drop out).
ORACLES["source_xml_records"] = """
    SELECT CASE WHEN o_orderkey % 13 = 0 THEN '__corrupt__'
                ELSE o_orderstatus END AS status,
           count(*)::BIGINT AS n_rows,
           coalesce(sum(CASE WHEN o_orderkey % 13 != 0
                             THEN floor(o_totalprice * 100 + 0.5)::BIGINT END),
                    0)::BIGINT AS total_cents
    FROM orders GROUP BY 1
"""


def orc_roundtrip_counts(tables: dict[str, DataFrame]) -> DataFrame:
    """ORC round trip — Spark's OTHER native columnar format (reference
    scope: lake sources beyond parquet; gmall lands ODS in both). A real
    ``.write.orc`` / ``.read.orc`` cycle over long / string / timestamp
    columns, then a per-status rollup — any type-fidelity defect in the
    ORC writer/reader (timestamp epoch shift, string truncation, long
    narrowing) changes the aggregate and breaks the parquet-replay oracle.

    Scale: ORC is splittable and predicate-pushdown-capable like parquet;
    the scan stays columnar — this gates the FORMAT, the plan is one
    map-side-combined groupBy."""
    o = tables["orders"]
    spark = o.sparkSession
    out = _scratch(prefix="orc_src_")
    o.select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        "o_orderdate",
    ).write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    day = F.date_format("o_orderdate", "yyyyMMdd").cast("long")
    return back.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("cents"),
        F.min(day).alias("first_day"),
        F.max(day).alias("last_day"),
    )


QUERIES["source_orc_roundtrip"] = orc_roundtrip_counts
# Replay from parquet: the ORC cycle must be value-neutral for every column.
ORACLES["source_orc_roundtrip"] = """
    SELECT o_orderstatus AS status,
           count(*)::BIGINT AS n_rows,
           sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents,
           min(strftime(o_orderdate, '%Y%m%d')::BIGINT) AS first_day,
           max(strftime(o_orderdate, '%Y%m%d')::BIGINT) AS last_day
    FROM orders GROUP BY 1
"""


def partition_prune_counts(tables: dict[str, DataFrame]) -> DataFrame:
    """Hive-style partition discovery + static partition pruning — the
    single biggest scan-cost lever at 100 TB (a day/type-partitioned lake
    table answers a two-type query by LISTING two directories, no data
    touched elsewhere). Events land partitioned by (event_type, day);
    the read filters two types — Spark resolves the filter against the
    DISCOVERED partition columns so only matching directories are ever
    scanned (tests/test_plans.py pins PartitionFilters on this exact
    query). day survives the directory round trip as an int partition
    value; the rollup folds both partition columns back in.

    Scale: pruning is metadata-only (driver directory listing); the result
    is one map-side-combined groupBy over the surviving partitions."""
    ev = tables["events"]
    spark = ev.sparkSession
    out = _scratch(prefix="partsrc_")
    ev.select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        "event_type",
        F.date_format("ts", "yyyyMMdd").cast("int").alias("day"),
    ).repartition("event_type", "day").write.mode("overwrite").partitionBy(
        "event_type", "day"
    ).parquet(out)
    # ^ repartition on the partition columns first: without it every task
    # writes a sliver into every partition dir (tasks × |partitions| tiny
    # files — the small-files antipattern that murders listing at 100 TB);
    # with it each partition is one writer's file (measured 4.3 -> ~2 s)
    back = spark.read.parquet(out)
    pruned = back.where(F.col("event_type").isin("click", "purchase"))
    return pruned.groupBy("event_type", F.col("day").cast("long").alias("day")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("cents"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


QUERIES["source_partition_prune"] = partition_prune_counts
# Replay from parquet: only the two surviving partitions' rows count.
ORACLES["source_partition_prune"] = """
    SELECT event_type,
           strftime(ts, '%Y%m%d')::BIGINT AS day,
           count(*)::BIGINT AS n_rows,
           sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS cents,
           count(DISTINCT user_id)::BIGINT AS n_users
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY 1, 2
"""


def jsonl_nested_counts(tables: dict[str, DataFrame]) -> DataFrame:
    """Nested-JSON ingestion round trip — the order-with-items document
    shape every event bus and REST dump lands in (one JSON object per
    order carrying an ARRAY of line-item structs), which the flat
    ``source_jsonl_dirty`` deliberately does not cover. Orders and their
    lineitems are serialized into genuine JSONL text (array-of-struct via
    to_json, deterministically sorted by linenumber), read back through
    an EXPLICIT nested schema, exploded with ``explode_outer`` (an order
    with no items must survive as an order — the left-join reality), and
    rolled up per status. Any defect in nested serialization, nested
    schema parsing, array ordering, or outer-explode null handling moves
    an aggregate; the oracle replays from the relational parquet with the
    equivalent LEFT JOIN.

    Scale: JSONL is splittable per line; the explode multiplies rows by
    items-per-order (bounded fan-out), and the rollup map-side combines."""
    o = tables["orders"]
    li = tables["lineitem"]
    spark = o.sparkSession
    items = li.select(
        "l_orderkey",
        F.struct(
            F.col("l_linenumber").alias("ln"),
            F.floor(F.col("l_quantity") * 100 + F.lit(0.5))
            .cast("long")
            .alias("qty_c"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("price_c"),
        ).alias("item"),
    ).groupBy("l_orderkey").agg(F.sort_array(F.collect_list("item")).alias("items"))
    docs = (
        o.join(items, o["o_orderkey"] == items["l_orderkey"], "left")
        .select(
            F.to_json(
                F.struct(
                    F.col("o_orderkey").alias("order_id"),
                    F.col("o_orderstatus").alias("status"),
                    F.coalesce(
                        "items",
                        F.array().cast(
                            "array<struct<ln:int,qty_c:long,price_c:long>>"
                        ),
                    ).alias("items"),
                )
            ).alias("value")
        )
    )
    out = _scratch(prefix="jsonl_nested_src_")
    docs.write.mode("overwrite").text(out)
    schema = (
        "order_id long, status string,"
        " items array<struct<ln:int,qty_c:long,price_c:long>>"
    )
    back = spark.read.schema(schema).json(out)
    exploded = back.select(
        "order_id", "status", F.explode_outer("items").alias("item")
    )
    return exploded.groupBy("status").agg(
        F.countDistinct("order_id").cast("long").alias("n_orders"),
        F.count("item").cast("long").alias("n_items"),
        F.coalesce(F.sum("item.qty_c"), F.lit(0)).cast("long").alias("qty_cents"),
        F.coalesce(F.sum("item.price_c"), F.lit(0))
        .cast("long")
        .alias("price_cents"),
    )


QUERIES["source_jsonl_nested"] = jsonl_nested_counts
# Relational replay: LEFT JOIN keeps itemless orders in n_orders exactly
# like explode_outer keeps them through the nested round trip.
ORACLES["source_jsonl_nested"] = """
    SELECT o.o_orderstatus AS status,
           count(DISTINCT o.o_orderkey)::BIGINT AS n_orders,
           count(l.l_orderkey)::BIGINT AS n_items,
           coalesce(sum(floor(l.l_quantity * 100 + 0.5)::BIGINT), 0)::BIGINT
               AS qty_cents,
           coalesce(sum(floor(l.l_extendedprice * 100 + 0.5)::BIGINT),
                    0)::BIGINT AS price_cents
    FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
"""


def jsonl_gzip_counts(tables: dict[str, DataFrame]) -> DataFrame:
    """Gzip-compressed JSON-lines round trip — the compression-codec member
    of the source family (``source_jsonl_dirty`` gates PERMISSIVE parsing;
    here the bytes on disk are .json.gz and the reader must sniff and
    inflate them). Real-world corpus drops (CommonCrawl WET, web-scrape
    dumps) land as gzip JSONL, so this is the first mile of an LLM data
    pipeline.

    Scale note, and the reason for the explicit repartition(8): gzip is
    NOT a splittable codec — each .gz file is exactly one input task, so
    shard count at write time IS the read parallelism. A single 100 GB
    .json.gz would serialize the whole scan onto one core; the write side
    must shard (here 8 files, proving the multi-file read path). The
    rollup itself is one map-side-combined groupBy."""
    ev = tables["events"]
    spark = ev.sparkSession
    out = _scratch(prefix="jsonl_gz_")
    ev.select(
        F.to_json(
            F.struct("event_id", "user_id", "event_type", "value")
        ).alias("value")
    ).repartition(8).write.mode("overwrite").option(
        "compression", "gzip"
    ).text(out)
    back = spark.read.json(out)
    return back.groupBy(F.col("event_type").alias("etype")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents"),
        F.min("event_id").cast("long").alias("first_id"),
        F.max("event_id").cast("long").alias("last_id"),
    )


QUERIES["source_jsonl_gzip"] = jsonl_gzip_counts
# Replay from parquet: the gzip JSONL cycle must be value-neutral (double
# fidelity rides to_json's shortest-roundtrip printing, as in jsonl_dirty).
ORACLES["source_jsonl_gzip"] = """
    SELECT event_type AS etype,
           count(*)::BIGINT AS n_rows,
           count(DISTINCT user_id)::BIGINT AS n_users,
           sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS cents,
           min(event_id)::BIGINT AS first_id,
           max(event_id)::BIGINT AS last_id
    FROM events GROUP BY 1
"""


def binary_files_counts(tables: dict[str, DataFrame]) -> DataFrame:
    """``binaryFile`` datasource ingestion — Spark's native reader for
    opaque media blobs (path, modificationTime, length, content), the
    first mile of every multimodal pipeline: files land on object storage,
    the engine lists + reads them as binary rows, decode happens
    executor-side. Here a bounded sample of documents (doc_id % 50 == 0 —
    a fixed 2% manifest, SF-proportional) is materialized as REAL .png
    FILES (one per doc, rotating scanline filters), read back through
    ``format("binaryFile")``, decoded from the CONTENT BYTES the reader
    returned (never re-synthesized), and rolled up per seed.

    Scale: binaryFile is distributed and list-parallel (one task per file
    group); content rides the scan as a binary column into an Arrow
    ``mapInPandas`` decode — the same shape as the multimodal family. The
    write loop is driver-side by necessity (synthesizing the fixture) and
    bounded by the 2% manifest; production files pre-exist."""
    import os

    from flink_210225_spark.ops.multimodal import _parse_png, _png_bytes
    docs = tables["documents"]
    spark = docs.sparkSession
    ids = [
        r[0]
        for r in docs.where(F.col("doc_id") % 50 == 0)
        .select("doc_id")
        .collect()
    ]
    out = _scratch(prefix="binfiles_")
    for d in ids:
        with open(os.path.join(out, f"img_{d}.png"), "wb") as f:
            f.write(_png_bytes(d % 16, 16, 16, filter_type=d % 5))

    back = spark.read.format("binaryFile").load(out)

    import pandas as pd

    def dec(it):
        import re

        for pdf in it:
            seeds, sums, oks = [], [], []
            for path, length, content in zip(
                pdf["path"], pdf["length"], pdf["content"]
            ):
                m = re.search(r"img_(\d+)\.png$", path)
                d = int(m.group(1))
                px = _parse_png(bytes(content))["pixels"]
                seeds.append(d % 16)
                sums.append(int(px[:, :, 0].astype("int64").sum()))
                oks.append(1 if int(length) == len(bytes(content)) else 0)
            yield pd.DataFrame(
                {"seed": seeds, "px_sum": sums, "len_ok": oks}
            )

    decoded = back.mapInPandas(dec, "seed int, px_sum long, len_ok int")
    return decoded.groupBy("seed").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("px_sum").cast("long").alias("px_sum"),
        F.sum("len_ok").cast("long").alias("len_ok"),
    )


QUERIES["source_binary_files"] = binary_files_counts
# Pixel-formula replay over the same 2% manifest: file count, decoded pixel
# mass, and the length-metadata==content invariant (len_ok == n_files).
ORACLES["source_binary_files"] = """
    WITH d AS (
        SELECT doc_id, doc_id % 16 AS seed FROM documents
        WHERE doc_id % 50 = 0
    ),
    px AS (
        SELECT doc_id, seed,
               (seed * 7 + 3 * x.range + 11 * y.range) % 256 AS v
        FROM d, range(16) x, range(16) y
    )
    SELECT seed::INT AS seed, count(DISTINCT doc_id)::BIGINT AS n_files,
           sum(v)::BIGINT AS px_sum,
           count(DISTINCT doc_id)::BIGINT AS len_ok
    FROM px GROUP BY 1
"""


def incremental_listing(tables: dict[str, DataFrame]) -> DataFrame:
    """Incremental file-listing ingestion — the Auto-Loader / file-notify
    pattern (a landing directory accumulates files; each ingest cycle must
    process exactly the files not seen before, tracked in a manifest):
    batch 1 lands the first half of the feed as text shards and ingests;
    batch 2 lands the second half and ingests again — the second cycle
    must read ONLY the new files (``input_file_name()`` joined anti
    against the persisted manifest), and the returned report proves it by
    rolling up (cycle, rows, files) read back from the manifest and both
    ingests.

    Scale: listing is object-store metadata (cheap); the anti-join keys on
    file name — manifest-sized, broadcastable; data files are read once
    each across all cycles, which is the entire point."""
    ev = tables["events"]
    spark = ev.sparkSession
    root = _scratch(prefix="incr_listing_")
    land, manifest = f"{root}/landing", f"{root}/manifest"
    js = ev.select(
        "event_id",
        F.to_json(F.struct("event_id", "event_type", "value")).alias("value"),
    )
    js.where(F.col("event_id") % 2 == 0).select("value").repartition(
        4
    ).write.mode("overwrite").text(land)

    def ingest(cycle: int):
        raw = spark.read.option("recursiveFileLookup", "true").text(
            land
        ).select(
            F.input_file_name().alias("fname"), "value"
        )
        try:
            seen = spark.read.parquet(manifest).select("fname").distinct()
            fresh = raw.join(F.broadcast(seen), "fname", "left_anti")
        except Exception:  # first cycle: no manifest yet
            fresh = raw
        parsed = fresh.select(
            "fname",
            F.from_json(
                "value", "event_id long, event_type string, value double"
            ).alias("j"),
        )
        stats = parsed.groupBy().agg(
            F.count_distinct("fname").cast("long").alias("n_files"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum(
                F.floor(F.col("j.value") * 100 + F.lit(0.5)).cast("long")
            ).alias("cents"),
        ).collect()[0]
        fresh.select("fname").distinct().withColumn(
            "cycle", F.lit(cycle)
        ).write.mode("append").parquet(manifest)
        return stats

    s1 = ingest(1)
    # batch 2 lands in a subdir so batch-1 shards stay byte-identical
    js.where(F.col("event_id") % 2 == 1).select("value").repartition(
        3
    ).write.mode("overwrite").text(f"{land}/late")
    s2 = ingest(2)
    rows = [(1, s1["n_files"], s1["n_rows"], s1["cents"]),
            (2, s2["n_files"], s2["n_rows"], s2["cents"])]
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["cycle", "n_files", "n_rows", "cents"])
    ).select(
        F.col("cycle").cast("int").alias("cycle"),
        F.col("n_files").cast("long").alias("n_files"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("cents").cast("long").alias("cents"),
    )


QUERIES["source_incremental_listing"] = incremental_listing
# Expected per-cycle split replayed from events: cycle 1 = even ids over 4
# shards, cycle 2 = odd ids over 3 shards, NO re-reads.
ORACLES["source_incremental_listing"] = """
    SELECT 1 AS cycle, 4::BIGINT AS n_files,
           count(*)::BIGINT AS n_rows,
           sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS cents
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT 2, 3::BIGINT, count(*)::BIGINT,
           sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT
    FROM events WHERE event_id % 2 = 1
"""


def parquet_metadata_audit(tables: dict[str, DataFrame]) -> DataFrame:
    """Parquet FOOTER statistics audit — the metadata-trust check every
    lakehouse needs: file-skipping (``warehouse_zonemap_prune``,
    ``source_partition_prune``) is only sound if the footer's
    num_values/null_count/min/max actually agree with the data, so this
    op reads the REAL parquet footers (pyarrow, executor-side) for the
    orders table's numeric columns, aggregates row-group stats to
    table-level, and the oracle recomputes the same numbers from the DATA
    — any writer/footer corruption breaks the hash.

    Scale: the file list (from the scan's own ``inputFiles``) distributes
    over executors via mapInPandas; each task reads FOOTERS only (KBs per
    file, never data pages) — the shape of a million-file lake audit. The
    per-(file, row_group, column) rows aggregate on a |columns|-sized
    key."""
    import pandas as pd

    o = tables["orders"]
    spark = o.sparkSession
    files = [f.replace("file://", "") for f in o.inputFiles()]
    cols = ("o_orderkey", "o_custkey", "o_totalprice")
    # max(1, ...): inputFiles() is empty for non-file-backed plans and
    # repartition(0) is an immediate error
    fdf = spark.createDataFrame([(f,) for f in files], "path string").repartition(
        max(1, min(len(files), 32))
    )

    def footers(it):
        import pyarrow.parquet as pq

        for pdf in it:
            rows = {
                "col": [],
                "num_values": [],
                "null_count": [],
                "min_val": [],
                "max_val": [],
                "missing_stats": [],
            }
            for path in pdf["path"]:
                md = pq.ParquetFile(path).metadata
                idx = {
                    md.row_group(0).column(i).path_in_schema: i
                    for i in range(md.row_group(0).num_columns)
                }
                for rg_i in range(md.num_row_groups):
                    rg = md.row_group(rg_i)
                    for col in cols:
                        c = rg.column(idx[col])
                        st = c.statistics
                        has = st is not None and st.has_min_max
                        rows["col"].append(col)
                        rows["num_values"].append(int(c.num_values))
                        # a writer may legally omit stats; surface the
                        # missing-stats condition as NULLs PLUS an explicit
                        # per-row-group counter — the NULL alone would be
                        # silently absorbed by the table-level sum/min/max
                        # (null-skipping aggregates), making an absent
                        # footer stat indistinguishable from a corrupt one
                        # (ADVICE r7 #3)
                        rows["null_count"].append(
                            int(st.null_count) if st is not None else None
                        )
                        rows["min_val"].append(float(st.min) if has else None)
                        rows["max_val"].append(float(st.max) if has else None)
                        rows["missing_stats"].append(0 if has else 1)
            yield pd.DataFrame(rows)

    per_rg = fdf.mapInPandas(
        footers,
        "col string, num_values long, null_count long, min_val double,"
        " max_val double, missing_stats long",
    )
    return per_rg.groupBy("col").agg(
        F.sum("num_values").cast("long").alias("num_values"),
        F.sum("null_count").cast("long").alias("null_count"),
        F.min("min_val").alias("min_val"),
        F.max("max_val").alias("max_val"),
        F.sum("missing_stats").cast("long").alias("n_missing_stats"),
    )


QUERIES["source_parquet_metadata"] = parquet_metadata_audit
# The data-side recomputation of the footer claims (doubles: BIGINT
# min/max are < 2^53, exact in double). n_missing_stats is pinned at the
# literal 0: the fixture writer always emits row-group statistics, so ANY
# row group with absent stats now flips this column instead of being
# silently absorbed into the null-skipping sum/min/max (ADVICE r7 #3) —
# missing stats and corrupt stats break the hash DIFFERENTLY.
ORACLES["source_parquet_metadata"] = """
    SELECT 'o_orderkey' AS col, count(o_orderkey)::BIGINT AS num_values,
           sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS null_count,
           min(o_orderkey)::DOUBLE AS min_val, max(o_orderkey)::DOUBLE AS max_val,
           0::BIGINT AS n_missing_stats
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(o_custkey)::BIGINT,
           sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
           min(o_custkey)::DOUBLE, max(o_custkey)::DOUBLE, 0::BIGINT
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(o_totalprice)::BIGINT,
           sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
           min(o_totalprice)::DOUBLE, max(o_totalprice)::DOUBLE, 0::BIGINT
    FROM orders
"""


def csv_quoting_roundtrip(tables: dict[str, DataFrame]) -> DataFrame:
    """CSV QUOTING torture — the reader surface ``source_csv_dirty``
    doesn't reach: fields containing the delimiter, double-quote escapes
    (RFC 4180 ""-doubling), and EMBEDDED NEWLINES, written through
    Spark's CSV writer and read back with multiLine=true (without it the
    embedded newline tears the record — the classic silent-corruption
    mode of naive line-splitting readers; multiLine also makes the file
    non-splittable, the documented scale trade). The synthesized tricky
    field stitches event_type + ',' + '\"' + a newline + the value, so
    every hazard appears in every row; the rollup checksums the field
    LENGTHS so a torn or half-unescaped round trip breaks the hash.

    Exactness: counts, cents, and length checksums are exact integers;
    the oracle recomputes the tricky-field length arithmetically from
    the parquet columns the field was built from."""
    ev = tables["events"]
    spark = ev.sparkSession
    tricky = F.concat(
        F.col("event_type"),
        F.lit(',"x'),
        F.lit("\n"),
        F.col("value").cast("string"),
    )
    out = _scratch(prefix="csvq_")
    ev.select(
        "event_id",
        tricky.alias("tricky"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    ).write.mode("overwrite").option("header", "true").csv(out)
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .schema("event_id bigint, tricky string, cents bigint")
        .csv(out)
    )
    return back.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("cents"),
        F.sum("event_id").cast("long").alias("id_checksum"),
        F.sum(F.length("tricky")).cast("long").alias("tricky_len_sum"),
        F.sum(
            F.when(F.col("tricky").contains("\n"), 1).otherwise(0)
        ).cast("long").alias("n_with_newline"),
        F.sum(
            F.when(F.col("tricky").contains(',"x'), 1).otherwise(0)
        ).cast("long").alias("n_with_quote_comma"),
    )


QUERIES["source_csv_quoting"] = csv_quoting_roundtrip
# Length arithmetic: len(event_type) + len(',"x') + len('\n') + len(str(value))
# — DuckDB renders doubles with the same shortest-roundtrip rule Spark's
# cast(string) uses, so the lengths agree (the jsonl_dirty precedent).
ORACLES["source_csv_quoting"] = """
    SELECT count(*)::BIGINT AS n_rows,
           sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS cents,
           sum(event_id)::BIGINT AS id_checksum,
           sum(length(event_type) + 4 + length(value::VARCHAR))::BIGINT
               AS tricky_len_sum,
           count(*)::BIGINT AS n_with_newline,
           count(*)::BIGINT AS n_with_quote_comma
    FROM events
"""
