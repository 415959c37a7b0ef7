"""Round-11 optimization gates.

Scale-conditional ``io.spread`` (VERDICT r10 #2): the round-robin
repartition that parallelizes single-split fixture scans must NOT fire
when the source already arrives in many file splits — on a cluster the
unconditional version was a full corpus network pass (guide §2.3/§2.4).
"""

import pytest


def _n_files(spark, tmpdir, n):
    path = str(tmpdir.join(f"many_{n}"))
    spark.range(10_000).repartition(n).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_few_input_splits_single_fixture_file(tables):
    from flink_210225_spark.io import few_input_splits

    # premise: every fixture table is one parquet file -> one split
    assert few_input_splits(tables["documents"]) is True


def test_few_input_splits_many_files(spark, tmpdir):
    from flink_210225_spark.io import few_input_splits

    par = spark.sparkContext.defaultParallelism
    many = _n_files(spark, tmpdir, max(par, 2))
    assert few_input_splits(many) is False


@pytest.mark.parametrize(
    "module",
    ["similarity", "text", "multimodal"],
)
def test_spread_skips_many_split_source(spark, tmpdir, module):
    """Each module's spreads go through the one ``io.spread``, and a
    many-file source passes through it without a repartition — round-robin
    or hashed: the plan keeps the scan's own partitioning (no added
    Exchange)."""
    import importlib

    from flink_210225_spark.io import spread

    mod = importlib.import_module(f"flink_210225_spark.ops.{module}")
    assert mod.spread is spread
    par = spark.sparkContext.defaultParallelism
    many = _n_files(spark, tmpdir, max(par, 2))
    for keys in ((), ("id",)):
        assert spread(many, *keys) is many  # identity: no Exchange added
    assert "Exchange" not in many._jdf.queryExecution().executedPlan().toString()


def test_spread_still_fires_on_single_split(tables):
    """Fixture scans (one file) must keep the local-mode parallelism fix,
    round-robin and hashed by key alike."""
    from flink_210225_spark.io import spread

    docs = tables["documents"].select("doc_id")
    par = docs.sparkSession.sparkContext.defaultParallelism
    assert spread(docs).rdd.getNumPartitions() == par
    assert spread(docs, "doc_id").rdd.getNumPartitions() == par


def test_doc_shingles_skips_spread_on_many_files(spark, tmpdir):
    from flink_210225_spark.ops.dedup import doc_shingles

    par = spark.sparkContext.defaultParallelism
    docs = (
        spark.range(10_000)
        .selectExpr("id as doc_id", "concat('tok a b c d ', id) as text")
        .repartition(max(par, 2))
    )
    path = str(tmpdir.join("docs_many"))
    docs.write.mode("overwrite").parquet(path)
    many = spark.read.parquet(path)
    sh = doc_shingles(many)
    plan = sh._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

# ---- r11 redundant-derivation fixes (plan gates) -----------------------


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_langid_trigram_no_per_consumer_preagg_exchange(tables):
    """The scoring branch must reach the broadcast profile join straight
    from its explode — no per-doc pre-aggregation exchange (the r11 shared
    pre-agg shape paid a full hash(doc_id,lang,tg) exchange per consumer
    and replayed the explode anyway)."""
    from flink_210225_spark.ops.text import langid_trigram

    import re

    plan = _plan(langid_trigram(tables))
    # Exactly the natural exchanges survive: the two spread round-robins,
    # the vocab-sized (lang,tg) agg, the tg window, the (doc_id,plang) agg
    # + doc windows, and the final join. The per-doc pre-agg added TWO
    # hashpartitioning(doc_id, lang, tg) exchanges; none may remain.
    assert not re.search(r"hashpartitioning\(doc_id#\d+L?, lang#\d+, tg#\d+", plan)


def test_medallion_recon_no_scalar_subqueries(tables):
    """The ledger must be literals computed in three explicit passes — the
    scalar-subquery form re-scanned events 17x (ReuseSubquery dedups none
    of them)."""
    from flink_210225_spark.operators.warehouse import medallion_recon

    out = medallion_recon(tables)
    plan = _plan(out)
    assert "Subquery" not in plan and "events" not in plan
    row = out.collect()[0]
    assert row["ledger_balances"] and row["gold_covers_silver"]


def test_semantic_audit_single_join_shape(tables):
    """One full-outer join + one aggregate + stack — the 3-way union form
    re-derived the exact GEMM per branch (16 scans -> 6)."""
    from flink_210225_spark.ops.similarity import semantic_dedup_audit

    plan = _plan(semantic_dedup_audit(tables))
    assert plan.count("Scan parquet") <= 6
    assert "Union" not in plan


def test_bloom_index_checkpointed_slivers(tables):
    """words/probe are checkpointed: the returned plan reads the
    checkpointed RDDs, not fresh orders/customer scans (12 -> 2)."""
    from flink_210225_spark.operators.warehouse import bloom_index_probe

    plan = _plan(bloom_index_probe(tables))
    assert plan.count("Scan parquet") <= 2


def test_medallion_recon_values_match_manual(tables):
    """The folded one-pass censuses must equal independently recomputed
    counts (guards the conditional-aggregate rewrite)."""
    from pyspark.sql import functions as F

    ev = tables["events"]
    known = ("click", "view", "purchase", "signup", "error")
    parsed = ev.select(
        "user_id", "event_type", "value", F.to_date("ts").alias("day"),
        F.get_json_object("props", "$.k").isNotNull().alias("props_ok"),
        (F.col("value") >= 0).alias("value_ok"),
        F.col("event_type").isin(*known).alias("type_ok"),
    )
    n_bad_props = parsed.where(~F.col("props_ok")).count()
    clean = parsed.where("props_ok AND value_ok AND type_ok")
    n_clean = clean.count()
    n_silver = (
        clean.select("user_id", "event_type", "value", "day").distinct().count()
    )
    from flink_210225_spark.operators.warehouse import medallion_recon

    row = medallion_recon(tables).collect()[0]
    assert row["rejected_props"] == n_bad_props
    assert row["silver_rows"] == n_silver
    assert row["deduped_rows"] == n_clean - n_silver


def test_theil_sen_daily_checkpointed_base(tables):
    """The returned plan derives everything from the checkpointed daily
    frame — the scalar-subquery replays must not re-scan events."""
    from flink_210225_spark.operators.windows import theil_sen_daily

    assert "Scan parquet" not in _plan(theil_sen_daily(tables))


def test_pq_audit_no_coding_subqueries(tables):
    """MSE scalars are collected at build time: the returned plan is one
    count over embeddings — no Arrow coding subquery replays."""
    from flink_210225_spark.ops.similarity import pq_audit

    plan = _plan(pq_audit(tables))
    assert "Subquery" not in plan and plan.count("Scan parquet") == 1
