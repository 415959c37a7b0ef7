import json

import pytest

from flink_210225_spark.operators import stateful
from flink_210225_spark.schemas import TABLE_PROCESS_SCHEMA
from flink_210225_spark.streaming import pipelines as sp

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def event_stream(spark):
    return sp.stream_events(spark, SF_DIR)


def test_windowed_agg_stream_complete_matches_batch(spark, event_stream, tables):
    got = sp.run_stream_to_memory(
        sp.windowed_agg_stream(event_stream), "win_complete", output_mode="complete"
    )
    # batch reference computed with identical expressions
    from pyspark.sql import functions as F

    want = (
        tables["events"]
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour"), F.col("event_type").alias("ch"))
        .agg(
            F.approx_count_distinct("user_id").alias("uv_ct"),
            F.count("*").alias("pv_ct"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "ch",
            "uv_ct",
            "pv_ct",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_uv_dedup_stream_subset_of_batch(spark, event_stream, tables):
    got = sp.run_stream_to_memory(sp.uv_dedup_stream(event_stream), "uv_stream")
    got_keys = {(r.user_id, r.dt) for r in got.collect()}
    want_keys = {
        (r.user_id, r.dt) for r in stateful.unique_visitor_dedup(tables).collect()
    }
    # same (user, day) keys; the surviving event may differ when events are
    # out of order (stream keeps first-arrival, batch keeps first-by-time)
    assert got_keys == want_keys


def test_jump_detection_stream_vs_batch(spark, event_stream, tables):
    got = sp.run_stream_to_memory(
        sp.jump_detection_stream(event_stream), "jump_stream"
    )
    got_ids = {r.event_id for r in got.collect()}
    batch = stateful.jump_detection(tables).collect()
    batch_ids = {r.event_id for r in batch}
    # streaming emits every batch-detected jump except possibly the pending
    # tail (absence-jumps whose event-time timer is beyond the final
    # watermark) — it must be a subset and cover all gap-based jumps
    assert got_ids <= batch_ids
    assert len(got_ids) >= 0.9 * len(batch_ids)


def test_dedup_stream_matches_batch_digests(spark, tables):
    """One drained stream run must admit exactly one doc per distinct text
    digest — the same digest set as batch exact_dedup — and each admitted
    doc must belong to its digest group."""
    from .test_sessions_streamjoin import _file_stream
    from flink_210225_spark.ops.dedup import exact_dedup

    got = sp.run_stream_to_memory(
        sp.dedup_stream(_file_stream(spark, SF_DIR, "documents")), "s_dedup"
    ).collect()
    batch = {r.text_hash: r.dup_ct for r in exact_dedup(tables).collect()}
    assert len(got) == len(batch)
    assert {r.text_hash for r in got} == set(batch)
    from pyspark.sql import functions as F

    members = {
        (r.text_hash, r.doc_id)
        for r in tables["documents"].select(F.md5("text").alias("text_hash"), "doc_id").collect()
    }
    assert all((r.text_hash, r.doc_id) in members for r in got)


def test_dedup_stream_state_spans_batches(spark, tmp_path):
    """A duplicate arriving in a LATER micro-batch is still dropped: two
    files processed one per trigger (maxFilesPerTrigger=1), second file
    re-sends doc 1's text under a new id — only 3 docs admitted."""
    import pandas as pd

    src = tmp_path / "docs"
    src.mkdir()
    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["alpha beta", "gamma delta"],
         "lang": ["en", "en"], "source": ["s", "s"]}
    ).to_parquet(src / "b1.parquet")
    pd.DataFrame(
        {"doc_id": [3, 4], "text": ["alpha beta", "epsilon zeta"],
         "lang": ["en", "en"], "source": ["s", "s"]}
    ).to_parquet(src / "b2.parquet")
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got = sp.run_stream_to_memory(sp.dedup_stream(stream), "s_dedup_2b").collect()
    assert len(got) == 3
    ids = {r.doc_id for r in got}
    assert {2, 4} <= ids and len(ids & {1, 3}) == 1


def test_near_dedup_stream_drops_cross_batch_near_dups(spark, tmp_path):
    """Batch 2 re-sends an exact copy AND a near-dup (1 of 60 tokens
    changed) of a batch-1 doc — both must be dropped against the signature
    store; the unique doc is admitted. A checkpoint-loss replay leaves the
    store unchanged."""
    import pandas as pd

    words = [f"tok{i}" for i in range(60)]
    base = " ".join(words)
    near = " ".join(["changed" if i == 30 else w for i, w in enumerate(words)])
    other = "completely different words describing nothing of relevance to foxes"
    uniq = "yet another entirely unrelated document about gardening and rivers"

    src = tmp_path / "docs"
    src.mkdir()
    pd.DataFrame({"doc_id": [1, 4], "text": [base, other]}).to_parquet(src / "b1.parquet")
    pd.DataFrame({"doc_id": [2, 3, 5], "text": [base, near, uniq]}).to_parquet(
        src / "b2.parquet"
    )
    schema = spark.read.parquet(str(src)).schema

    def run(cp: str):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        sp.near_dedup_stream(stream, str(tmp_path / "store"), str(tmp_path / cp)).awaitTermination()

    run("cp1")

    def admitted():
        return {
            r.doc_id for r in spark.read.parquet(str(tmp_path / "store" / "sigs")).collect()
        }

    assert admitted() == {1, 4, 5}
    run("cp2")  # full replay from scratch: journal makes it a no-op
    assert admitted() == {1, 4, 5}


def test_near_dedup_batch_intra_batch_min_id_survivor(spark, tmp_path):
    """Within one batch the smaller id of a near-dup pair survives."""
    docs = spark.createDataFrame(
        [(7, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta theta"),
         (4, "totally unrelated content about volcanoes and maps")],
        "doc_id long, text string",
    )
    assert sp.near_dedup_batch(docs, 0, str(tmp_path / "store2"))
    got = {r.doc_id for r in spark.read.parquet(str(tmp_path / "store2" / "sigs")).collect()}
    assert got == {2, 4}


def test_embedding_assign_stream_matches_batch_index(spark, tables):
    """Streaming assignment against the frozen quantizer must give every
    vector the same cell the batch ivf_assign pass gives it."""
    from .test_sessions_streamjoin import _file_stream
    from flink_210225_spark.ops.similarity import ivf_assign

    assigned, cent = ivf_assign(tables["embeddings"].select("vec_id", "embedding"))
    want = {r.vec_id: r.cell for r in assigned.collect()}
    got = sp.run_stream_to_memory(
        sp.embedding_assign_stream(_file_stream(spark, SF_DIR, "embeddings"), cent),
        "s_ivf_assign",
    ).collect()
    assert {r.vec_id: r.cell for r in got} == want


def test_ivf_drift_monitor_flags_skew(spark, tables, tmp_path):
    """Batch 1 streams the training corpus itself — observed histogram ==
    training histogram, TVD ≈ 0. Batch 2 dumps a pile of vectors into one
    cell — cumulative TVD must rise and max_load_ratio must exceed 1.
    Replaying batch 1's id against the monitor is a no-op (journal)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from flink_210225_spark.ops.similarity import ivf_assign

    emb = tables["embeddings"].select("vec_id", "embedding")
    assigned, cent = ivf_assign(emb)
    train_sizes = {r.cell: r.ct for r in
                   assigned.groupBy("cell").agg(F.count("*").alias("ct")).collect()}

    src = tmp_path / "emb"
    src.mkdir()
    base = emb.toPandas()
    base.to_parquet(src / "b1.parquet")
    # batch 2: many copies of centroid 0's vector -> all land in one cell
    skew = pd.DataFrame(
        {"vec_id": np.arange(10_000, 10_000 + 200),
         "embedding": [np.asarray(cent[0], dtype=np.float32)] * 200}
    )
    skew.to_parquet(src / "b2.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    mon = str(tmp_path / "monitor")
    sp.run_ivf_drift_monitor_stream(
        stream, cent, train_sizes, mon, str(tmp_path / "cp")
    ).awaitTermination()

    drift = {r.batch_id: r for r in spark.read.parquet(mon + "/drift").collect()}
    assert set(drift) == {0, 1}
    first, second = drift[0], drift[1]
    assert first.tvd < 1e-9 and abs(first.max_load_ratio) > 0
    assert second.tvd > 0.05 and second.max_load_ratio > 1.0

    # journal: re-applying an already-seen batch id must change nothing
    counts_before = sorted(
        map(tuple, spark.read.parquet(mon + "/counts").collect())
    )
    fake = spark.createDataFrame([(0,)], "cell int")
    assert sp.merge_cell_counts_batch(fake, 0, mon, train_sizes) is False
    assert sorted(map(tuple, spark.read.parquet(mon + "/counts").collect())) == counts_before


def test_stats_maintenance_merges_across_batches(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1) must merge into the same
    (day, event_type) totals a single batch aggregate over all data gives,
    and a full checkpoint-loss replay must NOT double-count (batch-id
    journal skips re-applied batches)."""
    import pandas as pd
    from pyspark.sql import functions as F

    src = tmp_path / "ev"
    src.mkdir()
    rows1 = {"ts": pd.to_datetime(["2021-02-25 10:00:00", "2021-02-25 11:00:00"]),
             "event_type": ["click", "click"], "value": [1.5, 2.0]}
    rows2 = {"ts": pd.to_datetime(["2021-02-25 12:00:00", "2021-02-26 09:00:00"]),
             "event_type": ["click", "view"], "value": [3.0, 4.0]}
    # micros, not pandas' default nanos: the session-wide nanosAsLong conf
    # (set for the events fixture) would surface nanos as BIGINT
    pd.DataFrame(rows1).to_parquet(src / "b1.parquet", coerce_timestamps="us")
    pd.DataFrame(rows2).to_parquet(src / "b2.parquet", coerce_timestamps="us")
    schema = spark.read.parquet(str(src)).schema

    def run(cp: str):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        sp.run_stats_maintenance_stream(
            stream, str(tmp_path / "stats"), str(tmp_path / cp)
        ).awaitTermination()

    run("cp1")

    def table():
        return {
            (r.day, r.event_type): (r.pv_ct, round(r.value_sum, 2))
            for r in spark.read.parquet(str(tmp_path / "stats" / "table")).collect()
        }

    want = {
        (r.day, r.event_type): (r.pv_ct, round(r.value_sum, 2))
        for r in spark.read.parquet(str(src))
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .agg(F.count("*").alias("pv_ct"), F.sum("value").alias("value_sum"))
        .collect()
    }
    assert table() == want
    # replay from scratch (checkpoint lost): same batch ids re-delivered
    run("cp2")
    assert table() == want


def test_router_stream_end_to_end(spark, tmp_path):
    from flink_210225_spark.schemas import CDC_ENVELOPE_SCHEMA

    cdc_dir = tmp_path / "cdc"
    cdc_dir.mkdir()
    envelopes = [
        {"databaseName": "g", "tableName": "order_info", "type": "insert",
         "data": {"id": "1", "total_amount": "10.5", "junk": "z"}},
        {"databaseName": "g", "tableName": "user_info", "type": "insert",
         "data": {"id": "7", "name": "u7"}},
        {"databaseName": "g", "tableName": "user_info", "type": "update",
         "data": {"id": "7", "name": "u7b"}},
        {"databaseName": "g", "tableName": "order_info", "type": "delete",
         "data": {"id": "1"}},
    ]
    (cdc_dir / "batch.json").write_text("\n".join(json.dumps(e) for e in envelopes))

    def config_loader(s):
        rows = [
            ("order_info", "insert", "kafka", "dwd_order_info", "id,total_amount", None, None),
            ("user_info", "insert", "hbase", "dim_user_info", "id,name", "id", None),
            ("user_info", "update", "hbase", "dim_user_info", "id,name", "id", None),
        ]
        return s.createDataFrame(rows, TABLE_PROCESS_SCHEMA)

    stream = spark.readStream.schema(CDC_ENVELOPE_SCHEMA).json(str(cdc_dir))
    q = sp.run_router_stream(
        stream, config_loader, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    topic = spark.read.parquet(str(tmp_path / "out/topics/dwd_order_info")).collect()
    assert len(topic) == 1
    assert json.loads(topic[0]["data_json"]) == {"id": "1", "total_amount": "10.5"}
    dim = spark.read.parquet(str(tmp_path / "out/dims/dim_user_info")).collect()
    assert len(dim) == 1  # upsert collapsed insert+update
    assert json.loads(dim[0]["payload"])["name"] == "u7b"

    # T7 exactly-once: restart against the same checkpoint — already-committed
    # batches must not replay, so outputs stay byte-identical.
    q2 = sp.run_router_stream(
        stream, config_loader, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q2.awaitTermination()
    assert len(spark.read.parquet(str(tmp_path / "out/topics/dwd_order_info")).collect()) == 1
    assert len(spark.read.parquet(str(tmp_path / "out/dims/dim_user_info")).collect()) == 1


def test_curation_stream_writes_partitioned_dataset(spark, tmp_path):
    """Curated-dataset writer: selected docs land under split=... partitions
    and equal the batch pipeline's selected set; a restart against the same
    checkpoint replays nothing (file-sink exactly-once)."""
    from flink_210225_spark.io import load_tables
    from flink_210225_spark.ops.text import curation_pipeline
    from .test_sessions_streamjoin import _file_stream
    from .conftest import SF_DIR

    out, ckpt = str(tmp_path / "dataset"), str(tmp_path / "ckpt")
    stream = _file_stream(spark, SF_DIR, "documents")
    sp.run_curation_stream(stream, out, ckpt).awaitTermination()

    got = spark.read.parquet(out)
    assert set(r.split for r in got.select("split").distinct().collect()) <= {
        "train", "val", "test"}
    want = curation_pipeline(load_tables(spark, SF_DIR)).filter("selected")
    cols = ["doc_id", "quality", "keep_repetition", "pred_lang", "split", "selected"]
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect()))

    n0 = got.count()
    sp.run_curation_stream(stream, out, ckpt).awaitTermination()
    assert spark.read.parquet(out).count() == n0


def test_session_stream_matches_batch(spark, event_stream, tables):
    """Streaming sessionization == batch session_window_agg on the same
    fixture (complete mode drains all sessions; the operator is the SAME
    function both ways — only the watermark wrapper differs)."""
    from pyspark.sql import functions as F

    from flink_210225_spark.operators.sessions import session_window_agg

    got = sp.run_stream_to_memory(
        sp.session_stream(event_stream), "sess_stream", output_mode="complete"
    )
    want = session_window_agg(
        tables["events"].withColumn("ts", F.col("ts").cast("timestamp"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_scd2_stream_matches_batch_history(spark, tmp_path):
    """Two SCD2 micro-batches must derive the same history as a single batch
    scd2_history over all changes, and a checkpoint-loss replay must leave
    the store unchanged (batch-id journal)."""
    import pandas as pd

    from flink_210225_spark.operators.router import scd2_history

    src = tmp_path / "chg"
    src.mkdir()
    b1 = {"key": [1, 1, 2], "type": ["insert", "update", "insert"],
          "ts": [10, 20, 10], "val": ["a", "b", "x"]}
    b2 = {"key": [1, 2, 3], "type": ["update", "delete", "insert"],
          "ts": [30, 50, 10], "val": ["c", None, "z"]}
    pd.DataFrame(b1).to_parquet(src / "b1.parquet")
    pd.DataFrame(b2).to_parquet(src / "b2.parquet")
    schema = spark.read.parquet(str(src)).schema

    def run(cp: str):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        sp.run_scd2_stream(
            stream, str(tmp_path / "dim"), str(tmp_path / cp)
        ).awaitTermination()

    run("cp1")

    def table():
        return {
            (r.key, r.version): (r.val, r.valid_from, r.valid_to, r.is_current)
            for r in spark.read.parquet(str(tmp_path / "dim" / "table")).collect()
        }

    got = table()
    all_changes = spark.createDataFrame(
        pd.concat([pd.DataFrame(b1), pd.DataFrame(b2)]),
    )
    want = {
        (r.key, r.version): (r.val, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_history(all_changes, ["key"], "ts").collect()
    }
    assert got == want
    # k1: 3 chained versions; k2: closed by delete; k3 current
    assert got[(1, 3)][3] is True and got[(2, 1)][3] is False

    run("cp_replay")  # fresh checkpoint -> re-deliver everything
    assert table() == got


def test_scd2_merge_idempotent_after_lost_journal(spark, tmp_path):
    """ADVICE r1: a crash after the change-store overwrite but before the
    journal append re-delivers the batch with its rows already stored. The
    per-row batch_id tag must make the retried merge a no-op instead of
    doubling (key, ts) change rows into nondeterministic SCD2 versions."""
    import shutil

    from flink_210225_spark.streaming.pipelines import merge_scd2_batch

    dim = tmp_path / "dim"
    b0 = spark.createDataFrame(
        [(1, "insert", 10, "a")], "key long, type string, ts long, val string"
    )
    b1 = spark.createDataFrame(
        [(1, "update", 20, "b"), (2, "insert", 10, "x")],
        "key long, type string, ts long, val string",
    )
    assert merge_scd2_batch(b0, 0, str(dim))
    assert merge_scd2_batch(b1, 1, str(dim))
    want = {
        (r.key, r.version): (r.val, r.is_current)
        for r in spark.read.parquet(str(dim / "table")).collect()
    }
    # simulate the crash window: journal row for batch 1 lost, store kept
    shutil.rmtree(dim / "_applied")
    merge_scd2_batch(b0, 0, str(dim))  # both batches re-delivered
    assert merge_scd2_batch(b1, 1, str(dim))
    got = {
        (r.key, r.version): (r.val, r.is_current)
        for r in spark.read.parquet(str(dim / "table")).collect()
    }
    assert got == want
    n_stored = spark.read.parquet(str(dim / "changes")).count()
    assert n_stored == 3, "change rows duplicated on retry"


def test_layered_warehouse_end_to_end(spark, event_stream, tables, tmp_path):
    """The reference's full architecture in ONE chained flow (SURVEY §3.1):
    ODS event stream → DWS windowed aggregation (watermarked) → foreachBatch
    into the day-partitioned serving store → batch dashboard read with
    partition pruning — and the served numbers equal a batch recompute of
    the same day from the raw fixture."""
    from pyspark.sql import functions as F

    from flink_210225_spark.operators import warehouse
    from flink_210225_spark.plans import explain

    store = str(tmp_path / "dws_store")
    agg_stream = sp.windowed_agg_stream(event_stream)
    q = (
        agg_stream.writeStream.foreachBatch(
            lambda df, bid: warehouse.write_stats(df, store)
        )
        .option("checkpointLocation", str(tmp_path / "cp"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    days = sorted(
        str(r["dt"]) for r in warehouse.read_stats(spark, store).select("dt").distinct().collect()
    )
    assert days, "stream landed nothing in the serving store"
    day = days[len(days) // 2]  # interior day: every window closed + emitted

    served = warehouse.stats_for_day(spark, store, day)
    plan = explain.formatted_plan(served)
    assert "PartitionFilters" in plan, "dashboard read lost partition pruning"

    got = {
        (r.stt, r.ch): (r.uv_ct, r.pv_ct)
        for r in served.select("stt", "ch", "uv_ct", "pv_ct").collect()
    }
    want_df = (
        tables["events"]
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .filter(F.to_date("ts") == day)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type").alias("ch"))
        .agg(
            F.approx_count_distinct("user_id").alias("uv_ct"),
            F.count("*").alias("pv_ct"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            "ch",
            "uv_ct",
            "pv_ct",
        )
    )
    want = {(r.stt, r.ch): (r.uv_ct, r.pv_ct) for r in want_df.collect()}
    assert got == want


def test_pattern_matches_batch_semantics(spark):
    """Crafted sequences: relaxed contiguity, window reset with re-try, and
    non-overlapping greedy restarts."""
    import datetime as dt

    t0 = dt.datetime(2021, 1, 1)

    def ev(eid, sec, u, typ):
        return (eid, t0 + dt.timedelta(seconds=sec), u, typ, 0.0, "{}")

    rows = [
        # u1: view click purchase with noise -> one match (1, 4)
        ev(1, 0, 1, "view"), ev(2, 10, 1, "error"), ev(3, 20, 1, "click"), ev(4, 30, 1, "purchase"),
        # and a second full match later -> (5, 7)
        ev(5, 100, 1, "view"), ev(6, 110, 1, "click"), ev(7, 120, 1, "purchase"),
        # u2: window exceeded mid-pattern; the late view re-seeds and completes
        ev(10, 0, 2, "view"), ev(11, 10, 2, "click"),
        ev(12, 5000, 2, "view"), ev(13, 5010, 2, "click"), ev(14, 5020, 2, "purchase"),
        # u3: never completes
        ev(20, 0, 3, "view"), ev(21, 10, 3, "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = {
        (r.user_id, r.start_event_id, r.end_event_id)
        for r in stateful.pattern_matches({"events": df}, within_sec=3600).collect()
    }
    assert got == {(1, 1, 4), (1, 5, 7), (2, 12, 14)}


def test_pattern_kernel_invariants_random(spark):
    """Hypothesis-style randomized soundness over the batch path: every
    emitted match is type-correct, in-window, and matches are ordered and
    disjoint per user."""
    import random

    import datetime as dt

    rnd = random.Random(7)
    types = ["view", "click", "purchase", "error", "signup"]
    t0 = dt.datetime(2021, 1, 1)
    rows = []
    eid = 0
    for u in range(8):
        for _ in range(rnd.randint(5, 40)):
            eid += 1
            rows.append(
                (eid, t0 + dt.timedelta(seconds=rnd.randint(0, 7200)), u, rnd.choice(types), 0.0, "{}")
            )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    within = 600
    got = stateful.pattern_matches({"events": df}, within_sec=within).collect()
    info = {r[0]: (r[1], r[3]) for r in rows}  # eid -> (ts, type)
    by_user = {}
    for r in got:
        by_user.setdefault(r.user_id, []).append((r.start_event_id, r.end_event_id))
        ts_s, ty_s = info[r.start_event_id]
        ts_e, ty_e = info[r.end_event_id]
        assert ty_s == "view" and ty_e == "purchase"
        assert (ts_e - ts_s).total_seconds() <= within
    for u, ms in by_user.items():
        ms.sort()
        ends = [info[e][0] for _, e in ms]
        starts = [info[s][0] for s, _ in ms]
        for i in range(len(ms) - 1):
            assert ends[i] <= starts[i + 1], (u, ms)  # disjoint, ordered


def test_pattern_stream_continues_across_batches(spark, tmp_path):
    """A pattern straddling the micro-batch boundary must still match: batch
    1 delivers view+click, batch 2 the purchase. Stream result == batch
    result on the union."""
    import pandas as pd

    src = tmp_path / "pev"
    src.mkdir()
    b1 = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime(["2021-01-01 10:00:00", "2021-01-01 10:05:00"]),
            "user_id": [1, 1],
            "event_type": ["view", "click"],
            "value": [0.0, 0.0],
            "props": ["{}", "{}"],
        }
    )
    b2 = pd.DataFrame(
        {
            "event_id": [3, 4, 5],
            "ts": pd.to_datetime(
                ["2021-01-01 10:10:00", "2021-01-01 10:12:00", "2021-01-01 10:15:00"]
            ),
            "user_id": [1, 2, 1],
            "event_type": ["purchase", "view", "view"],
            "value": [0.0, 0.0, 0.0],
            "props": ["{}", "{}", "{}"],
        }
    )
    b1.to_parquet(src / "b1.parquet", coerce_timestamps="us")
    b2.to_parquet(src / "b2.parquet", coerce_timestamps="us")
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    got = sp.run_stream_to_memory(sp.pattern_stream(stream), "pattern_s").collect()
    assert {(r.user_id, r.start_event_id, r.end_event_id) for r in got} == {(1, 1, 3)}

    batch = stateful.pattern_matches({"events": spark.read.parquet(str(src))})
    want = {(r.user_id, r.start_event_id, r.end_event_id) for r in batch.collect()}
    assert {(r.user_id, r.start_event_id, r.end_event_id) for r in got} == want


@pytest.mark.parametrize("name", sorted(sp.QUERIES))
def test_stream_capstone_matches_oracle(tables, name):
    """Every materialized streaming capstone — fixture replayed through
    readStream, its state (dedup digests, window/session/join buffers,
    keyed timers, the two-stage cusum cascade) carried across micro-batches
    and drained through the sink's commit log — must equal its DuckDB
    oracle (stream == batch)."""
    from .oracle import assert_matches_oracle

    assert_matches_oracle(sp.QUERIES[name](tables), sp.ORACLES[name], SF_DIR)


def _empty_events_copy(dst):
    """sf0.001 with a zero-row events.parquet of the same schema (every
    other table symlinked)."""
    import os

    import pyarrow.parquet as pq

    for f in os.listdir(SF_DIR):
        if f != "events.parquet":
            os.symlink(os.path.join(SF_DIR, f), dst / f)
    schema = pq.read_schema(os.path.join(SF_DIR, "events.parquet"))
    pq.write_table(schema.empty_table(), dst / "events.parquet")
    return str(dst)


@pytest.mark.parametrize(
    "name",
    [
        "stream_window_materialized",
        "stream_stateful_materialized",
        "stream_session_materialized",
        "stream_topk_materialized",
        "stream_dedup_wm_materialized",
        "stream_funnel_materialized",
        "stream_changepoint_materialized",
        "stream_cusum_materialized",
    ],
)
def test_stream_capstone_empty_events(spark, tmp_path, name):
    """A zero-row events fixture stages no sentinels and drains to an
    empty sink, which reads back as zero rows — the oracle's answer — not
    a crash at ``max_ts + offset`` or an AnalysisException."""
    from flink_210225_spark.io import load_tables

    from .oracle import assert_matches_oracle

    sf_dir = _empty_events_copy(tmp_path)
    df = sp.QUERIES[name](load_tables(spark, sf_dir))
    assert_matches_oracle(df, sp.ORACLES[name], sf_dir)


def test_pattern_stream_cross_batch_disorder(spark, tmp_path):
    """Watermark-ordered CEP: the click arrives one micro-batch AFTER the
    purchase but within the 10 s watermark delay, so event-time order is
    view->click->purchase and the stream must match exactly like the batch
    kernel. The arrival-order implementation this replaces saw
    view,purchase|click and matched nothing."""
    import pandas as pd

    src = tmp_path / "oev"
    src.mkdir()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    b1 = pd.DataFrame(
        [
            [1, pd.Timestamp("2021-01-01 10:00:00"), 1, "view", 0.0, "{}"],
            [2, pd.Timestamp("2021-01-01 10:00:08"), 1, "purchase", 0.0, "{}"],
        ],
        columns=cols,
    )
    # the out-of-order click, plus a later event that pushes the watermark
    # past all of user 1's events
    b2 = pd.DataFrame(
        [
            [3, pd.Timestamp("2021-01-01 10:00:04"), 1, "click", 0.0, "{}"],
            [4, pd.Timestamp("2021-01-01 10:00:30"), 2, "view", 0.0, "{}"],
        ],
        columns=cols,
    )
    b1.to_parquet(src / "b1.parquet", coerce_timestamps="us")
    b2.to_parquet(src / "b2.parquet", coerce_timestamps="us")
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    got = sp.run_stream_to_memory(sp.pattern_stream(stream), "pattern_ooo").collect()
    stream_set = {(r.user_id, r.start_event_id, r.end_event_id) for r in got}
    assert stream_set == {(1, 1, 2)}

    batch = stateful.pattern_matches({"events": spark.read.parquet(str(src))})
    want = {(r.user_id, r.start_event_id, r.end_event_id) for r in batch.collect()}
    assert stream_set == want


def test_jump_stream_cross_batch_disorder(spark, tmp_path):
    """Watermark-ordered jump detection: an arrival-order gap of 15 s >
    timeout=10 s is FILLED by an event that arrives one micro-batch later
    (but inside the 10 s watermark delay), so no jump exists at events 1/3;
    only the chain's final event times out. The arrival-order
    implementation this replaces emitted the false jump."""
    import pandas as pd

    src = tmp_path / "jev"
    src.mkdir()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    b1 = pd.DataFrame(
        [
            [1, pd.Timestamp("2021-01-01 10:00:00"), 1, "view", 0.0, "{}"],
            [4, pd.Timestamp("2021-01-01 10:00:15"), 1, "view", 0.0, "{}"],
        ],
        columns=cols,
    )
    b2 = pd.DataFrame(
        [
            [3, pd.Timestamp("2021-01-01 10:00:08"), 1, "view", 0.0, "{}"],
            [9, pd.Timestamp("2021-01-01 10:01:00"), 2, "view", 0.0, "{}"],
        ],
        columns=cols,
    )
    b1.to_parquet(src / "b1.parquet", coerce_timestamps="us")
    b2.to_parquet(src / "b2.parquet", coerce_timestamps="us")
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    got = sp.run_stream_to_memory(
        sp.jump_detection_stream(stream, timeout_sec=10), "jump_ooo"
    ).collect()
    # gaps in EVENT time: 1->3 is 8 s, 3->4 is 7 s (both <= 10 s, no jump);
    # event 4 times out once the watermark passes 10:00:25. User 2's lone
    # event stays pending (watermark never passes it) — not emitted.
    assert {(r.user_id, r.event_id) for r in got} == {(1, 4)}


def test_curation_filesink_chaos_kill_and_restart_exactly_once(spark, tables, tmp_path):
    """VERDICT r2 #10 — chaos the FILE-SINK path (the journal tests cover
    foreachBatch, not this): replay the documents fixture in 4 micro-batches
    through run_curation_stream, KILL the query after the first batch
    commits (the stop lands wherever it lands — possibly mid-write of a
    later batch), restart against the same checkpoint, and assert the
    materialized output equals a clean run exactly: the file sink's commit
    log must hide any uncommitted files and the restart must neither skip
    nor duplicate a batch."""
    import time

    docs = tables["documents"]
    src = str(tmp_path / "src")
    docs.repartition(4).write.parquet(src)

    def stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    # clean reference run
    out_ref, cp_ref = str(tmp_path / "out_ref"), str(tmp_path / "cp_ref")
    sp.run_curation_stream(stream(), out_ref, cp_ref).awaitTermination()
    ref = {
        tuple(r)
        for r in spark.read.parquet(out_ref)
        .select("doc_id", "quality", "split", "selected")
        .collect()
    }
    assert ref, "reference run produced nothing"

    # chaos run: kill after the first committed batch
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    q = sp.run_curation_stream(stream(), out, cp)
    deadline = time.time() + 60
    while time.time() < deadline:
        p = q.lastProgress
        if p is not None and p["numInputRows"] > 0:
            break
        time.sleep(0.05)
    q.stop()
    q.awaitTermination()
    n_partial = (
        spark.read.parquet(out).count()
        if any(tmp_path.joinpath("out").iterdir())
        else 0
    )
    if n_partial >= len(ref):
        pytest.skip("stop landed after all batches committed; no chaos this run")

    # restart against the same checkpoint: must finish the remaining batches
    sp.run_curation_stream(stream(), out, cp).awaitTermination()
    got = {
        tuple(r)
        for r in spark.read.parquet(out)
        .select("doc_id", "quality", "split", "selected")
        .collect()
    }
    assert got == ref


def test_funnel_stream_materialized_matches_batch(tables):
    """Seventh streaming capstone: stream funnel == batch windowed funnel."""
    from flink_210225_spark.operators import sessions

    got = sorted(
        map(tuple, sp.funnel_stream_materialized(tables).collect())
    )
    want = sorted(map(tuple, sessions.funnel_windowed(tables).collect()))
    assert got == want


def test_funnel_stream_cross_batch_disorder(spark, tmp_path):
    """Watermark-ordered funnel: the click arrives one micro-batch AFTER
    the purchase but earlier in EVENT time, so the true order is
    view->click->purchase and depth 3 must be reached. An arrival-order
    fold would see view,purchase|click and stop at depth 2."""
    import pandas as pd

    src = tmp_path / "fev"
    src.mkdir()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    b1 = pd.DataFrame(
        [
            [1, pd.Timestamp("2021-01-01 10:00:00"), 1, "view", 0.0, "{}"],
            [2, pd.Timestamp("2021-01-01 10:00:08"), 1, "purchase", 0.0, "{}"],
        ],
        columns=cols,
    )
    b2 = pd.DataFrame(
        [
            [3, pd.Timestamp("2021-01-01 10:00:04"), 1, "click", 0.0, "{}"],
            [4, pd.Timestamp("2021-01-01 11:00:30"), 2, "view", 0.0, "{}"],
            [5, pd.Timestamp("2021-01-01 12:00:30"), 2, "view", 0.0, "{}"],
        ],
        columns=cols,
    )
    b1.to_parquet(src / "b1.parquet", coerce_timestamps="us")
    b2.to_parquet(src / "b2.parquet", coerce_timestamps="us")
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    got = sp.run_stream_to_memory(sp.funnel_stream(stream), "funnel_ooo").collect()
    depth = {}
    for r in got:
        depth[r.user_id] = max(depth.get(r.user_id, 0), r.depth)
    assert depth[1] == 3


def test_session_stream_chaos_kill_and_restart_exactly_once(
    spark, tables, tmp_path
):
    """Chaos the TENTH capstone's state path: session-window MERGE state
    must survive a mid-run kill — sessions held open in the state store
    when the query dies must resume from the checkpoint and flush
    identically. Kill after the first committed batch, restart on the
    same checkpoint, compare to a clean run (same staged source)."""
    import time

    from pyspark.sql import functions as F

    from flink_210225_spark.operators.sessions import session_window_agg

    ev = tables["events"]
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    raw = spark.read.parquet(src)
    max_ts = raw.agg(F.max("ts")).collect()[0][0]
    from datetime import timedelta

    for i, hours in enumerate((2, 4)):
        sent = spark.createDataFrame(
            [(-(i + 1), max_ts + timedelta(hours=hours), -1, "__sentinel__", 0.0, "{}")],
            raw.schema,
        )
        sent.coalesce(1).write.mode("append").parquet(src)

    def run(out, cp):
        stream = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        agg = session_window_agg(stream.withWatermark("ts", "10 seconds"))
        return (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )

    with sp._stream_shuffle(spark):
        out_ref, cp_ref = str(tmp_path / "out_ref"), str(tmp_path / "cp_ref")
        run(out_ref, cp_ref).awaitTermination()
        ref = {
            tuple(r)
            for r in spark.read.parquet(out_ref)
            .filter(F.col("user_id") >= 0)
            .collect()
        }
        assert ref, "reference run produced nothing"

        out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
        q = run(out, cp)
        deadline = time.time() + 60
        while time.time() < deadline:
            p = q.lastProgress
            if p is not None and p["numInputRows"] > 0:
                break
            time.sleep(0.05)
        q.stop()
        q.awaitTermination()
        try:
            n_partial = spark.read.parquet(out).count()
        except Exception:
            n_partial = 0
        if n_partial >= len(ref):
            pytest.skip("stop landed after everything committed; no chaos")

        run(out, cp).awaitTermination()
        got = {
            tuple(r)
            for r in spark.read.parquet(out)
            .filter(F.col("user_id") >= 0)
            .collect()
        }
    assert got == ref
