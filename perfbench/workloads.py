"""The benchmark's workloads: each is a fixed list of registered queries
(module, name) run closed loop by one client, over inputs generated at
``scale`` (relative to sf0.1 row counts) with ``events`` written as
``slices`` event-time slices. ``pass_s`` is one warm pass over the list,
measured on 4 cores when the workload was defined; it turns ``--seconds``
into a fixed pass count. ``warmup`` untimed passes come first: the JVM
still speeds the serving panels up on their second pass, while the
streams run at their timed speed from the second pass on."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[tuple[str, str], ...]  # (module under flink_210225_spark, query)
    scale: float
    pass_s: float
    slices: int = 1
    warmup: int = 2


def _ops(module: str, names: str) -> tuple[tuple[str, str], ...]:
    return tuple((module, n) for n in names.split())


WORKLOADS = {
    w.name: w
    for w in (
        # The publisher's eight dashboard panels, refreshed back to back.
        Workload(
            "dashboard",
            _ops(
                "operators.serving",
                "serving_gmv serving_trademark_topn serving_category_topn "
                "serving_spu_topn serving_province serving_visitor "
                "serving_hourly serving_keyword_topn",
            ),
            scale=0.1,
            pass_s=3.5,
        ),
        # Streaming capstones: UV dedup state (two replays of events),
        # dim upserts through foreachBatch, stream-static enrich.
        Workload(
            "stream_chain",
            _ops(
                "streaming.pipelines",
                "stream_dedup_wm_materialized stream_upsert_materialized "
                "stream_enrich_materialized",
            ),
            scale=0.01,
            pass_s=7.0,
            warmup=1,
        ),
        # LLM-data operators: Python/Arrow UDFs, spreads, checkpoints.
        # Not in BENCHMARK.json (a run takes ~90 s on 4 cores); run it by
        # name. sim_kmeans_exact raises on inputs whose vec_ids skip 0..7.
        Workload(
            "corpus",
            _ops("ops.text", "text_quality_rrf text_repetition text_bpe_merge_round")
            + _ops("ops.dedup", "dedup_minhash_verified dedup_exact")
            + _ops("ops.similarity", "sim_knn_graph sim_kmeans_exact")
            + _ops("ops.multimodal", "multimodal_image_histogram"),
            scale=0.1,
            pass_s=18.0,
        ),
    )
}
