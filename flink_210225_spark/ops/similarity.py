"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline. The
  query side is tiny (explicit id predicate) and broadcast; the corpus side
  streams through one pass computing dot/norm via JVM lambda expressions
  (zip_with + aggregate — no Python). Cost O(|queries| × corpus) per batch:
  right for small query sets or as the re-rank stage.
- ``lsh_ann_topk``: the scale path — random-hyperplane (sign) LSH buckets
  both sides; only same-bucket pairs get exact cosine, then per-query top-k.
  Hyperplane components are deterministic pseudo-randoms derived from
  xxhash64(plane, dim), so signatures are reproducible across runs/engines.
  Probing all buckets at hamming ≤ 1 keeps recall high at 8 bits.

Embeddings are cast float→double elementwise BEFORE any arithmetic so
results are bit-identical to the DuckDB oracle's ::DOUBLE math (float32
intermediate rounding would diverge).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_210225_spark.functions.scalars import round6
# spread only row-level arithmetic paths; never spread order-sensitive
# float folds (ivf_assign / pq_train partial sums feed exact-hash twins like
# sim_pq_k1_identity — repartitioning reorders them and moves centroids by ulps)
from flink_210225_spark.io import spread

DIM = 64


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))



def _quantize_longs(vv: Column, levels: int) -> Column:
    """Per-vector symmetric scalar quantization to exact longs — the
    ``quantize_int8`` grid (q = floor(x/scale + 0.5), scale = maxabs/levels,
    zero-vector scale pinned to 1) shared by every kernel that needs exact
    integer dot products. maxabs is let-bound through a single-element
    transform so the per-element lambda never re-folds it (the O(dim²)
    CSE pitfall documented on quantize_int8)."""
    maxabs = F.aggregate(vv, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))

    def with_m(m: Column) -> Column:
        scale = F.when(m == 0.0, F.lit(1.0)).otherwise(m / float(levels))
        return F.transform(vv, lambda x: F.floor(x / scale + 0.5).cast("long"))

    return F.get(F.transform(F.array(maxabs), with_m), 0)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def with_norm(emb: DataFrame) -> DataFrame:
    v = _as_double(F.col("embedding"))
    return emb.select("vec_id", v.alias("v"), _norm(v).alias("nrm"))


def cosine_topk(
    tables: dict[str, DataFrame], num_queries: int = 20, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``num_queries`` vectors.
    Deterministic ranking: cosine rounded to 6dp desc, then neighbor id asc."""
    emb = with_norm(tables["embeddings"])
    q = emb.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    # corpus side spread BEFORE the norm/dot projections (query side stays
    # on the bare scan so the vec_id pushdown survives)
    n = with_norm(spread(tables["embeddings"])).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), F.col("nrm").alias("nn")
    )
    cos = _dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))
    scored = (
        F.broadcast(q)
        .join(n, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.floor(cos * 1000000 + 0.5) / 1000000)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rn").alias("rank"))
    )


def mips_topk(
    tables: dict[str, DataFrame], num_queries: int = 20, k: int = 5
) -> DataFrame:
    """Exact top-k MAX-INNER-PRODUCT neighbors (the retrieval objective of
    recommender / dual-encoder scoring, where vector norms carry signal and
    cosine is the WRONG metric). Same bounded-broadcast plan as
    ``cosine_topk``: queries broadcast, one corpus scan, per-query window
    top-k. Deterministic ranking: dot rounded to 6dp desc, neighbor id
    asc."""
    emb = with_norm(tables["embeddings"])
    q = emb.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # corpus side spread (the cosine_topk discipline)
    n = with_norm(spread(tables["embeddings"])).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")
    )
    dot = _dot(F.col("qv"), F.col("nv"))
    scored = (
        F.broadcast(q)
        .join(n, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot", F.floor(dot * 1000000 + 0.5) / 1000000)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "dot", F.col("rn").alias("rank"))
    )


def mips_ann_topk(
    tables: dict[str, DataFrame],
    num_queries: int = 20,
    k: int = 5,
    bits: int = 4,
    probe_radius: int = 2,
) -> DataFrame:
    """ANN for MIPS via the simple-LSH norm augmentation (Neyshabur &
    Srebro 2015; the asymmetric-transform family of Shrivastava & Li's
    ALSH, Bachrach et al. 2014): corpus vectors map to
    x' = [x/M ; sqrt(1 - |x|^2/M^2)] (M = max corpus norm, unit-norm
    result) and queries to q' = [q/|q| ; 0] — then cos(q', x') =
    <q,x>/(M|q|), so cosine-LSH on the augmented space ranks by inner
    product. The bucket geometry copies ``lsh_ann_topk`` (4-bit
    hyperplane buckets, hamming <= 2 multi-probe): the augmentation
    compresses every angular gap by the |x|/M factor, so narrow
    many-bit buckets collapse recall (an 8-bit 4-table variant measured
    0.08 on the fixtures) and aggressive probing over a coarse bucket is
    what keeps it up. The EXACT dot product re-ranks candidates only. M
    is one driver-side scalar (the same bounded collect as the zorder
    ranges).

    Rows-only for the driver (hyperplanes are xxhash64-derived);
    ``sim_mips_audit`` hash-gates its recall against the exact baseline."""
    emb = with_norm(tables["embeddings"])
    m_raw = emb.agg(F.max("nrm")).collect()[0][0]
    m_val = float(m_raw) if m_raw else 1.0  # empty table / all-zero corpus
    # Zero-norm guard on BOTH sides of the asymmetric transform: the corpus
    # side already rides greatest(..., 0); the query side divides by |q|,
    # and a zero-norm query would otherwise produce null buckets and
    # silently vanish from the ANN output (skewing the recall audit's
    # denominator). greatest(|q|, tiny) maps it to the zero vector instead,
    # which probes a deterministic bucket and ranks by the exact dot.
    safe_qn = F.greatest(F.col("nrm"), F.lit(1e-30))
    aug_corpus = F.concat(
        F.transform(F.col("v"), lambda x: x / F.lit(m_val)),
        F.array(
            F.sqrt(
                F.greatest(
                    F.lit(1.0) - (F.col("nrm") / F.lit(m_val)) ** 2, F.lit(0.0)
                )
            )
        ),
    )
    aug_query = F.concat(
        F.transform(F.col("v"), lambda x: x / safe_qn),
        F.array(F.lit(0.0)),
    )
    masks = [0] + [1 << i for i in range(bits)]
    if probe_radius >= 2:
        masks += [
            (1 << i) | (1 << j) for i in range(bits) for j in range(i + 1, bits)
        ]
    # corpus side spread BEFORE the augmentation/bucket projections (the
    # cosine_topk discipline); the agg above and the query side keep the
    # bare scan
    corpus = with_norm(spread(tables["embeddings"])).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        lsh_bucket(aug_corpus, bits).alias("nbucket"),
    )
    queries = emb.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.explode(
            F.array(
                *[lsh_bucket(aug_query, bits).bitwiseXOR(F.lit(m)) for m in masks]
            )
        ).alias("probe"),
    )
    cand = (
        F.broadcast(queries)
        .join(
            corpus,
            (F.col("probe") == F.col("nbucket"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    dot = _dot(F.col("qv"), F.col("nv"))
    scored = cand.withColumn("dot", F.floor(dot * 1000000 + 0.5) / 1000000)
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "dot", F.col("rn").alias("rank"))
    )



# Measured recall@5: 0.84/0.80/0.79 at sf0.001/0.01/0.1 — floor sits
# under the worst SF with margin, same convention as ANN_RECALL_FLOORS.
MIPS_RECALL_FLOOR = 0.70


def mips_recall_audit(
    tables: dict[str, DataFrame], num_queries: int = 20, k: int = 5
) -> DataFrame:
    """The ``ann_recall_audit`` pattern for the MIPS ANN path: one row with
    the oracle-recomputable query count, the literal floor, and a
    must-be-TRUE recall boolean — a regression in the augmentation or the
    hyperplane tables flips it and breaks the driver hash. This is the
    hash gate pinning the rows-only registry entry ``sim_mips_ann_topk``."""
    exact = mips_topk(tables, num_queries, k).select("query_id", "neighbor_id")
    ann = (
        mips_ann_topk(tables, num_queries, k)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    j = exact.join(ann, ["query_id", "neighbor_id"], "left")
    return j.agg(
        F.countDistinct("query_id").alias("n_queries"),
        (F.sum(F.coalesce("hit", F.lit(0))) / F.count("*")).alias("r"),
    ).select(
        "n_queries",
        F.lit(MIPS_RECALL_FLOOR).alias("recall_floor"),
        (F.col("r") >= MIPS_RECALL_FLOOR).alias("recall_ok"),
    )


# --- LSH-bucketed ANN (scale path) ---


def _hyperplane_bit(v: Column, plane: int) -> Column:
    """Sign bit of <v, h_plane> with h components in [-1,1] derived from
    xxhash64(plane, dim) — deterministic, no stored model."""
    comp = F.transform(
        v,
        lambda x, i: x
        * ((F.xxhash64(F.lit(plane), i) % 10007).cast("double") / 10007.0),
    )
    s = F.aggregate(comp, F.lit(0.0), lambda acc, x: acc + x)
    return F.when(s >= 0, F.lit(1)).otherwise(F.lit(0))


def lsh_bucket(v: Column, bits: int = 8) -> Column:
    b = F.lit(0)
    for p in range(bits):
        b = b * 2 + _hyperplane_bit(v, p)
    return b


def lsh_ann_topk(
    tables: dict[str, DataFrame],
    num_queries: int = 20,
    k: int = 5,
    bits: int = 4,
    probe_radius: int = 2,
) -> DataFrame:
    """Approximate top-k: exact cosine restricted to candidates whose LSH
    bucket is within hamming ≤ probe_radius of the query's bucket
    (multi-probe LSH). Size ``bits`` ≈ log2(corpus / target bucket size): 4
    suits the 500-vector fixtures; a 10^9-vector corpus wants ~16-20 bits
    (and probe_radius 1) so buckets stay executor-memory sized."""
    emb = with_norm(tables["embeddings"]).withColumn("bucket", lsh_bucket(F.col("v"), bits))
    masks = [0] + [1 << i for i in range(bits)]
    if probe_radius >= 2:
        masks += [
            (1 << i) | (1 << j) for i in range(bits) for j in range(i + 1, bits)
        ]
    q = emb.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("probe"),
    )
    # corpus side spread BEFORE the norm/bucket projections (the
    # cosine_topk discipline); query side stays on the bare scan
    n = (
        with_norm(spread(tables["embeddings"]))
        .withColumn("bucket", lsh_bucket(F.col("v"), bits))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("nv"),
            F.col("nrm").alias("nn"),
            F.col("bucket").alias("nbucket"),
        )
    )
    cos = _dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))
    scored = (
        F.broadcast(q)
        .join(n, (F.col("probe") == F.col("nbucket")) & (F.col("query_id") != F.col("neighbor_id")))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", F.floor(cos * 1000000 + 0.5) / 1000000)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rn").alias("rank"))
    )


# --- IVF-Flat ANN (the other scale path: coarse quantizer + cell probe) ---


def ivf_assign(emb: DataFrame, n_cells: int = 16, iters: int = 2):
    """Coarse quantizer: deterministic k-means (init = first ``n_cells``
    vectors, ``iters`` Lloyd rounds). Returns (assigned DataFrame with a
    ``cell`` column, centroid matrix). Assignment is a broadcast-GEMM
    ``mapInPandas`` — one Arrow pass per round; centroids (n_cells × dim)
    are the only driver-side state, exactly like a broadcast dim table.

    Scale shape of the Lloyd loop (MLlib's k-means does the same two things):
    - the input is persisted once (MEMORY_AND_DISK) so each round re-reads
      cached blocks, not parquet;
    - the centroid update is map-side combined INSIDE the assignment pass:
      each Arrow batch emits n_cells partial (count, sum-vector) rows, so the
      driver collects O(partitions × n_cells) tiny rows per round — no
      shuffle, no wide aggregate over the full corpus."""
    import numpy as np
    import pandas as pd

    from pyspark import StorageLevel

    cent = np.array(
        emb.filter(F.col("vec_id") < n_cells)
        .orderBy("vec_id")
        .select("embedding")
        .toPandas()["embedding"]
        .tolist(),
        dtype=np.float64,
    )

    def make_assign(centroids: "np.ndarray"):
        cn = np.sqrt((centroids * centroids).sum(axis=1))

        def assign(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                nrm = np.sqrt((mat * mat).sum(axis=1))
                cos = (mat @ centroids.T) / np.outer(nrm, cn)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "embedding": pdf["embedding"],
                        "cell": cos.argmax(axis=1).astype("int32"),
                    }
                )

        return assign

    def make_partials(centroids: "np.ndarray"):
        cn = np.sqrt((centroids * centroids).sum(axis=1))
        k = centroids.shape[0]

        def partials(batches):
            cnt = np.zeros(k, dtype=np.int64)
            sums = np.zeros_like(centroids)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                nrm = np.sqrt((mat * mat).sum(axis=1))
                cell = ((mat @ centroids.T) / np.outer(nrm, cn)).argmax(axis=1)
                np.add.at(cnt, cell, 1)
                np.add.at(sums, cell, mat)
            hit = np.nonzero(cnt)[0]
            yield pd.DataFrame(
                {"cell": hit, "cnt": cnt[hit], "s": list(sums[hit])}
            )

        return partials

    schema = "vec_id long, embedding array<float>, cell int"
    base = emb.select("vec_id", "embedding").persist(StorageLevel.MEMORY_AND_DISK)
    for _ in range(iters):
        pp = base.mapInPandas(
            make_partials(cent), "cell int, cnt long, s array<double>"
        ).toPandas()
        cnt = np.zeros(n_cells, dtype=np.int64)
        sums = np.zeros_like(cent)
        for _, row in pp.iterrows():
            cnt[row["cell"]] += row["cnt"]
            sums[row["cell"]] += np.asarray(row["s"], dtype=np.float64)
        hit = cnt > 0
        new_cent = cent.copy()
        new_cent[hit] = sums[hit] / cnt[hit, None]
        cent = new_cent
    # The cache's job (the Lloyd loop's repeated passes) is done — release
    # it so long-lived sessions don't accumulate a corpus-sized block per
    # ivf_assign call. The returned assignment DF recomputes from source on
    # evaluation: one extra scan, no leaked executor memory.
    base.unpersist()
    return base.mapInPandas(make_assign(cent), schema), cent


def ivf_ann_topk(
    tables: dict[str, DataFrame],
    num_queries: int = 20,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    trained=None,
) -> DataFrame:
    """IVF-Flat: exact cosine restricted to the ``n_probe`` cells nearest
    each query. Candidate generation is an equi-join on cell id (shuffle ∝
    corpus × n_probe / n_cells, not corpus²); n_cells ~ sqrt(corpus) and
    n_probe tune the recall/cost curve at scale."""
    import numpy as np

    emb = tables["embeddings"]
    assigned, cent = trained if trained is not None else ivf_assign(emb, n_cells)
    spark = emb.sparkSession

    qpdf = (
        emb.filter(F.col("vec_id") < num_queries)
        .select("vec_id", "embedding")
        .toPandas()
    )
    qmat = np.array(qpdf["embedding"].tolist(), dtype=np.float64)
    qnrm = np.sqrt((qmat * qmat).sum(axis=1))
    cn = np.sqrt((cent * cent).sum(axis=1))
    qcos = (qmat @ cent.T) / np.outer(qnrm, cn)
    probes = np.argsort(-qcos, axis=1)[:, :n_probe]
    probe_rows = [
        (int(qid), [int(c) for c in cells])
        for qid, cells in zip(qpdf["vec_id"], probes)
    ]
    probe_df = spark.createDataFrame(probe_rows, "query_id long, cells array<int>").select(
        "query_id", F.explode("cells").alias("cell")
    )

    q = emb.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    q = q.withColumn("qn", _norm(F.col("qv"))).join(probe_df, "query_id")

    # spread the assigned corpus BEFORE the norm/dot projections — the
    # assignment pass emits one partition per input split (one, locally),
    # so the probe join's scoring fold otherwise runs on one task. Safe:
    # row-level arithmetic only (the centroid training itself is NOT
    # spread: never spread order-sensitive float folds).
    n = spread(assigned).select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("nv"),
        "cell",
    ).withColumn("nn", _norm(F.col("nv")))

    cos = _dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))
    scored = (
        F.broadcast(q)
        .join(n, (q["cell"] == n["cell"]) & (F.col("query_id") != F.col("neighbor_id")))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", F.floor(cos * 1000000 + 0.5) / 1000000)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rn").alias("rank"))
    )


def quantize_int8(tables: dict[str, DataFrame]) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the storage/transfer
    compression step in front of an ANN index (scale = maxabs/127, one byte
    per component instead of four/eight). Emits one row per (vec_id, pos)
    with the quantized value and the reconstruction error so the oracle
    compares only scalars (array columns canonicalize differently across
    engines).

    Numeric contract: all math in double after an elementwise float→double
    cast; q = floor(x/scale + 0.5) is explicit round-half-up — identical in
    Spark and DuckDB, unlike engine-native rint/banker's rounding. maxabs
    and scale are let-bound as LAMBDA VARIABLES (nested single-element
    transforms): referencing the maxabs aggregate inside the per-element
    lambda would recompute it per component — O(dim²)/vector (expressions
    don't CSE across lambda boundaries; see shingles_col)."""
    emb = tables["embeddings"]
    v = _as_double(F.col("embedding"))

    def per_vec(vv: Column) -> Column:
        maxabs = F.aggregate(vv, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))

        def with_m(m: Column) -> Column:
            scale = F.when(m == 0.0, F.lit(1.0)).otherwise(m / 127.0)

            def cell(x: Column) -> Column:
                q = F.floor(x / scale + 0.5)
                err = F.abs(q * scale - x)
                return F.struct(
                    q.cast("int").alias("qv"),
                    (F.floor(err * 1000000 + 0.5) / 1000000).alias("err"),
                )

            return F.struct(F.transform(vv, cell).alias("cells"), m.alias("maxabs"))

        return F.get(F.transform(F.array(maxabs), with_m), 0)

    bound = F.get(F.transform(F.array(v), per_vec), 0)
    qdf = emb.select("vec_id", bound.alias("b"))
    return qdf.select(
        "vec_id",
        F.col("b.maxabs").alias("maxabs"),
        F.posexplode("b.cells").alias("pos", "cell"),
    ).select(
        "vec_id",
        "maxabs",
        "pos",
        F.col("cell.qv").alias("qv"),
        F.col("cell.err").alias("err"),
    )


def semantic_dedup(
    tables: dict[str, DataFrame],
    n_cells: int = 8,
    n_probe: int = 3,
    threshold: float = 0.40,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): coarse k-means
    clusters (the IVF quantizer, reused) bound the pair search — exact
    cosine runs only between vectors sharing a cell. SOFT assignment (each
    vector joins its ``n_probe`` nearest cells) is the recall lever:
    single-assignment recall on moderate-similarity pairs is cluster-
    boundary-limited (~0.3 on the fixtures), top-3-of-8 reaches 1.0 with
    zero extra pairs.

    Scale: candidate pairs drop from n² to ~n²·n_probe²/n_cells (balanced
    cells); the pair generation is an equi-join shuffling on cell id, and
    duplicate pair hits from shared probe cells collapse with one
    dropDuplicates on the pair key. n_cells ~ sqrt(corpus) keeps cells
    executor-sized. Rows-only for the driver (k-means cells aren't
    SQL-expressible); pytest gates recall ≥ 0.95 and no-extras vs the
    global near-dup pair set."""
    import numpy as np
    import pandas as pd

    emb = tables["embeddings"].select("vec_id", "embedding")
    _assigned, cent = ivf_assign(emb, n_cells)
    cn = np.sqrt((cent * cent).sum(axis=1))

    def soft_assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            nrm = np.sqrt((mat * mat).sum(axis=1))
            cos = (mat @ cent.T) / np.outer(nrm, cn)
            top = np.argsort(-cos, axis=1)[:, :n_probe]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().repeat(n_probe),
                    "embedding": pdf["embedding"].to_numpy().repeat(n_probe),
                    "cell": top.ravel().astype("int32"),
                }
            )

    assigned = emb.mapInPandas(soft_assign, "vec_id long, embedding array<float>, cell int")

    # Per-cell pairwise scoring as ONE NumPy GEMM per cluster (applyInPandas
    # groups by cell = one shuffle on cell id). An equi-self-join scoring
    # each pair with a JVM fold was ~30× slower at sf0.1: 14M candidate
    # pairs × a 64-step lambda vs 8 matrix multiplies. Cells are ~n·p/k
    # rows; at scale pick n_cells ~ sqrt(corpus) and chunk a huge cell like
    # embedding_near_dups_blocked if (n/k)² outgrows executor memory.
    def pairs_in_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) < 2:
            return pd.DataFrame(
                {
                    "vec_a": pd.Series([], dtype="int64"),
                    "vec_b": pd.Series([], dtype="int64"),
                    "cosine": pd.Series([], dtype="float64"),
                }
            )
        mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        nrm = np.sqrt((mat * mat).sum(axis=1))
        cos = (mat @ mat.T) / np.outer(nrm, nrm)
        iu, ju = np.triu_indices(len(ids), k=1)
        c = np.floor(cos[iu, ju] * 1000000 + 0.5) / 1000000
        keep = c >= threshold
        a, b = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(a, b),
                "vec_b": np.maximum(a, b),
                "cosine": c[keep],
            }
        )

    return (
        assigned.groupBy("cell")
        .applyInPandas(pairs_in_cell, "vec_a long, vec_b long, cosine double")
        .dropDuplicates(["vec_a", "vec_b"])
    )


def diversity_coreset(tables: dict[str, DataFrame], k: int = 10) -> DataFrame:
    """Greedy farthest-point (k-center) coreset over the embedding corpus —
    the diversity-sampling step that picks k maximally-spread exemplars
    (dataset curation / eval-set seeding). Cosine distance, seeded at the
    smallest vec_id; ties break to the smallest vec_id so the pick sequence
    is fully deterministic.

    Scale shape: the only driver state is the (k × dim) center matrix. Each
    of the k rounds is one ``mapInPandas`` pass that NumPy-GEMMs a batch
    against all current centers and emits ONE candidate row per Arrow batch
    (partition-local argmax) — the driver collects O(partitions) rows per
    round, never vectors. The corpus is persisted once and re-read from
    cache each round. O(k·n·dim) flops total; for k in the thousands carry a
    cached min-distance column instead (update vs the newest center only).

    Cost model / k cap (VERDICT r1 #8): each round is one Spark job plus one
    driver collect of O(partitions) rows — wall-clock is k × (job-submit +
    scan-from-cache), inherently sequential. k ≤ 1000 here; past that use
    ``diversity_coreset_cached`` (k ≤ 10000), and past THAT the right tool
    is a coarse k-means whose centroids seed a per-cell FPS."""
    import numpy as np
    import pandas as pd

    from pyspark import StorageLevel

    if not 1 <= k <= 1000:
        raise ValueError(
            f"k={k}: full-rescore FPS is k sequential driver rounds; "
            "use diversity_coreset_cached for k > 1000"
        )

    emb = tables["embeddings"]
    spark = emb.sparkSession
    base = emb.select("vec_id", "embedding").persist(StorageLevel.MEMORY_AND_DISK)

    seed = base.orderBy("vec_id").limit(1).toPandas()
    seed_id = int(seed["vec_id"][0])
    centers = np.array([seed["embedding"][0]], dtype=np.float64)
    picks = [(0, seed_id, None)]

    for step in range(1, k):
        C = centers
        cn = np.sqrt((C * C).sum(axis=1))

        def cand(batches):
            best_id, best_d = -1, -1.0
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                nrm = np.sqrt((mat * mat).sum(axis=1))
                mind = (1.0 - (mat @ C.T) / np.outer(nrm, cn)).min(axis=1)
                i = int(np.lexsort((pdf["vec_id"].to_numpy(), -mind))[0])
                if (mind[i], -pdf["vec_id"].iloc[i]) > (best_d, -best_id):
                    best_id, best_d = int(pdf["vec_id"].iloc[i]), float(mind[i])
            if best_id >= 0:
                yield pd.DataFrame({"vec_id": [best_id], "mindist": [best_d]})

        pp = base.mapInPandas(cand, "vec_id long, mindist double").toPandas()
        row = pp.sort_values(["mindist", "vec_id"], ascending=[False, True]).iloc[0]
        pick_id = int(row["vec_id"])
        picks.append((step, pick_id, float(row["mindist"])))
        vec = base.filter(F.col("vec_id") == pick_id).toPandas()["embedding"][0]
        centers = np.vstack([centers, np.asarray(vec, dtype=np.float64)])

    base.unpersist()  # result is driver-built; cache has no dependents
    return spark.createDataFrame(
        [(o, i, d) for o, i, d in picks],
        "pick_order int, vec_id long, mindist double",
    )


def semantic_dedup_groups(
    tables: dict[str, DataFrame],
    n_cells: int = 8,
    n_probe: int = 3,
    threshold: float = 0.40,
) -> DataFrame:
    """SemDeDup completed end-to-end: cluster-scoped near-dup PAIRS
    (``semantic_dedup``) closed into transitive duplicate GROUPS via the
    shared min-label propagation (``dedup.components_from_edges``) — every
    vector labeled with its component id = the canonical survivor (min
    vec_id reachable); keep-one = filter vec_id == component. Same
    composition shape as ``dedup_components``, semantic edges instead of
    shingle edges. Rows-only for the driver (k-means upstream); pytest
    gates component consistency against a driver-side union-find over the
    same pairs."""
    from .dedup import components_from_edges

    pairs = semantic_dedup(tables, n_cells, n_probe, threshold)
    comp = components_from_edges(
        pairs.select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b")),
        tables["embeddings"].select(F.col("vec_id").alias("id")),
    )
    return comp.select(F.col("id").alias("vec_id"), "component")


def diversity_coreset_cached(tables: dict[str, DataFrame], k: int = 10) -> DataFrame:
    """Farthest-point coreset, large-k scale path: instead of re-scoring
    every row against ALL centers each round (O(k·n·dim) per round,
    O(k²·n·dim) total), carry a cached per-row min-distance column and
    update it against ONLY the newest center — O(n·dim) per round. The
    argmax partials also carry the winning row's embedding, so the next
    center comes back with the same collect (no per-round filter job; see
    ``diversity_coreset``'s NOTES caveat). ``localCheckpoint`` truncates
    the per-round lineage so round r doesn't re-execute rounds 1..r-1.

    Same pick sequence as ``diversity_coreset`` (gated by test); rows-only
    for the driver — greedy sequential argmax isn't SQL-expressible.

    Cost model / k cap (VERDICT r1 #8): still k sequential driver rounds
    (one job + one O(partitions)-row collect each) — the cache only cuts
    per-round flops. k ≤ 10000; a larger exemplar budget should come from
    k-means cells + per-cell FPS, not a longer sequential greedy chain."""
    import numpy as np
    import pandas as pd

    if not 1 <= k <= 10_000:
        raise ValueError(
            f"k={k}: FPS is k sequential driver rounds; for larger k use "
            "k-means cells + per-cell FPS instead of one greedy chain"
        )

    emb = tables["embeddings"]
    spark = emb.sparkSession

    seed = emb.orderBy("vec_id").limit(1).toPandas()
    seed_id = int(seed["vec_id"][0])
    picks: list[tuple[int, int, float | None]] = [(0, seed_id, None)]
    pick_vec = np.asarray(seed["embedding"][0], dtype=np.float64)

    cur = emb.select("vec_id", "embedding", F.lit(float("inf")).alias("mind"))
    for step in range(1, k):
        c = pick_vec
        cnrm = float(np.sqrt(c @ c))

        def upd(batches, c=c, cnrm=cnrm):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                nrm = np.sqrt((mat * mat).sum(axis=1))
                d = 1.0 - (mat @ c) / (nrm * cnrm)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "embedding": pdf["embedding"],
                        "mind": np.minimum(pdf["mind"].to_numpy(), d),
                    }
                )

        cur = cur.mapInPandas(
            upd, "vec_id long, embedding array<float>, mind double"
        ).localCheckpoint()

        def cand(batches):
            best = None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                i = int(np.lexsort((pdf["vec_id"].to_numpy(), -pdf["mind"].to_numpy()))[0])
                row = (
                    float(pdf["mind"].iloc[i]),
                    int(pdf["vec_id"].iloc[i]),
                    list(pdf["embedding"].iloc[i]),
                )
                if best is None or (row[0], -row[1]) > (best[0], -best[1]):
                    best = row
            if best is not None:
                yield pd.DataFrame(
                    {"mind": [best[0]], "vec_id": [best[1]], "embedding": [best[2]]}
                )

        pp = cur.mapInPandas(
            cand, "mind double, vec_id long, embedding array<float>"
        ).toPandas()
        row = pp.sort_values(["mind", "vec_id"], ascending=[False, True]).iloc[0]
        picks.append((step, int(row["vec_id"]), float(row["mind"])))
        pick_vec = np.asarray(row["embedding"], dtype=np.float64)

    return spark.createDataFrame(
        [(o, i, d) for o, i, d in picks],
        "pick_order int, vec_id long, mindist double",
    )


def pq_train(emb: DataFrame, m: int = 8, k: int = 16, iters: int = 2, base=None):
    """Product quantization (Jégou et al. 2011, "Product Quantization for
    Nearest Neighbor Search"): the embedding splits into ``m`` subvectors,
    each quantized against its own ``k``-centroid L2 codebook, giving
    m·log2(k) bits per vector (8×4 = 4 bytes here vs 64 for int8, vs 256
    raw) — the memory step that makes billion-vector ANN serving fit in
    RAM, composing with the IVF coarse stage (IVF picks cells, PQ codes
    the residual-free vectors within them here; residual coding is a
    centroid subtraction away). Returns (codes DataFrame, codebook array
    of shape (m, k, dim/m)).

    ``base``: optional PRE-PERSISTED (vec_id, embedding) frame injected by
    callers that train several codebooks over the same input (ADVICE r10
    #1 — the ivf ``trained=`` pattern). Concurrent pq_train calls each
    persisting the IDENTICAL lineage share ONE CacheManager entry, so the
    first finisher's unpersist() yanked the cache mid-Lloyd for the rest;
    with an injected base this function neither persists nor unpersists.

    Same scale skeleton as ``ivf_assign``'s Lloyd loop: deterministic init
    (first ``k`` vectors' subvectors), input persisted across rounds, ALL
    m codebooks updated from ONE Arrow pass per round — each batch emits
    (subspace, cell, count, partial-sum) rows, m×k tiny rows per
    partition, no shuffle, codebooks are the only driver state. Final
    coding pass streams once more, emitting per-vector codes plus the
    reconstruction MSE (exact, since quantization error = sum of
    per-subspace min distances)."""
    import numpy as np
    import pandas as pd

    from pyspark import StorageLevel

    dim = len(emb.select("embedding").first()["embedding"])
    assert dim % m == 0, (dim, m)
    d_sub = dim // m
    init = np.array(
        emb.filter(F.col("vec_id") < k)
        .orderBy("vec_id")
        .select("embedding")
        .toPandas()["embedding"]
        .tolist(),
        dtype=np.float64,
    )
    cent = init.reshape(k, m, d_sub).transpose(1, 0, 2).copy()  # (m, k, d_sub)

    def make_partials(cb: "np.ndarray"):
        def partials(batches):
            cnt = np.zeros((m, k), dtype=np.int64)
            sums = np.zeros_like(cb)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                sub = mat.reshape(len(mat), m, d_sub)
                for j in range(m):
                    d2 = ((sub[:, j, None, :] - cb[j][None, :, :]) ** 2).sum(-1)
                    cell = d2.argmin(axis=1)
                    np.add.at(cnt[j], cell, 1)
                    np.add.at(sums[j], cell, sub[:, j, :])
            sj, cell = np.nonzero(cnt)
            yield pd.DataFrame(
                {"sub": sj, "cell": cell, "cnt": cnt[sj, cell], "s": list(sums[sj, cell])}
            )

        return partials

    def make_code(cb: "np.ndarray"):
        def code(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                sub = mat.reshape(len(mat), m, d_sub)
                codes = np.empty((len(mat), m), dtype=np.int32)
                err = np.zeros(len(mat))
                for j in range(m):
                    d2 = ((sub[:, j, None, :] - cb[j][None, :, :]) ** 2).sum(-1)
                    codes[:, j] = d2.argmin(axis=1)
                    err += d2.min(axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "codes": list(codes),
                        "recon_mse": err / dim,
                    }
                )

        return code

    own_base = base is None
    if own_base:
        base = emb.select("vec_id", "embedding").persist(StorageLevel.MEMORY_AND_DISK)
    for _ in range(iters):
        pp = base.mapInPandas(
            make_partials(cent), "sub int, cell int, cnt long, s array<double>"
        ).toPandas()
        cnt = np.zeros((m, k), dtype=np.int64)
        sums = np.zeros_like(cent)
        for _, row in pp.iterrows():
            cnt[row["sub"], row["cell"]] += row["cnt"]
            sums[row["sub"], row["cell"]] += np.asarray(row["s"], dtype=np.float64)
        hit = cnt > 0
        new_cent = cent.copy()
        new_cent[hit] = sums[hit] / cnt[hit][:, None]
        cent = new_cent
    if own_base:
        base.unpersist()
    return (
        base.mapInPandas(
            make_code(cent), "vec_id long, codes array<int>, recon_mse double"
        ),
        cent,
    )


def ivf_pq_ann_topk(
    tables: dict[str, DataFrame],
    num_queries: int = 20,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    refine: int = 4,
    trained=None,
) -> DataFrame:
    """IVF-PQ with exact re-ranking (the billion-scale ANN serving
    architecture, Jégou et al. 2011): the IVF coarse quantizer restricts the
    search to ``n_probe`` cells, within them candidates are
    ASYMMETRIC-DISTANCE-COMPUTED against 4-byte PQ codes — the index the
    corpus side stores is (cell, m codes), ~1/64th of the raw float32 —
    and the top ``refine``·k ADC shortlist is re-scored with exact L2
    against the raw vectors (shortlist-sized I/O: the full-precision
    vectors are fetched for refine·k rows per query, never the corpus).
    On unstructured data PQ distortion dominates raw-ADC ranking; the
    refine stage is what production IVFPQ deployments run for exactly
    that reason.

    Spark shape: the corpus stays distributed end-to-end — one pass assigns
    cells (``ivf_assign``), one Arrow pass codes vectors (``pq_train``),
    and scoring joins the code table against a BROADCAST of per-(query,
    probe-cell) rows carrying each query's m×k ADC lookup table (built
    driver-side from the codebook: k_codes·m doubles per query, trivially
    broadcastable). The ADC sum Σ_j tab[j][code_j] runs as a JVM
    ``aggregate`` expression over the flattened table — no Python in the
    scoring path, shuffle ∝ corpus × n_probe / n_cells. L2 metric
    throughout (PQ codebooks are L2); ties broken by neighbor id."""
    import numpy as np

    emb = tables["embeddings"]
    spark = emb.sparkSession
    assigned, coarse = trained if trained is not None else ivf_assign(emb, n_cells)
    codes_df, cb = pq_train(emb, m=m, k=k_codes)  # cb: (m, k_codes, d_sub)
    dim = cb.shape[0] * cb.shape[2]
    d_sub = cb.shape[2]

    qpdf = (
        emb.filter(F.col("vec_id") < num_queries)
        .select("vec_id", "embedding")
        .toPandas()
    )
    qmat = np.array(qpdf["embedding"].tolist(), dtype=np.float64)
    # probe the n_probe nearest coarse cells by L2
    d2c = ((qmat[:, None, :] - coarse[None, :, :]) ** 2).sum(-1)
    probes = np.argsort(d2c, axis=1)[:, :n_probe]
    # per-query ADC table: tab[j, c] = ||q_sub_j - cb[j, c]||², flattened m·k
    sub = qmat.reshape(len(qmat), m, d_sub)
    tabs = ((sub[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(-1)  # (q, m, k)
    rows = [
        (int(qid), [int(c) for c in pr], [float(x) for x in tab.ravel()])
        for qid, pr, tab in zip(qpdf["vec_id"], probes, tabs)
    ]
    q = spark.createDataFrame(
        rows, "query_id long, cells array<int>, tab array<double>"
    ).select("query_id", F.explode("cells").alias("cell"), "tab")

    # spread: the codes⋈cell join of two single-partition Arrow outputs
    # AQE-coalesces back to one task — round-robin it so the ADC fold and
    # the shortlist's pre-shuffle sort run on every core (row-level
    # arithmetic only; the PQ/IVF training passes stay unspread).
    corpus = spread(
        codes_df.join(assigned.select(F.col("vec_id"), "cell"), "vec_id")
    ).select(F.col("vec_id").alias("neighbor_id"), "cell", "codes")

    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at("tab", j * k_codes + F.element_at("codes", j + 1) + 1),
    )
    scored = (
        F.broadcast(q)
        .join(corpus, (q["cell"] == corpus["cell"]) & (F.col("query_id") != F.col("neighbor_id")))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("approx_d", F.floor(adc / dim * 1000000 + 0.5) / 1000000)
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("approx_d"), F.asc("neighbor_id"))
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k * refine)
        .select("query_id", "neighbor_id", "approx_d")
    )
    # exact L2 re-rank of the shortlist: join raw vectors for both sides
    # (shortlist-sized), score with the JVM fold, final window re-orders.
    qv = spark.createDataFrame(
        [(int(qid), [float(x) for x in vec]) for qid, vec in zip(qpdf["vec_id"], qmat)],
        "query_id long, qv array<double>",
    )
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"), _as_double(F.col("embedding")).alias("nv")
    )
    l2 = F.aggregate(
        F.zip_with("qv", "nv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    reranked = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .withColumn("exact_d", F.floor(l2 / dim * 1000000 + 0.5) / 1000000)
    )
    w2 = Window.partitionBy("query_id").orderBy(F.asc("exact_d"), F.asc("neighbor_id"))
    return (
        reranked.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "approx_d", "exact_d", F.col("rn").alias("rank"))
    )


def _centroid_df(spark, cent):
    """(cell, carr) rows from the coarse-centroid NumPy array — the
    broadcast side for residual computation."""
    return spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(cent)],
        "cell int, carr array<double>",
    )


def residual_vectors(assigned: DataFrame, cent) -> DataFrame:
    """v − coarse[cell] per vector, computed JVM-side (broadcast centroid
    join + zip_with) — the input to residual PQ coding."""
    spark = assigned.sparkSession
    cdf = _centroid_df(spark, cent)
    return assigned.join(F.broadcast(cdf), "cell").select(
        "vec_id",
        "cell",
        F.zip_with(
            _as_double(F.col("embedding")), "carr", lambda a, b: a - b
        ).alias("embedding"),
    )


def ivf_pq_residual_ann_topk(
    tables: dict[str, DataFrame],
    num_queries: int = 20,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    refine: int = 4,
    trained=None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL coding (the full Jégou et al. construction):
    each vector's PQ codes quantize v − coarse[cell] instead of v, so the
    codebook spends its 4 bytes on the within-cell geometry the coarse
    quantizer can't express — reconstruction MSE drops vs raw-vector
    coding and ADC ranking sharpens. The ADC table becomes per-(query,
    probed-cell): tab[j,c] = ||(q − coarse[cell])_sub_j − cb[j][c]||², so
    the broadcast rows each carry their own m×k table (n_probe tables per
    query — still trivially broadcastable). Residuals are computed
    JVM-side (broadcast centroid join + zip_with); the coding pass and the
    scoring/rerank skeleton are shared with ``ivf_pq_ann_topk``."""
    import numpy as np

    emb = tables["embeddings"]
    spark = emb.sparkSession
    assigned, coarse = trained if trained is not None else ivf_assign(emb, n_cells)
    res = residual_vectors(assigned, coarse)
    codes_df, cb = pq_train(res.select("vec_id", "embedding"), m=m, k=k_codes)
    dim = cb.shape[0] * cb.shape[2]
    d_sub = cb.shape[2]

    qpdf = (
        emb.filter(F.col("vec_id") < num_queries)
        .select("vec_id", "embedding")
        .toPandas()
    )
    qmat = np.array(qpdf["embedding"].tolist(), dtype=np.float64)
    d2c = ((qmat[:, None, :] - coarse[None, :, :]) ** 2).sum(-1)
    probes = np.argsort(d2c, axis=1)[:, :n_probe]
    rows = []
    for qi, (qid, pr) in enumerate(zip(qpdf["vec_id"], probes)):
        for cell in pr:
            rq = (qmat[qi] - coarse[cell]).reshape(m, d_sub)
            tab = ((rq[:, None, :] - cb) ** 2).sum(-1)  # (m, k_codes)
            rows.append((int(qid), int(cell), [float(x) for x in tab.ravel()]))
    q = spark.createDataFrame(rows, "query_id long, cell int, tab array<double>")

    # spread: same single-task ADC-fold fix as ivf_pq_ann_topk
    corpus = spread(
        codes_df.join(res.select("vec_id", "cell"), "vec_id")
    ).select(F.col("vec_id").alias("neighbor_id"), "cell", "codes")

    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at("tab", j * k_codes + F.element_at("codes", j + 1) + 1),
    )
    scored = (
        F.broadcast(q)
        .join(corpus, (q["cell"] == corpus["cell"]) & (F.col("query_id") != F.col("neighbor_id")))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("approx_d", F.floor(adc / dim * 1000000 + 0.5) / 1000000)
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("approx_d"), F.asc("neighbor_id"))
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k * refine)
        .select("query_id", "neighbor_id", "approx_d")
    )
    qv = spark.createDataFrame(
        [(int(qid), [float(x) for x in vec]) for qid, vec in zip(qpdf["vec_id"], qmat)],
        "query_id long, qv array<double>",
    )
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"), _as_double(F.col("embedding")).alias("nv")
    )
    l2 = F.aggregate(
        F.zip_with("qv", "nv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    reranked = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .withColumn("exact_d", F.floor(l2 / dim * 1000000 + 0.5) / 1000000)
    )
    w2 = Window.partitionBy("query_id").orderBy(F.asc("exact_d"), F.asc("neighbor_id"))
    return (
        reranked.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "approx_d", "exact_d", F.col("rn").alias("rank"))
    )


def quantize_pq(tables: dict[str, DataFrame]) -> DataFrame:
    """Driver entry for PQ coding over the embeddings table. Codes are
    emitted comma-joined (a scalar string, not an array) — the driver's
    canonicalizer sorts result frames in pandas and list-typed cells are
    unhashable there (the text_inverted_index round-4 lesson)."""
    codes = pq_train(tables["embeddings"])[0]
    return codes.select(
        "vec_id",
        F.array_join(
            F.transform(F.col("codes"), lambda c: c.cast("string")), ","
        ).alias("codes"),
        "recon_mse",
    )


def embedding_cluster_stats(tables: dict[str, DataFrame]) -> DataFrame:
    """Per-label centroid norm + dispersion — array aggregation surface
    (element-wise mean via zip_with fold over collected partial sums)."""
    emb = tables["embeddings"]
    v = _as_double(F.col("embedding"))
    per_row = emb.select("label", v.alias("v"), _norm(v).alias("nrm"))
    return per_row.groupBy("label").agg(
        F.count("*").alias("n"),
        (F.floor(F.avg("nrm") * 1000000 + 0.5) / 1000000).alias("avg_norm"),
        (F.floor(F.stddev_pop("nrm") * 1000000 + 0.5) / 1000000).alias("std_norm"),
    )


def embed_dim_stats(tables: dict[str, DataFrame]) -> DataFrame:
    """Per-dimension corpus statistics over the embedding column (mean, pop
    stddev, min, max per component) — the input to normalization / whitening
    decisions and a drift fingerprint to compare snapshots of an embedding
    corpus.

    Scale: posexplode fans each vector into (dim, x) rows inside codegen,
    then Spark's partial HashAggregate collapses them map-side — the shuffle
    carries only (partitions × dims) pre-aggregated rows, not n×d. Rounding
    at 1e-6 absorbs summation-order differences across engines (double
    accumulation error is ~1e-12 relative at any realistic n)."""
    emb = tables["embeddings"]
    e = emb.select(
        F.posexplode(_as_double(F.col("embedding"))).alias("dim", "x")
    )
    r6 = round6
    return e.groupBy("dim").agg(
        F.count("*").alias("n"),
        r6(F.avg("x")).alias("mean_x"),
        r6(F.stddev_pop("x")).alias("std_x"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
    )


def knn_graph(tables: dict[str, DataFrame], k: int = 5, n_blocks: int = 8) -> DataFrame:
    """Exact k-nearest-neighbor graph over the embedding corpus — the
    structure mutual-kNN dedup clustering, label propagation, and graph
    ANN indexes (HNSW's ground truth) are built on. Block-grid GEMM
    (``embedding_near_dups_blocked``'s kernel shape): vectors hash into
    ``n_blocks`` packed buckets, the (i ≤ j) block-pair grid fans out, and
    each kernel emits a per-node PARTIAL top-k against its opposite block
    (the map-side combine for top-k: n_blocks·k candidates per node reach
    the final window, never the n² pair table).

    Bit-exactness across engines (the sim_rp_audit integer-quantization
    trick): components quantize to q = floor(x·10⁴ + 0.5) BEFORE any
    arithmetic, so dots and norms are exact integers (dot ≤ 64·5300² ≈
    1.8e9 — float64 GEMM over them is EXACT regardless of summation
    order), cos = dot/(√na·√nb) is one identical IEEE expression, and the
    6dp pin + neighbor-id tie-break make ranks engine-deterministic.

    Scale: n_blocks² grid rows, one GEMM each; the shuffle to the final
    top-k window carries nodes×n_blocks×k rows."""
    import numpy as np
    import pandas as pd

    # Zero-norm guard ENFORCED, not assumed from fixture shape: a vector
    # whose every component quantizes to 0 has nrm=0 (NaN cosine) — the
    # kernel would silently drop it while an unguarded oracle emits
    # NULL/NaN rows. `exists(q != 0)` ⟺ sum(q²) > 0, and the oracle's
    # `n` CTE carries the matching `WHERE nrm > 0`.
    emb = tables["embeddings"].where(
        F.exists(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 10_000 + 0.5) != 0,
        )
    )
    packed = (
        emb.select(
            F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("blk"),
            F.struct("vec_id", "embedding").alias("ve"),
        )
        .groupBy("blk")
        .agg(F.collect_list("ve").alias("vs"))
    )
    a, b = packed.alias("a"), packed.alias("b")
    grid = a.join(b, F.col("a.blk") <= F.col("b.blk")).select(
        F.col("a.blk").alias("blk_a"),
        F.col("a.vs").alias("vs_a"),
        F.col("b.blk").alias("blk_b"),
        F.col("b.vs").alias("vs_b"),
    )

    def unpack(cell):
        ids = np.array([r["vec_id"] for r in cell], dtype=np.int64)
        mat = np.array([r["embedding"] for r in cell], dtype=np.float64)
        q = np.floor(mat * 10_000 + 0.5)  # exact integers in float64
        return ids, q

    def topk_rows(src_ids, dst_ids, cos, out):
        # per src row: partial top-k by (cos desc, dst asc); masked self
        # pairs (-2.0) and zero-norm NaNs are dropped as CANDIDATES, not
        # just out-ranked — with fewer than k real neighbors they would
        # otherwise surface in the final window (oracle excludes them).
        # Vectorized (r10 wave 2, guide §4.2): the old per-row Python
        # lexsort loop is one int64-key argsort over the whole matrix.
        # cos is 6dp-floored, so q = round(cos·1e6) is an exact integer in
        # [-1e6, 1e6] (−2e6 for masked self) and key = q·2⁴⁰ − dst
        # reproduces (cos desc, dst asc) exactly: |q|·2⁴⁰ ≤ 2.2e18 < 2⁶³
        # and dst < 2⁴⁰. Invalid cells get q = −3e6, below every real q,
        # so they sort last and the per-row valid count trims them off.
        valid = np.isfinite(cos) & (cos > -1.5)
        q = np.where(valid, np.floor(cos * 1_000_000 + 0.5), -3_000_000.0)
        dst64 = dst_ids.astype(np.int64)
        key = q.astype(np.int64) * (1 << 40) - dst64[None, :]
        order = np.argsort(key, axis=1)[:, ::-1][:, :k]
        m = np.minimum(valid.sum(axis=1), k)
        ri, ci = np.nonzero(np.arange(order.shape[1])[None, :] < m[:, None])
        j = order[ri, ci]
        out["src"].append(src_ids[ri])
        out["dst"].append(dst64[j])
        out["cos6"].append(cos[ri, j])

    def score(batches):
        for pdf in batches:
            for _, grow in pdf.iterrows():
                a_ids, a_q = unpack(grow["vs_a"])
                b_ids, b_q = unpack(grow["vs_b"])
                na = (a_q * a_q).sum(axis=1)
                nb = (b_q * b_q).sum(axis=1)
                cos = (a_q @ b_q.T) / np.outer(np.sqrt(na), np.sqrt(nb))
                cos = np.floor(cos * 1_000_000 + 0.5) / 1_000_000
                if grow["blk_a"] == grow["blk_b"]:
                    cos[a_ids[:, None] == b_ids[None, :]] = -2.0  # mask self
                out = {"src": [], "dst": [], "cos6": []}
                topk_rows(a_ids, b_ids, cos, out)
                if grow["blk_a"] != grow["blk_b"]:
                    topk_rows(b_ids, a_ids, cos.T, out)
                if any(len(s) for s in out["src"]):
                    yield pd.DataFrame(
                        {c: np.concatenate(out[c]) for c in ("src", "dst", "cos6")}
                    )

    partials = grid.mapInPandas(score, "src long, dst long, cos6 double")
    w = Window.partitionBy("src").orderBy(F.col("cos6").desc(), F.col("dst").asc())
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("src").alias("vec_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("dst").alias("neighbor_id"),
            "cos6",
        )
    )


def mutual_knn_clusters(tables: dict[str, DataFrame], k: int = 5) -> DataFrame:
    """Mutual-kNN clustering — the embedding-space dedup/grouping that
    SemDeDup-style pipelines use when a fixed cosine threshold is too
    blunt: an edge exists iff a is in b's top-k AND b is in a's top-k
    (mutuality kills the hub problem where one centroid-ish vector is
    everyone's neighbor), and clusters are the connected components.
    Composes two gated kernels: ``knn_graph`` (exact, integer-quantized)
    and ``components_from_edges`` (min-label propagation).

    Emits per cluster (≥ 2 members): component id (= min member),
    size, and the exact member-id sum — membership pinned under the
    hash, not just sizes. Plan: the kNN frame is localCheckpoint-ed once
    (Pandas subtrees defeat ReuseExchange — it feeds both join sides);
    the mutual filter is one self-semi-join on the nodes×k edge list;
    propagation touches only mutual-edge nodes."""
    knn = knn_graph(tables, k=k).select("vec_id", "neighbor_id").localCheckpoint(
        eager=True
    )
    rev = knn.select(
        F.col("neighbor_id").alias("vec_id"), F.col("vec_id").alias("neighbor_id")
    )
    mutual = (
        knn.join(rev, ["vec_id", "neighbor_id"], "left_semi")
        .where(F.col("vec_id") < F.col("neighbor_id"))
        .select(F.col("vec_id").alias("a"), F.col("neighbor_id").alias("b"))
    )
    from flink_210225_spark.ops.dedup import components_from_edges

    universe = tables["embeddings"].select(F.col("vec_id").alias("id"))
    comp = components_from_edges(mutual, universe)
    return (
        comp.groupBy("component")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("id").cast("long").alias("sum_ids"),
        )
        .where(F.col("n_members") >= 2)
    )


def embedding_drift(tables: dict[str, DataFrame]) -> DataFrame:
    """Per-dimension distribution drift between two embedding snapshots —
    the monitoring job every deployed embedding index runs (a model
    re-deploy or data-mix shift moves component distributions, silently
    degrading ANN recall long before anything errors). Snapshots here are
    the even/odd vec_id halves (the fixture has no time axis; in
    production the split is snapshot A vs snapshot B).

    Metric: total variation distance over FIXED literal bin edges
    (histogram TVD — the binned PSI without PSI's log, so the whole
    pipeline stays EXACT-INTEGER): per dim,
    l1 = Σ_bins |c_base·n_cur − c_cur·n_base| (cross-multiplied counts, no
    per-bin division), tvd = l1 / (2·n_base·n_cur) in ONE pinned division.
    Bin edges are literals on both engines; float32→double widening is
    exact, so bin assignment can't straddle engines.

    Plan: one posexplode + (dim, bin)-keyed partial agg — the shuffle
    carries dims×bins pre-aggregated rows; the two corpus sizes are a
    documented 2-int driver fetch (importance_resample's pattern)."""
    emb = tables["embeddings"]
    tot = emb.agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0)).alias("nb"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0)).alias("nc"),
    ).first()
    n_base, n_cur = int(tot["nb"]), int(tot["nc"])
    x = F.col("x")
    bin_col = (
        F.when(x < -0.3, 0)
        .when(x < -0.15, 1)
        .when(x < -0.05, 2)
        .when(x < 0.05, 3)
        .when(x < 0.15, 4)
        .when(x < 0.3, 5)
        .otherwise(6)
    )
    e = emb.select(
        (F.col("vec_id") % 2 == 0).alias("is_base"),
        F.posexplode(_as_double(F.col("embedding"))).alias("dim", "x"),
    )
    binned = e.groupBy("dim", bin_col.alias("bin")).agg(
        F.sum(F.when(F.col("is_base"), 1).otherwise(0)).cast("long").alias("cb"),
        F.sum(F.when(F.col("is_base"), 0).otherwise(1)).cast("long").alias("cc"),
    )
    per_dim = binned.groupBy("dim").agg(
        F.sum(F.abs(F.col("cb") * n_cur - F.col("cc") * n_base))
        .cast("long")
        .alias("l1")
    )
    return per_dim.select(
        "dim",
        "l1",
        round6(
            F.col("l1").cast("double") / F.lit(float(2 * n_base * n_cur))
        ).alias("tvd"),
    )


def whiten_embeddings(tables: dict[str, DataFrame]) -> DataFrame:
    """Per-dimension z-score whitening of the embedding corpus (diagonal
    whitening: subtract the corpus mean, divide by the corpus stddev, per
    component) — the standard preprocessing in front of cosine ANN when
    dimensions have wildly different scales. Emits exploded (vec_id, dim, z)
    scalars for cross-engine comparison.

    Numeric contract: mean and stddev are rounded to 1e-6 BEFORE use, so
    both engines plug bit-identical parameters into z = (x − m)/s (x is an
    exact float; the division is then correctly-rounded identically).
    Constant dimensions (s = 0) map to z = 0.

    Plan: the 64-row parameter table comes from the same partial-agg shape
    as ``embed_dim_stats`` and is BROADCAST-joined onto the exploded
    (vec_id, dim, x) rows — explode, join, and projection all run inside one
    codegen stage with zero shuffles on the main scan (a scalar-subquery
    array was rejected: subqueries can't appear inside higher-order
    lambdas). At 100 TB both scans stream; nothing driver-sized beyond the
    64-row broadcast."""
    emb = tables["embeddings"]
    v = _as_double(F.col("embedding"))
    r6 = round6
    e = emb.select(F.posexplode(v).alias("dim", "x"))
    st = e.groupBy("dim").agg(
        r6(F.avg("x")).alias("m"), r6(F.stddev_pop("x")).alias("s")
    )
    rows = emb.select("vec_id", F.posexplode(v).alias("dim", "x"))
    z = F.when(F.col("s") == 0.0, F.lit(0.0)).otherwise(
        r6((F.col("x") - F.col("m")) / F.col("s"))
    )
    return rows.join(F.broadcast(st), "dim").select("vec_id", "dim", z.alias("z"))


def knn_label_predict(
    tables: dict[str, DataFrame], num_queries: int = 20, k: int = 5
) -> DataFrame:
    """kNN label prediction: each query vector takes the MAJORITY label of
    its exact top-k cosine neighbors (tie → smallest label — deterministic),
    with the vote fraction and the query's true label for agreement
    review — the standard embedding-space sanity check ("do my labels
    cluster?") and the eval harness for the ANN variants (swap
    ``cosine_topk`` for ``ivf_pq_ann_topk`` at scale, same vote).

    Plan: top-k from the existing operator (broadcast-bounded), neighbor
    labels attach by a broadcast join on vec_id, votes are a count over
    (query, label) + one window for the argmax — everything after the
    top-k is query-count-sized."""
    topk = cosine_topk(tables, num_queries, k)
    labels = tables["embeddings"].select("vec_id", "label")
    votes = (
        topk.join(
            F.broadcast(labels.withColumnRenamed("vec_id", "neighbor_id")),
            "neighbor_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("vote_ct"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("vote_ct"), F.asc("label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("label").alias("pred_label"),
            "vote_ct",
            (F.floor(F.col("vote_ct") * 10000.0 / k + 0.5) / 10000).alias("vote_frac"),
        )
    )
    truth = labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "label", "true_label"
    )
    return pred.join(F.broadcast(truth), "query_id").select(
        "query_id",
        "pred_label",
        "vote_ct",
        "vote_frac",
        "true_label",
        (F.col("pred_label") == F.col("true_label")).alias("agree"),
    )


def centroid_pairs(tables: dict[str, DataFrame]) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids — the
    cluster-geometry report behind "which classes are confusable" and
    merge-candidate review after k-means/SemDeDup. Centroids are
    element-wise means (posexplode + partial agg, shuffle = partitions×dims
    like ``embed_dim_stats``); the pair scoring EQUI-joins the two exploded
    centroid tables on the dimension index — label_a < label_b applied as a
    post-join filter keeps the join an Exchange+SMJ/BHJ on dim, never a
    BroadcastNestedLoopJoin (labels² × dims rows is tiny: it's a
    label-count-sized problem after the means)."""
    emb = tables["embeddings"]
    e = emb.select("label", F.posexplode(_as_double(F.col("embedding"))).alias("dim", "x"))
    cent = e.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    a = cent.select(F.col("label").alias("label_a"), "dim", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "dim", F.col("c").alias("cb"))
    pairs = a.join(b, "dim").filter(F.col("label_a") < F.col("label_b"))
    agg = pairs.groupBy("label_a", "label_b").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("dot"),
        F.sum(F.col("ca") * F.col("ca")).alias("na2"),
        F.sum(F.col("cb") * F.col("cb")).alias("nb2"),
    )
    cos = F.col("dot") / (F.sqrt("na2") * F.sqrt("nb2"))
    return agg.select(
        "label_a",
        "label_b",
        (F.floor(cos * 1000000 + 0.5) / 1000000).alias("cosine"),
    )


# Per-method mean-recall floors for ann_recall_audit. Measured recall@5 on
# the fixtures: lsh 0.79-0.80, ivf 0.84-0.92, ivfpq 0.48-0.59,
# ivfpq_residual 0.46-0.71 (sf0.1-sf0.01) — floors sit under both SFs with
# margin, and a method regression below its floor breaks the driver hash.
ANN_RECALL_FLOORS = {
    "ivf": 0.75,
    "ivfpq": 0.40,
    "ivfpq_residual": 0.40,
    "lsh": 0.70,
}


def ann_recall_audit(
    tables: dict[str, DataFrame], num_queries: int = 20, k: int = 5
) -> DataFrame:
    """Index-quality audit — the production job that watches an ANN index's
    recall against exact brute force on a query sample (the monitoring loop
    every deployed IVF/LSH/PQ index needs, since recall silently decays as
    the corpus drifts from the trained codebooks/planes). This is the hash
    gate pinning the rows-only registry entries ``sim_lsh_ann_topk``,
    ``sim_ivf_ann_topk``, ``sim_ivfpq_ann_topk`` and
    ``sim_ivfpq_residual_topk`` (per-method recall floors below).

    One row per ANN method: (method, n_queries, recall_floor, recall_ok)
    where recall = |ann top-k ∩ exact top-k| / |exact top-k| over the query
    sample. The ANN results themselves are engine-specific (xxhash planes,
    k-means cells), so this is the uv_sketch oracle pattern: n_queries is
    independently recomputable, the floors are fixed literals, and
    recall_ok must be TRUE — DuckDB re-derives everything but the boolean,
    and any method dipping below its floor flips it.

    Scale: exact brute force over a BOUNDED query sample (num_queries ×
    corpus, the same plan as cosine_topk) — the audit cost is the sample
    size knob, independent of index size. The exact top-k subtree feeds all
    four method branches of the union; Pandas-UDF subtrees never
    canonicalize equal so ReuseExchange cannot dedup them — persist the
    (num_queries·k)-row ground truth once instead of re-running the exact
    GEMM per branch (measured ~3 s of the audit's cost at sf0.1)."""
    exact = (
        cosine_topk(tables, num_queries, k)
        .select("query_id", "neighbor_id")
        .persist()
    )
    # Train the IVF coarse quantizer ONCE and inject it into all three
    # IVF-based methods (identical deterministic centroids either way —
    # audited recall is unchanged); the persisted assignment also spares
    # each method its own corpus assignment pass. Cuts ~3 of the audit's
    # 4 Lloyd trainings.
    from pyspark import StorageLevel

    emb = tables["embeddings"]
    assigned, cent = ivf_assign(emb, 16)
    trained = (assigned.persist(StorageLevel.MEMORY_AND_DISK), cent)
    methods = {
        "ivf": lambda t, nq, kk: ivf_ann_topk(t, nq, kk, trained=trained),
        "ivfpq": lambda t, nq, kk: ivf_pq_ann_topk(t, nq, kk, trained=trained),
        "ivfpq_residual": lambda t, nq, kk: ivf_pq_residual_ann_topk(
            t, nq, kk, trained=trained
        ),
        "lsh": lsh_ann_topk,
    }
    def branch(name, fn):
        floor = ANN_RECALL_FLOORS[name]
        ann = (
            fn(tables, num_queries, k)
            .select("query_id", "neighbor_id")
            .withColumn("hit", F.lit(1))
        )
        j = exact.join(ann, ["query_id", "neighbor_id"], "left")
        one = j.agg(
            F.countDistinct("query_id").alias("n_queries"),
            (F.sum(F.coalesce("hit", F.lit(0))) / F.count("*")).alias("r"),
        ).select(
            F.lit(name).alias("method"),
            "n_queries",
            F.lit(floor).alias("recall_floor"),
            (F.col("r") >= floor).alias("recall_ok"),
        )
        return one.schema, one.collect()[0]

    # The four method branches each run their OWN driver-side work while
    # being built (pq_train Lloyd actions, query toPandas) before the 1-row
    # audit aggregate is even collectable — sequentially that chain of
    # small actions underfills the cluster (the lsh_family_audit lesson,
    # guide §2.6). Materialize the two shared caches first so concurrent
    # branches read them instead of racing to compute them, then build +
    # collect every branch in its own thread. Same rows, same order.
    from concurrent.futures import ThreadPoolExecutor

    # try/finally (ADVICE r10 #2): if any threaded branch raises, the two
    # corpus-sized cached frames must still be released — otherwise the
    # failure path leaks exactly the session-lifetime blocks this audit's
    # unpersist contract exists to prevent.
    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            warm_e = pool.submit(exact.count)
            warm_t = pool.submit(trained[0].count)
            warm_e.result(), warm_t.result()
            futs = [pool.submit(branch, name, fn) for name, fn in methods.items()]
            got = [f.result() for f in futs]
    finally:
        # Row results materialized above; RELEASE both cached frames — the
        # returned frame is built from driver-side rows, so unpersisting
        # here cannot re-trigger the exact GEMM, and each audit invocation
        # stops pinning a corpus-sized assignment block for the session
        # lifetime (the leak ivf_assign's own comment warns about).
        exact.unpersist()
        trained[0].unpersist()
    schema, res = got[0][0], [r for _, r in got]
    return emb.sparkSession.createDataFrame(res, schema)


def semantic_dedup_audit(
    tables: dict[str, DataFrame],
    n_cells: int = 8,
    n_probe: int = 3,
    threshold: float = 0.40,
    recall_floor: float = 0.95,
) -> DataFrame:
    """SemDeDup quality audit (uv_sketch oracle pattern): compares the
    cell-blocked pair set against the exact blocked-GEMM near-dup pairs —
    the hash gate pinning the rows-only registry entries
    ``sim_semantic_dedup`` and ``sim_semantic_groups``.
    Long-form output: n_exact_pairs (independently recomputed by the DuckDB
    oracle's quadratic self-join), recall_ok (mean recall ≥ recall_floor —
    0.958 at sf0.1, 1.0 at sf0.01 measured, floor matches the pytest gate),
    extras (must be 0 — within-cell scoring is exact cosine, so a found
    pair can never be a false positive; a nonzero count means the kernel
    broke). Values ride one LONG column so the three aggregates union into
    a single driver-hashable frame."""
    from flink_210225_spark.ops.dedup import embedding_near_dups_blocked

    ex = embedding_near_dups_blocked(tables, threshold).select("vec_a", "vec_b")
    sd = semantic_dedup(tables, n_cells, n_probe, threshold).select("vec_a", "vec_b")
    # ONE full-outer join + ONE aggregate, then stack() into the 3-row
    # long-form frame (r11, guide §1.2/§2.4). The previous shape — a 3-way
    # union of two aggs over (ex LEFT JOIN sd) and (sd ANTI JOIN ex) —
    # re-derived the exact blocked GEMM and the cell-blocked kernel once
    # per branch (plan: embeddings scanned 8×); the three counts are plain
    # set algebra over one full-outer join of the two unique pair sets:
    #   n = |ex|, h = |ex ∩ sd|, x = |sd \ ex| — identical values.
    j = ex.withColumn("e", F.lit(1)).join(
        sd.withColumn("s", F.lit(1)), ["vec_a", "vec_b"], "full_outer"
    )
    a = j.agg(
        F.sum(F.coalesce("e", F.lit(0))).alias("n"),
        F.sum(
            F.when(F.col("e").isNotNull() & F.col("s").isNotNull(), 1).otherwise(0)
        ).alias("h"),
        F.sum(
            F.when(F.col("s").isNotNull() & F.col("e").isNull(), 1).otherwise(0)
        ).alias("x"),
    )
    return a.select(
        F.expr(
            "stack(3,"
            " 'n_exact_pairs', cast(n as long),"
            f" 'recall_ok', cast((h / n >= {recall_floor!r}) as long),"
            " 'extras', cast(x as long)) AS (metric, value)"
        )
    )


def pq_audit(tables: dict[str, DataFrame]) -> DataFrame:
    """PQ coding-quality audit (uv_sketch oracle pattern) — puts the whole
    product-quantization family under the driver's hash gate (pins the
    rows-only registry entry ``sim_quantize_pq``; the IVFPQ top-k entries
    are recall-pinned by ``ann_recall_audit``): ``n_vectors``
    is independently recomputable, and two booleans pin the family's load-
    bearing claims: (1) PQ reconstruction MSE beats the zero-information
    baseline (coding every vector as the corpus mean = mean per-dim
    variance) by a 1.3× margin — measured 1.65-1.74× on the (unstructured)
    fixture embeddings at sf0.001/0.01/0.1, where PQ distortion dominates;
    structured real embeddings sit far higher; (2) RESIDUAL-coded PQ (codes quantize v − coarse[cell]) has
    strictly lower MSE than raw-vector coding — the reason the residual
    construction exists (Jégou et al. 2011). A codebook-training
    regression flips a boolean and breaks the driver hash.

    Scale: two Arrow coding passes + the shared Lloyd loops; the audit
    outputs 1 row regardless of corpus size."""
    emb = tables["embeddings"]
    # NOTE (r10, measured): do NOT thread the two training chains — both
    # pq_train calls and ivf_assign persist the IDENTICAL
    # emb.select("vec_id","embedding") lineage, so Spark's CacheManager
    # gives them ONE shared cache entry; run concurrently, each chain's
    # unpersist() yanks the entry out from under the other mid-Lloyd and
    # the passes recompute from parquet (measured 5.6 -> 6.1-6.6 s at
    # sf0.1). Sequential persist→train→unpersist keeps the cache coherent.
    codes_raw, _cb = pq_train(emb)
    assigned, coarse = ivf_assign(emb, 16)
    res = residual_vectors(assigned, coarse)
    codes_res, _cbr = pq_train(res.select("vec_id", "embedding"))

    # Driver-side collects, NOT .scalar() subqueries (r11, the
    # medallion_recon lesson): ReuseSubquery dedups none of these, so the
    # subquery form re-ran an Arrow coding pass per USE at action time —
    # mse_raw appears in BOTH booleans, so the raw coding pass executed
    # twice plus once for the residual and once for the baseline. Three
    # explicit passes, same values, literals in the returned row.
    mse_raw = codes_raw.agg(F.avg("recon_mse").alias("v")).collect()[0]["v"]
    mse_res = codes_res.agg(F.avg("recon_mse").alias("v")).collect()[0]["v"]
    # baseline: mean over dims of per-dim population variance == MSE of
    # coding every vector as the corpus mean vector
    var_mean = (
        emb.select(F.posexplode("embedding").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.var_pop(F.col("val").cast("double")).alias("v"))
        .agg(F.avg("v").alias("v"))
        .collect()[0]["v"]
    )
    return emb.agg(F.count("*").cast("long").alias("n_vectors")).select(
        "n_vectors",
        (F.lit(mse_raw) * 1.3 < F.lit(var_mean)).alias("raw_beats_mean"),
        (F.lit(mse_res) < F.lit(mse_raw)).alias("residual_improves"),
    )


def coreset_audit(tables: dict[str, DataFrame], k: int = 10) -> DataFrame:
    """Farthest-point-sampling audit (uv_sketch oracle pattern) — the hash
    gate pinning the rows-only registry entry ``sim_diversity_coreset``
    (and, via the pick-sequence parity pytest, its large-k twin
    ``sim_diversity_coreset_cached``). ``n_centers`` = least(k, corpus)
    is independently recomputable; three booleans pin FPS's defining
    invariants: picks are distinct; pick distances are monotone
    non-increasing (each round takes the current farthest point); and the
    k-th pick distance dominates the FINAL covering radius (d_k ≥ d_{k+1}
    = r — the inequality behind the greedy 2-approximation guarantee).
    The covering radius is recomputed from scratch against the chosen
    centers in one Arrow pass, so a pick-selection regression (e.g. a
    partial-argmax merge bug) breaks the hash."""
    import numpy as np

    emb = tables["embeddings"]
    spark = emb.sparkSession
    picks = diversity_coreset(tables, k).toPandas()
    ids = [int(v) for v in picks["vec_id"]]
    dists = [d for d in picks["mindist"] if d is not None and not np.isnan(d)]
    distinct_ok = len(set(ids)) == len(ids)
    monotone_ok = all(a >= b - 1e-12 for a, b in zip(dists, dists[1:]))
    cpdf = emb.filter(F.col("vec_id").isin(ids)).select("embedding").toPandas()
    C = np.array(cpdf["embedding"].tolist(), dtype=np.float64)
    cn = np.sqrt((C * C).sum(axis=1))

    def radius(batches):
        import pandas as pd

        worst = 0.0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            nrm = np.sqrt((mat * mat).sum(axis=1))
            mind = (1.0 - (mat @ C.T) / np.outer(nrm, cn)).min(axis=1)
            worst = max(worst, float(mind.max()))
        yield pd.DataFrame({"r": [worst]})

    r = (
        emb.select("vec_id", "embedding")
        .mapInPandas(radius, "r double")
        .agg(F.max("r"))
        .collect()[0][0]
    )
    sep_ok = (min(dists) if dists else 0.0) >= r - 1e-9
    return spark.createDataFrame(
        [(len(ids), bool(distinct_ok), bool(monotone_ok), bool(sep_ok))],
        "n_centers long, picks_distinct boolean, radius_monotone boolean, "
        "separation_ok boolean",
    )


def _prefix_topk(emb: DataFrame, num_queries: int, k: int, dims: int) -> DataFrame:
    """Exact cosine top-k using only the FIRST ``dims`` components — the
    truncation primitive behind Matryoshka evaluation."""
    pv = F.slice(_as_double(F.col("embedding")), 1, dims)
    base = emb.select("vec_id", pv.alias("v"), _norm(pv).alias("nrm"))
    q = base.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    n = base.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), F.col("nrm").alias("nn")
    )
    cos = _dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))
    scored = (
        F.broadcast(q)
        .join(n, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.floor(cos * 1000000 + 0.5) / 1000000)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id")
    )


def matryoshka_audit(
    tables: dict[str, DataFrame], num_queries: int = 20, k: int = 5, prefix: int = 16
) -> DataFrame:
    """Matryoshka truncation evaluation (Kusupati et al. 2022, MRL): how
    much retrieval quality survives when vectors are cut to their first
    ``prefix`` dims (the memory/latency knob MRL-trained encoders expose).
    Emits per-query overlap between full-dim exact top-k and prefix-dim
    exact top-k — fully deterministic (exact brute force both sides, 6dp
    tie-broken ranking), so the driver HASH-gates it, unlike the
    trained-index audits that can only gate recall floors.

    Plan: two bounded-broadcast scans (queries broadcast, one corpus pass
    each) + a groupBy on query_id; array_intersect on the two collected
    k-lists. Scales exactly like ``cosine_topk``; the prefix pass reads the
    same column and slices JVM-side (no second storage copy)."""
    emb = tables["embeddings"]
    full = (
        _prefix_topk(emb, num_queries, k, DIM)
        .groupBy("query_id")
        .agg(F.sort_array(F.collect_list("neighbor_id")).alias("full_ids"))
    )
    pre = (
        _prefix_topk(emb, num_queries, k, prefix)
        .groupBy("query_id")
        .agg(F.sort_array(F.collect_list("neighbor_id")).alias("prefix_ids"))
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    overlap = F.size(F.array_intersect("full_ids", "prefix_ids"))
    return (
        full.join(pre, "query_id")
        .select(
            "query_id",
            F.size("full_ids").alias("k_full"),
            overlap.alias("n_overlap"),
            r4(overlap / F.size("full_ids")).alias("recall_at_k"),
        )
    )


def _pack_sign_words(v: Column) -> tuple[Column, Column]:
    """Sign-bit binarization packed into two 32-bit words (bits 0-31 /
    32-63 of the 64-d sign pattern), kept as non-negative BIGINTs so xor +
    bit_count stay overflow-free under ANSI arithmetic in both engines."""

    def word(lo: int) -> Column:
        part = F.slice(v, lo + 1, 32)
        bits = F.transform(
            part,
            # column-valued shift distance needs the SQL function directly
            # (the python shiftleft wrapper only takes a literal int)
            lambda x, i: F.when(
                x > 0, F.call_function("shiftleft", F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long")),
        )
        return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)

    return word(0), word(32)


def binary_hamming_topk(
    tables: dict[str, DataFrame],
    num_queries: int = 20,
    k: int = 5,
    shortlist: int = 32,
) -> DataFrame:
    """Binary-sketch similarity search: 64-d float vectors compress 32× to
    a 64-bit sign pattern; candidate ranking is Hamming distance (two
    xor+bit_count ops), and only a per-query ``shortlist`` gets the exact
    cosine re-rank (the sign-random-projection estimator — Charikar 2002 —
    makes Hamming a monotone proxy for angle). Unlike the xxhash64 LSH
    paths this is FULLY deterministic (signs come from the stored floats),
    so the driver hash-gates the end-to-end result.

    Plan: the packed words ride the same broadcast-queries × corpus-scan
    shape as ``cosine_topk``, but the scan-side compare is integer ops on
    16 bytes/row instead of 64 float muls — the bandwidth story AT SCALE
    (the full vector is only touched for shortlist rows). Ties break on
    (hamming, neighbor_id) then (cosine 6dp, neighbor_id)."""
    emb = tables["embeddings"]
    v = _as_double(F.col("embedding"))
    base = emb.select(
        "vec_id", v.alias("v"), _norm(v).alias("nrm"), *(
            c.alias(n) for c, n in zip(_pack_sign_words(v), ("w0", "w1"))
        )
    )
    q = base.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    n = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nn"),
        F.col("w0").alias("nw0"),
        F.col("w1").alias("nw1"),
    )
    ham = F.bit_count(F.col("qw0").bitwiseXOR(F.col("nw0"))) + F.bit_count(
        F.col("qw1").bitwiseXOR(F.col("nw1"))
    )
    cand = (
        F.broadcast(q)
        .join(n, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("hamming", ham)
    )
    w_h = Window.partitionBy("query_id").orderBy("hamming", F.asc("neighbor_id"))
    short = cand.withColumn("hrn", F.row_number().over(w_h)).filter(
        F.col("hrn") <= shortlist
    )
    cos = _dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))
    rer = short.withColumn("cosine", F.floor(cos * 1000000 + 0.5) / 1000000)
    w_c = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rn", F.row_number().over(w_c))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "hamming", "cosine", F.col("rn").alias("rank"))
    )


def outlier_zscore(tables: dict[str, DataFrame], z_cut: float = 2.5) -> DataFrame:
    """Embedding-corpus QA: per-cluster distance z-scores flag vectors that
    sit abnormally far from their own cluster's centroid (mislabeled /
    corrupted / out-of-distribution rows — the screen a training-data
    pipeline runs before trusting an embedding column). Clusters are the
    fixture's ``label`` column, so the whole computation is deterministic
    and the driver hash-gates every row.

    Numeric contract (the whiten_zscore convention): centroid components,
    per-cluster distance mean, and stddev are each rounded to 1e-6 BEFORE
    downstream use, so both engines plug bit-identical parameters into the
    distance and z formulas. Plan: centroids are a (labels × dims) partial
    agg joined back as a ~10-row broadcast; distances are one scan; the
    per-label moment table is another tiny broadcast. Zero wide shuffles on
    the corpus."""
    emb = tables["embeddings"]
    r6 = round6
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    v = _as_double(F.col("embedding"))
    e = emb.select("vec_id", "label", v.alias("v"))
    cent = (
        e.select("label", F.posexplode("v").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(r6(F.avg("x")).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
            ).alias("centroid")
        )
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("v"), F.col("centroid"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    with_d = e.join(F.broadcast(cent), "label").withColumn("dist", r6(dist))
    mom = with_d.groupBy("label").agg(
        r6(F.avg("dist")).alias("d_mean"), r6(F.stddev_pop("dist")).alias("d_std")
    )
    z = F.when(F.col("d_std") == 0.0, F.lit(0.0)).otherwise(
        r4((F.col("dist") - F.col("d_mean")) / F.col("d_std"))
    )
    return (
        with_d.join(F.broadcast(mom), "label")
        .select(
            "vec_id",
            "label",
            F.col("dist").alias("dist"),
            z.alias("z"),
            (z > z_cut).alias("is_outlier"),
        )
    )


def pca_audit(tables: dict[str, DataFrame], k: int = 8) -> DataFrame:
    """Distributed PCA with a hash-gated audit (uv_sketch pattern) — the
    dimensionality-reduction sibling of the PQ family: project the corpus
    onto its top-k principal directions, the preprocessing step before
    cheap ANN or whitened retrieval at scale.

    Distribution shape (the classic tall-skinny PCA split): each partition
    folds its rows into (Σx·xᵀ, Σx, n) — ONE Arrow pass, 64×64 doubles per
    partition — so the driver sees O(partitions·d²) bytes, never the
    corpus. The 64×64 covariance eigendecomposition is driver-side NumPy
    (d³ work, microseconds); a SECOND distributed pass validates the model
    by computing the mean squared reconstruction error against the
    Eckart-Young optimum Σ_{i>k} λ_i.

    Audit row: ``n_vectors`` and ``total_var`` (= covariance trace =
    Σ var_pop per dim) are recomputed independently by the DuckDB oracle;
    the booleans pin eigh's contract — orthonormal basis, non-increasing
    spectrum, explained ratio in [0,1], and reconstruction MSE equal to
    the spectral tail (which only holds if the projection pass actually
    used the right eigenvectors)."""
    import numpy as np
    import pandas as pd

    emb = tables["embeddings"]
    spark = emb.sparkSession
    d = DIM

    def moments(batches):
        xtx = np.zeros((d, d))
        s = np.zeros(d)
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            xtx += mat.T @ mat
            s += mat.sum(axis=0)
            n += len(mat)
        yield pd.DataFrame(
            {"xtx": [xtx.ravel().tolist()], "s": [s.tolist()], "n": [n]}
        )

    parts = (
        emb.select("embedding")
        .mapInPandas(moments, "xtx array<double>, s array<double>, n long")
        .collect()
    )
    xtx = sum(np.array(r["xtx"]).reshape(d, d) for r in parts)
    s = sum(np.array(r["s"]) for r in parts)
    n = int(sum(r["n"] for r in parts))
    mu = s / n
    cov = xtx / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    evals, evecs = evals[::-1], evecs[:, ::-1]  # descending spectrum
    vk = np.ascontiguousarray(evecs[:, :k])
    orthonormal = bool(np.allclose(vk.T @ vk, np.eye(k), atol=1e-9))
    non_increasing = bool(np.all(np.diff(evals) <= 1e-12))
    total_var = float(np.trace(cov))
    explained = float(evals[:k].sum() / total_var) if total_var > 0 else 0.0
    tail = float(np.clip(evals[k:], 0, None).sum())

    def recon_sse(batches):
        sse = 0.0
        m = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64) - mu
            resid = mat - (mat @ vk) @ vk.T
            sse += float((resid * resid).sum())
            m += len(mat)
        yield pd.DataFrame({"sse": [sse], "m": [m]})

    rs = (
        emb.select("embedding")
        .mapInPandas(recon_sse, "sse double, m long")
        .groupBy()
        .agg(F.sum("sse").alias("sse"), F.sum("m").alias("m"))
        .collect()[0]
    )
    mse = rs["sse"] / rs["m"]
    recon_matches_tail = bool(abs(mse - tail) <= 1e-6 * max(1.0, abs(tail)))
    r4v = float(np.floor(total_var * 10000 + 0.5) / 10000)
    return spark.createDataFrame(
        [
            (
                n,
                int(k),
                r4v,
                orthonormal,
                non_increasing,
                bool(0.0 <= explained <= 1.0),
                recon_matches_tail,
            )
        ],
        "n_vectors long, k int, total_var double, orthonormal boolean, "
        "spectrum_sorted boolean, explained_in_range boolean, "
        "recon_matches_tail boolean",
    )


def contrastive_pairs(
    tables: dict[str, DataFrame],
    num_anchors: int = 20,
    hard_k: int = 3,
    checkpoint: bool = True,
) -> DataFrame:
    """Contrastive-training pair mining over the embedding corpus: for each
    anchor vector, its hardest in-batch negatives — the HIGHEST-cosine
    vectors with a DIFFERENT label (the pairs that actually move a
    contrastive loss; random negatives are trivially separated) — plus the
    anchor's positive-class cohesion stats. The standard mining pass in
    front of embedding-model fine-tuning (SimCLR/InfoNCE hard-negative
    literature).

    Deterministic end-to-end (exact cosine, 6dp tie-broken ranking), so
    the driver hash-gates it. Plan: the bounded anchor set broadcasts
    against one corpus scan (the cosine_topk shape); positives aggregate
    per anchor from the same scored frame — one window, one agg, no extra
    scans."""
    emb = tables["embeddings"]
    v = _as_double(F.col("embedding"))
    base = emb.select("vec_id", "label", v.alias("v"), _norm(v).alias("nrm"))
    q = base.filter(F.col("vec_id") < num_anchors).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    n = base.select(
        F.col("vec_id").alias("other_id"),
        F.col("label").alias("other_label"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nn"),
    )
    cos = _dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))
    scored = (
        F.broadcast(q)
        .join(n, F.col("anchor_id") != F.col("other_id"))
        .withColumn("cosine", F.floor(cos * 1000000 + 0.5) / 1000000)
    )
    if checkpoint:
        # localCheckpoint: the scored frame feeds BOTH the negative window
        # and the positive aggregate; without truncation each consumer
        # rescans the corpus join. It also swallows the BNLJ from the
        # final plan — the runtime bound test uses checkpoint=False.
        scored = scored.localCheckpoint(eager=True)
    neg = scored.filter(F.col("other_label") != F.col("anchor_label"))
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine"), F.asc("other_id"))
    hard = (
        neg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= hard_k)
        .select(
            "anchor_id", "anchor_label",
            F.col("other_id").alias("negative_id"),
            F.col("other_label").alias("negative_label"),
            F.col("cosine").alias("neg_cosine"),
            F.col("rn").alias("rank"),
        )
    )
    r6 = round6
    pos = (
        scored.filter(F.col("other_label") == F.col("anchor_label"))
        .groupBy("anchor_id")
        .agg(
            F.count("*").alias("n_pos"),
            r6(F.avg("cosine")).alias("pos_cohesion"),
        )
    )
    return hard.join(pos, "anchor_id").select(
        "anchor_id", "anchor_label", "negative_id", "negative_label",
        "neg_cosine", "rank", "n_pos", "pos_cohesion",
    )


def filtered_topk(
    tables: dict[str, DataFrame], num_queries: int = 20, k: int = 5
) -> DataFrame:
    """Metadata-FILTERED exact search — the "filtered ANN" contract every
    production vector store exposes (search only among vectors whose
    metadata matches the query's predicate; here: same label). Done wrong,
    filtering happens AFTER retrieval and starves strict predicates of
    results; done right — as here — the predicate joins INTO candidate
    generation, so every query returns k true in-filter neighbors.

    The plan is strictly BETTER than the unfiltered baseline's: the label
    predicate turns the candidate join into an EQUI-join (hash-join on
    label, queries broadcast) instead of the whitelisted
    brute-force-nested-loop baseline — at scale the label is the
    partition/cell key and this is partition-pruned search. Deterministic
    ranking: 6dp cosine desc, neighbor id asc."""
    emb = tables["embeddings"]
    v = _as_double(F.col("embedding"))
    base = emb.select("vec_id", "label", v.alias("v"), _norm(v).alias("nrm"))
    q = base.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    n = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nlabel"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nn"),
    )
    cos = _dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))
    scored = (
        F.broadcast(q)
        .join(
            n,
            (F.col("qlabel") == F.col("nlabel"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn("cosine", F.floor(cos * 1000000 + 0.5) / 1000000)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            "neighbor_id",
            "cosine",
            F.col("rn").alias("rank"),
        )
    )


def rp_audit(tables: dict[str, DataFrame], k: int = 16) -> DataFrame:
    """Johnson–Lindenstrauss random-projection audit: project the 64-d
    embeddings to ``k`` dims with a deterministic ±1 sign matrix
    (Achlioptas 2003 — database-friendly projections; the JL lemma bounds
    how much pairwise distance a sign projection distorts) and measure
    the squared-distance distortion ‖Py‖²/(k·‖y‖²) over consecutive-id
    vector pairs. RP is the cheap first stage of the dimensionality
    ladder (RP → PCA → PQ all coexist in ``similarity``): data-oblivious,
    no training pass, one linear map — and this audit is the go/no-go
    gate before swapping a projected index in.

    Everything is integer-exact by construction: vectors quantize to
    int (floor(x·1000 + 0.5) — the int-quantize step a production RP
    stage runs anyway), the sign matrix is an arithmetic formula, so
    projections, squared distances, and each pair's distortion ratio are
    identical integers/rationals on both engines — the oracle replays
    the whole pipeline, not just anchors. Only the MEAN crosses a float
    sum (4dp-rounded). Plan: projection is a per-row JVM fold (no
    shuffle); the pair join is an equi-join on vec_id+1; the audit
    reduces to one row."""
    emb = tables["embeddings"]
    d_seq = F.sequence(F.lit(0), F.lit(DIM - 1))

    def quant(col, d):
        return F.floor(F.element_at(col, d + 1).cast("double") * 1000 + 0.5)

    def sign(b, d):
        return 1 - 2 * (((b * 131 + d * 37) % 97) % 2)

    ys = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda b: F.aggregate(
            d_seq,
            F.lit(0).cast("long"),
            lambda acc, d: acc + sign(b, d) * quant(F.col("x"), d),
        ),
    )
    proj = emb.select(F.col("vec_id"), F.col("embedding").alias("x")).select(
        "vec_id", "x", ys.alias("y")
    )
    a = proj.alias("a")
    b = proj.alias("b")
    joined = a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
    dx2 = F.aggregate(
        d_seq,
        F.lit(0).cast("long"),
        lambda acc, d: acc
        + F.pow(quant(F.col("a.x"), d) - quant(F.col("b.x"), d), 2).cast("long"),
    )
    dy2 = F.aggregate(
        F.sequence(F.lit(0), F.lit(k - 1)),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.pow(
            F.element_at(F.col("a.y"), i + 1) - F.element_at(F.col("b.y"), i + 1),
            2,
        ).cast("long"),
    )
    pairs = joined.select(dx2.alias("dx2"), dy2.alias("dy2")).where(F.col("dx2") > 0)
    ratio = F.col("dy2") / (F.lit(k) * F.col("dx2"))
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    agg = pairs.agg(
        F.count("*").alias("n_pairs"),
        r4(F.avg(ratio)).alias("mean_ratio"),
        r4(F.median(ratio)).alias("median_ratio"),
        r4(F.min(ratio)).alias("min_ratio"),
        r4(F.max(ratio)).alias("max_ratio"),
    )
    # jl_ok gates what JL actually promises at k=16: an unbiased, centered
    # distortion BULK (mean and median near 1). Per-pair extremes are
    # reported but not gated — sqrt(2/k) concentration leaves heavy single
    # -pair tails at small k by design (measured min≈0.08/max≈7 on the
    # fixtures), and a floor on them would test the fixture, not the lemma.
    return agg.select(
        "n_pairs",
        "mean_ratio",
        "median_ratio",
        "min_ratio",
        "max_ratio",
        (
            (F.col("mean_ratio") >= 0.85)
            & (F.col("mean_ratio") <= 1.15)
            & (F.col("median_ratio") >= 0.7)
            & (F.col("median_ratio") <= 1.3)
        ).alias("jl_ok"),
    )


_MAXSIM_M = 4  # sub-vectors per embedding (64 dims → 4 × 16)
_MAXSIM_SUB = 16
_MAXSIM_SHORTLIST = 50
_MAXSIM_K = 5
_MAXSIM_NQ = 4


def maxsim_rerank(tables: dict[str, DataFrame]) -> DataFrame:
    """ColBERT-style late-interaction retrieval: retrieve with a cheap
    single-vector score, then RE-RANK the shortlist with MaxSim — for each
    query sub-vector, the max dot against any document sub-vector, summed.
    This is the production shape of multi-vector search (late interaction
    is quadratic in sub-vectors, so no system runs it against the corpus;
    PLAID/ColBERTv2 prune with a coarse stage exactly like this). Here
    each 64-dim embedding is treated as 4×16-dim "token" sub-vectors.

    Everything is INTEGER-exact: vectors quantize to floor(x·1000) once,
    the coarse score is the full-vector int dot, MaxSim sums int sub-dots
    — no rounding anywhere, ranks can't flake. Plan: the coarse stage is
    the whitelisted bounded-broadcast BNLJ (4 query rows against one
    corpus scan — same contract as ``sim_cosine_topk``); the re-rank runs
    only on the 50-deep shortlist via nested array folds in codegen, no
    second corpus pass (sub-vectors are slices of the already-joined
    arrays)."""
    emb = tables["embeddings"]
    quant = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("long")
    )
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(_MAXSIM_M - 1)),
        lambda i: F.slice(F.col("xq"), i * _MAXSIM_SUB + 1, _MAXSIM_SUB),
    )
    base = emb.select("vec_id", quant.alias("xq")).select(
        "vec_id", "xq", subs.alias("sv")
    )
    q = base.where(F.col("vec_id") < _MAXSIM_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("xq").alias("qv"),
        F.col("sv").alias("q_subs"),
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("xq").alias("cv"),
        F.col("sv").alias("c_subs"),
    )

    def int_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    coarse = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("coarse_dot", int_dot(F.col("qv"), F.col("cv")))
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("coarse_dot"), F.asc("neighbor_id")
    )
    short = (
        coarse.withColumn("srn", F.row_number().over(ws))
        .where(F.col("srn") <= _MAXSIM_SHORTLIST)
    )
    maxsim = F.aggregate(
        F.transform(
            "q_subs",
            lambda qs: F.array_max(
                F.transform("c_subs", lambda ds: int_dot(qs, ds))
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("maxsim"), F.asc("neighbor_id")
    )
    return (
        short.withColumn("maxsim", maxsim)
        .withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= _MAXSIM_K)
        .select("query_id", "rank", "neighbor_id", "maxsim", "coarse_dot")
    )


def triplet_mining(
    tables: dict[str, DataFrame], num_anchors: int = 20, checkpoint: bool = True
) -> DataFrame:
    """Triplet selection for metric-learning fine-tuning (FaceNet semi-hard
    rule, Schroff et al. 2015, public): per anchor, the HARDEST POSITIVE
    (lowest-cosine same-label vector — the pair the model must pull
    together) and the SEMI-HARD NEGATIVE (highest-cosine different-label
    vector still BELOW the positive's cosine — inside the margin but not
    already violating it; falls back to the globally hardest negative when
    none qualifies). Distinct from ``sim_contrastive_pairs``: that mines
    top-k negatives per anchor; this selects the one (a,p,n) TRIPLET with
    its margin, the unit a triplet-loss batch builder consumes.

    Exactness: pinned 6dp cosine, (cos desc/asc, id asc) tie-breaks;
    margin is a difference of two pinned doubles — identical on both
    engines. Plan: the bounded anchor set broadcasts against one corpus
    scan (CARTESIAN_OK's documented 20-row BNLJ shape); the scored frame
    is checkpointed once and feeds both the positive and negative
    windows."""
    emb = tables["embeddings"]
    v = _as_double(F.col("embedding"))
    base = emb.select("vec_id", "label", v.alias("v"), _norm(v).alias("nrm"))
    q = base.filter(F.col("vec_id") < num_anchors).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    n = base.select(
        F.col("vec_id").alias("other_id"),
        F.col("label").alias("other_label"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nn"),
    )
    cos = _dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))
    scored = (
        F.broadcast(q)
        .join(n, F.col("anchor_id") != F.col("other_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "other_id",
            "other_label",
            (F.floor(cos * 1000000 + 0.5) / 1000000).alias("cos6"),
        )
    )
    if checkpoint:
        # eager checkpoint: the scored frame feeds both windows (pos + neg)
        # — but it also swallows the BNLJ from the final plan, so the
        # runtime bound test calls with checkpoint=False to SEE the join.
        scored = scored.localCheckpoint(eager=True)
    wp = Window.partitionBy("anchor_id").orderBy(F.asc("cos6"), F.asc("other_id"))
    pos = (
        scored.filter(F.col("other_label") == F.col("anchor_label"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("other_id").alias("pos_id"),
            F.col("cos6").alias("pos_cos6"),
        )
    )
    neg = scored.filter(F.col("other_label") != F.col("anchor_label")).join(
        pos, "anchor_id"
    )
    wn = Window.partitionBy("anchor_id").orderBy(F.desc("cos6"), F.asc("other_id"))
    semi = (
        neg.filter(F.col("cos6") < F.col("pos_cos6"))
        .withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("other_id").alias("semi_id"),
            F.col("cos6").alias("semi_cos6"),
        )
    )
    hardest = (
        neg.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("other_id").alias("hard_id"),
            F.col("cos6").alias("hard_cos6"),
        )
    )
    out = (
        pos.join(semi, "anchor_id", "left")
        .join(hardest, "anchor_id")
        .select(
            "anchor_id",
            "pos_id",
            "pos_cos6",
            F.coalesce("semi_id", "hard_id").alias("neg_id"),
            F.coalesce("semi_cos6", "hard_cos6").alias("neg_cos6"),
            F.when(F.col("semi_id").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("semi_hard"),
        )
    )
    return out.select(
        "anchor_id",
        "pos_id",
        "pos_cos6",
        "neg_id",
        "neg_cos6",
        (F.col("pos_cos6") - F.col("neg_cos6")).alias("margin6"),
        "semi_hard",
    )


def hubness_audit(tables: dict[str, DataFrame], k: int = 5) -> DataFrame:
    """Hubness diagnostic over the exact kNN graph (Radovanović et al.
    2010, public): the k-occurrence distribution — how many other nodes
    list each node among their top-k. High-dimensional embedding spaces
    grow HUBS (nodes in everyone's neighbor list) and anti-hubs (in
    no-one's); a skewed k-occurrence histogram predicts retrieval bias and
    is the standing argument for the mutual-kNN filter
    (``sim_mutual_knn_clusters``). Composes the hash-gated ``knn_graph``
    kernel; everything after edge generation is an equi-keyed count.

    Emits the HISTOGRAM (in-degree value → node count + exact node-id
    checksum), zero-occurrence nodes included via a left join from the
    norm-guarded node set — all exact integers, nothing to pin.
    Plan: nodes×k edges → neighbor-keyed count with map-side partials →
    |distinct in-degree|-sized result."""
    knn = knn_graph(tables, k=k).select("vec_id", "neighbor_id")
    indeg = knn.groupBy(F.col("neighbor_id").alias("node")).agg(
        F.count("*").cast("long").alias("in_deg")
    )
    nodes = (
        tables["embeddings"]
        .where(
            F.exists(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * 10_000 + 0.5) != 0,
            )
        )
        .select(F.col("vec_id").alias("node"))
    )
    full = nodes.join(indeg, "node", "left").select(
        "node", F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg")
    )
    return full.groupBy("in_deg").agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("node").cast("long").alias("sum_node_ids"),
    )


QUERIES = {
    "sim_triplet_mining": triplet_mining,
    "sim_hubness_audit": hubness_audit,
    "sim_maxsim_rerank": maxsim_rerank,
    "sim_cosine_topk": cosine_topk,
    "sim_rp_audit": rp_audit,
    "sim_filtered_topk": filtered_topk,
    "sim_mips_topk": mips_topk,
    "sim_mips_audit": mips_recall_audit,
    # rows-only (xxhash64 hyperplanes); recall hash-gated by sim_mips_audit
    "sim_mips_ann_topk": mips_ann_topk,
    "sim_ann_recall_audit": ann_recall_audit,
    "sim_semantic_audit": semantic_dedup_audit,
    "sim_pq_audit": pq_audit,
    "sim_coreset_audit": coreset_audit,
    "sim_lsh_ann_topk": lsh_ann_topk,  # rows-only (xxhash64 planes not in DuckDB)
    "sim_ivf_ann_topk": ivf_ann_topk,  # rows-only (k-means cells not in SQL); recall-tested vs exact
    "sim_cluster_stats": embedding_cluster_stats,
    "sim_embed_dim_stats": embed_dim_stats,
    "sim_embedding_drift": embedding_drift,
    "sim_knn_graph": knn_graph,
    "sim_mutual_knn_clusters": mutual_knn_clusters,
    "sim_whiten_zscore": whiten_embeddings,
    "sim_centroid_pairs": centroid_pairs,
    "sim_knn_label": knn_label_predict,
    # rows-only: k greedy argmax rounds aren't SQL-expressible; pytest gates
    # exact pick-sequence parity vs a straight NumPy farthest-point run.
    "sim_diversity_coreset": diversity_coreset,
    "sim_quantize_int8": quantize_int8,
    # rows-only (k-means cells not in SQL); pytest gates exact parity with
    # the global near-dup pairs restricted to co-clustered pairs + recall.
    "sim_semantic_dedup": semantic_dedup,
    # rows-only; pytest gates pick-sequence parity with diversity_coreset.
    "sim_diversity_coreset_cached": diversity_coreset_cached,
    # rows-only; pytest gates component parity vs a union-find over the
    # same pair set.
    "sim_semantic_groups": semantic_dedup_groups,
    # rows-only (k-means codebooks not in SQL); pytest gates NumPy
    # code/MSE parity, determinism, and MSE < per-subspace-mean baseline.
    "sim_quantize_pq": quantize_pq,
    # rows-only; pytest gates end-to-end parity vs a NumPy IVFPQ reference
    # (same probes, same ADC tables) + recall vs exact L2.
    "sim_ivfpq_ann_topk": ivf_pq_ann_topk,
    # rows-only; pytest gates residual-MSE < raw-MSE and recall parity.
    "sim_ivfpq_residual_topk": ivf_pq_residual_ann_topk,
    "sim_matryoshka_audit": matryoshka_audit,
    "sim_binary_hamming_topk": binary_hamming_topk,
    "sim_outlier_zscore": outlier_zscore,
    "sim_pca_audit": pca_audit,
    "sim_contrastive_pairs": contrastive_pairs,
}

_COS = """
    list_sum(list_transform(range(64),
        i -> q.embedding[i + 1]::DOUBLE * n.embedding[i + 1]::DOUBLE))
    / (sqrt(list_sum(list_transform(range(64), i -> q.embedding[i + 1]::DOUBLE * q.embedding[i + 1]::DOUBLE)))
       * sqrt(list_sum(list_transform(range(64), i -> n.embedding[i + 1]::DOUBLE * n.embedding[i + 1]::DOUBLE))))
"""

ORACLES = {
    # Full pipeline replay (quantize → sign-project → pair distances →
    # distortion), all integer-exact; only the mean crosses a float sum.
    "sim_rp_audit": """
        WITH q AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(range(64),
                       d -> floor(embedding[d + 1]::DOUBLE * 1000 + 0.5)::BIGINT)
                       AS xq
            FROM embeddings
        ),
        p AS MATERIALIZED (
            SELECT vec_id, xq,
                   list_transform(range(16), b ->
                       list_sum(list_transform(range(64), d ->
                           (1 - 2 * (((b * 131 + d * 37) % 97) % 2))
                           * xq[d + 1]))::BIGINT) AS y
            FROM q
        ),
        pr AS (
            SELECT list_sum(list_transform(range(64),
                       d -> (a.xq[d + 1] - b.xq[d + 1])
                            * (a.xq[d + 1] - b.xq[d + 1])))::BIGINT AS dx2,
                   list_sum(list_transform(range(16),
                       i -> (a.y[i + 1] - b.y[i + 1])
                            * (a.y[i + 1] - b.y[i + 1])))::BIGINT AS dy2
            FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
        ),
        r AS (
            SELECT dy2 / (16 * dx2) AS ratio FROM pr WHERE dx2 > 0
        ),
        s AS (
            SELECT count(*)::BIGINT AS n_pairs,
                   floor(avg(ratio) * 10000 + 0.5) / 10000 AS mean_ratio,
                   floor(median(ratio) * 10000 + 0.5) / 10000 AS median_ratio,
                   floor(min(ratio) * 10000 + 0.5) / 10000 AS min_ratio,
                   floor(max(ratio) * 10000 + 0.5) / 10000 AS max_ratio
            FROM r
        )
        SELECT n_pairs, mean_ratio, median_ratio, min_ratio, max_ratio,
               (mean_ratio >= 0.85 AND mean_ratio <= 1.15
                AND median_ratio >= 0.7 AND median_ratio <= 1.3) AS jl_ok
        FROM s
    """,
    # n_exact_pairs recomputed via the quadratic self-join; recall_ok must
    # be 1 and extras must be 0 (uv_sketch pattern).
    "sim_semantic_audit": """
        WITH normed AS (
            SELECT vec_id,
                   list_transform(embedding, x -> x::DOUBLE) AS v,
                   sqrt(list_sum(list_transform(embedding,
                        x -> x::DOUBLE * x::DOUBLE))) AS nrm
            FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id
            FROM normed a JOIN normed b ON a.vec_id < b.vec_id
            WHERE floor((list_sum(list_transform(range(64),
                              i -> a.v[i + 1] * b.v[i + 1]))
                         / (a.nrm * b.nrm)) * 1000000 + 0.5) / 1000000 >= 0.40
        )
        SELECT 'n_exact_pairs' AS metric, count(*)::BIGINT AS value FROM pairs
        UNION ALL SELECT 'recall_ok', 1
        UNION ALL SELECT 'extras', 0
    """,
    # n_centers recomputed independently; the three FPS invariants must be
    # TRUE (uv_sketch pattern).
    "sim_coreset_audit": """
        SELECT least(10, count(*))::BIGINT AS n_centers,
               TRUE AS picks_distinct,
               TRUE AS radius_monotone,
               TRUE AS separation_ok
        FROM embeddings
    """,
    # n_vectors recomputed independently; both coding-quality booleans must
    # be TRUE (uv_sketch pattern). Claims verified at sf0.01 AND sf0.1.
    "sim_pq_audit": """
        SELECT count(*)::BIGINT AS n_vectors,
               TRUE AS raw_beats_mean,
               TRUE AS residual_improves
        FROM embeddings
    """,
    # n_queries recomputed independently; floors are shared literals; the
    # recall booleans must be TRUE for every method (uv_sketch pattern).
    "sim_ann_recall_audit": """
        SELECT m.method, nq.n AS n_queries, m.recall_floor, TRUE AS recall_ok
        FROM (VALUES ('ivf', 0.75::DOUBLE), ('ivfpq', 0.40::DOUBLE),
                     ('ivfpq_residual', 0.40::DOUBLE), ('lsh', 0.70::DOUBLE))
             m(method, recall_floor),
             (SELECT count(*)::BIGINT AS n FROM embeddings WHERE vec_id < 20) nq
    """,
    "sim_mips_topk": """
        WITH scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   floor(list_sum(list_transform(range(64),
                       i -> q.embedding[i + 1]::DOUBLE * n.embedding[i + 1]::DOUBLE))
                       * 1000000 + 0.5) / 1000000 AS dot
            FROM embeddings q JOIN embeddings n ON q.vec_id != n.vec_id
            WHERE q.vec_id < 20
        )
        SELECT query_id, neighbor_id, dot, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY dot DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
    "sim_mips_audit": """
        SELECT count(*)::BIGINT AS n_queries, 0.70::DOUBLE AS recall_floor,
               TRUE AS recall_ok
        FROM embeddings WHERE vec_id < 20
    """,
    "sim_filtered_topk": f"""
        WITH scored AS (
            SELECT q.vec_id AS query_id, q.label, n.vec_id AS neighbor_id,
                   floor(({_COS}) * 1000000 + 0.5) / 1000000 AS cosine
            FROM embeddings q
            JOIN embeddings n ON q.label = n.label AND q.vec_id != n.vec_id
            WHERE q.vec_id < 20
        )
        SELECT query_id, label, neighbor_id, cosine, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id ASC)
                          AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
    "sim_cosine_topk": f"""
        WITH scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   floor(({_COS}) * 1000000 + 0.5) / 1000000 AS cosine
            FROM embeddings q JOIN embeddings n ON q.vec_id != n.vec_id
            WHERE q.vec_id < 20
        )
        SELECT query_id, neighbor_id, cosine,
               rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
    "sim_knn_label": f"""
        WITH scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, n.label,
                   floor(({_COS}) * 1000000 + 0.5) / 1000000 AS cosine
            FROM embeddings q JOIN embeddings n ON q.vec_id != n.vec_id
            WHERE q.vec_id < 20
        ),
        topk AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored
            ) WHERE rank <= 5
        ),
        votes AS (
            SELECT query_id, label, count(*)::BIGINT AS vote_ct
            FROM topk GROUP BY 1, 2
        ),
        pred AS (
            SELECT query_id, label AS pred_label, vote_ct,
                   floor(vote_ct * 10000.0 / 5 + 0.5) / 10000 AS vote_frac
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY vote_ct DESC, label ASC) AS rn
                FROM votes
            ) WHERE rn = 1
        )
        SELECT p.query_id, p.pred_label, p.vote_ct, p.vote_frac,
               e.label AS true_label,
               p.pred_label = e.label AS agree
        FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
    """,
    "sim_embed_dim_stats": """
        WITH e AS (
            SELECT t.i AS dim, embedding[t.i + 1]::DOUBLE AS x
            FROM embeddings, range(64) t(i)
        )
        SELECT dim, count(*)::BIGINT AS n,
               floor(avg(x) * 1000000 + 0.5) / 1000000 AS mean_x,
               floor(stddev_pop(x) * 1000000 + 0.5) / 1000000 AS std_x,
               min(x) AS min_x, max(x) AS max_x
        FROM e GROUP BY dim
    """,
    # Quadratic replay on the SAME 1e4-quantized integers: list_dot_product
    # over integral doubles is exact, cos/pin/tie-break identical.
    "sim_knn_graph": """
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding, x -> floor(x::DOUBLE * 10000 + 0.5)) AS qv
            FROM embeddings
        ),
        n AS (
            SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm FROM q
            WHERE list_dot_product(qv, qv) > 0
        ),
        pairs AS (
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   floor(list_dot_product(a.qv, b.qv)
                         / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000 + 0.5)
                     / 1000000 AS cos6
            FROM n a JOIN n b ON a.vec_id != b.vec_id
        ),
        rk AS (
            SELECT src, dst, cos6,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY cos6 DESC, dst ASC) AS rank
            FROM pairs
        )
        SELECT src AS vec_id, rank::INT AS rank, dst AS neighbor_id, cos6
        FROM rk WHERE rank <= 5
    """,
    # Embeds the knn oracle's CTEs; mutuality via self-join; recursive
    # min-label reach (the dedup_components oracle mechanism).
    "sim_mutual_knn_clusters": """
        WITH RECURSIVE q AS (
            SELECT vec_id,
                   list_transform(embedding, x -> floor(x::DOUBLE * 10000 + 0.5)) AS qv
            FROM embeddings
        ),
        n AS (
            SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm FROM q
            WHERE list_dot_product(qv, qv) > 0
        ),
        pairs AS (
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   floor(list_dot_product(a.qv, b.qv)
                         / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000 + 0.5)
                     / 1000000 AS cos6
            FROM n a JOIN n b ON a.vec_id != b.vec_id
        ),
        rk AS (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY cos6 DESC, dst ASC) AS rank
            FROM pairs
        ),
        knn AS (SELECT src, dst FROM rk WHERE rank <= 5),
        mutual AS (
            SELECT a.src AS a, a.dst AS b
            FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
            WHERE a.src < a.dst
        ),
        edges AS (
            SELECT a, b FROM mutual UNION SELECT b, a FROM mutual
        ),
        reach(id, comp) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id
        ),
        lab AS (SELECT id, min(comp)::BIGINT AS component FROM reach GROUP BY id)
        SELECT component, count(*)::BIGINT AS n_members,
               sum(id)::BIGINT AS sum_ids
        FROM lab GROUP BY component HAVING count(*) >= 2
    """,
    # Fixed literal bin edges; exact-integer cross-multiplied L1; one
    # pinned division for the TVD.
    "sim_embedding_drift": """
        WITH tot AS (
            SELECT sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS nb,
                   sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS nc
            FROM embeddings
        ),
        e AS (
            SELECT vec_id % 2 = 0 AS is_base, t.i AS dim,
                   embedding[t.i + 1]::DOUBLE AS x
            FROM embeddings, range(64) t(i)
        ),
        binned AS (
            SELECT dim,
                   CASE WHEN x < -0.3 THEN 0
                        WHEN x < -0.15 THEN 1
                        WHEN x < -0.05 THEN 2
                        WHEN x < 0.05 THEN 3
                        WHEN x < 0.15 THEN 4
                        WHEN x < 0.3 THEN 5
                        ELSE 6 END AS bin,
                   sum(CASE WHEN is_base THEN 1 ELSE 0 END)::BIGINT AS cb,
                   sum(CASE WHEN is_base THEN 0 ELSE 1 END)::BIGINT AS cc
            FROM e GROUP BY 1, 2
        )
        SELECT dim,
               sum(abs(cb * (SELECT nc FROM tot) - cc * (SELECT nb FROM tot)))::BIGINT AS l1,
               floor(sum(abs(cb * (SELECT nc FROM tot) - cc * (SELECT nb FROM tot)))::DOUBLE
                     / (2 * (SELECT nb FROM tot) * (SELECT nc FROM tot))::DOUBLE
                     * 1000000 + 0.5) / 1000000 AS tvd
        FROM binned GROUP BY dim
    """,
    "sim_centroid_pairs": """
        WITH e AS (
            SELECT label, t.i AS dim, embedding[t.i + 1]::DOUBLE AS x
            FROM embeddings, range(64) t(i)
        ),
        cent AS (SELECT label, dim, avg(x) AS c FROM e GROUP BY label, dim),
        p AS (
            SELECT a.label AS label_a, b.label AS label_b,
                   sum(a.c * b.c) AS dot,
                   sum(a.c * a.c) AS na2, sum(b.c * b.c) AS nb2
            FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
            GROUP BY 1, 2
        )
        SELECT label_a, label_b,
               floor(dot / (sqrt(na2) * sqrt(nb2)) * 1000000 + 0.5) / 1000000
                   AS cosine
        FROM p
    """,
    "sim_whiten_zscore": """
        WITH e AS (
            SELECT t.i AS dim, embedding[t.i + 1]::DOUBLE AS x
            FROM embeddings, range(64) t(i)
        ),
        st AS (
            SELECT dim,
                   floor(avg(x) * 1000000 + 0.5) / 1000000 AS m,
                   floor(stddev_pop(x) * 1000000 + 0.5) / 1000000 AS s
            FROM e GROUP BY dim
        )
        SELECT v.vec_id, t.i AS dim,
               CASE WHEN st.s = 0 THEN 0.0
                    ELSE floor((v.embedding[t.i + 1]::DOUBLE - st.m) / st.s
                               * 1000000 + 0.5) / 1000000
               END AS z
        FROM embeddings v, range(64) t(i)
        JOIN st ON st.dim = t.i
    """,
    "sim_cluster_stats": """
        WITH per_row AS (
            SELECT label,
                   sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
            FROM embeddings
        )
        SELECT label, count(*) AS n,
               floor(avg(nrm) * 1000000 + 0.5) / 1000000 AS avg_norm,
               floor(stddev_pop(nrm) * 1000000 + 0.5) / 1000000 AS std_norm
        FROM per_row GROUP BY label
    """,
    # Same explicit round-half-up quantizer; lateral unnest over the
    # component index so only scalars are compared.
    "sim_quantize_int8": """
        WITH base AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings
        ),
        sc AS (
            SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS maxabs,
                   CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
                        ELSE list_max(list_transform(v, x -> abs(x))) / 127.0
                   END AS scale
            FROM base
        )
        SELECT vec_id, maxabs, u.i AS pos,
               floor(v[u.i + 1] / scale + 0.5)::INTEGER AS qv,
               floor(abs(floor(v[u.i + 1] / scale + 0.5) * scale - v[u.i + 1])
                     * 1000000 + 0.5) / 1000000 AS err
        FROM sc, unnest(range(len(v))) AS u(i)
    """,
    "sim_matryoshka_audit": """
        WITH base AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings
        ),
        nf AS (
            SELECT vec_id, v,
                   sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
            FROM base
        ),
        np_ AS (
            SELECT vec_id, v[1:16] AS v,
                   sqrt(list_sum(list_transform(v[1:16], x -> x * x))) AS nrm
            FROM base
        ),
        tf AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY floor(list_sum(list_transform(range(64),
                                         i -> q.v[i + 1] * n.v[i + 1]))
                                     / (q.nrm * n.nrm) * 1000000 + 0.5) / 1000000
                                    DESC, n.vec_id) AS rn
                FROM nf q JOIN nf n ON q.vec_id < 20 AND q.vec_id != n.vec_id
            ) WHERE rn <= 5
        ),
        tp AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY floor(list_sum(list_transform(range(16),
                                         i -> q.v[i + 1] * n.v[i + 1]))
                                     / (q.nrm * n.nrm) * 1000000 + 0.5) / 1000000
                                    DESC, n.vec_id) AS rn
                FROM np_ q JOIN np_ n ON q.vec_id < 20 AND q.vec_id != n.vec_id
            ) WHERE rn <= 5
        ),
        gf AS (SELECT query_id, list_sort(list(neighbor_id)) AS full_ids FROM tf
               GROUP BY query_id),
        gp AS (SELECT query_id, list_sort(list(neighbor_id)) AS prefix_ids FROM tp
               GROUP BY query_id)
        SELECT gf.query_id,
               len(full_ids) AS k_full,
               len(list_filter(full_ids, x -> list_contains(prefix_ids, x)))
                   AS n_overlap,
               floor(len(list_filter(full_ids, x -> list_contains(prefix_ids, x)))
                     / len(full_ids) * 10000 + 0.5) / 10000 AS recall_at_k
        FROM gf JOIN gp ON gf.query_id = gp.query_id
    """,
    "sim_binary_hamming_topk": """
        WITH base AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings
        ),
        packed AS (
            SELECT vec_id, v,
                   sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
                   list_sum(list_transform(v[1:32],
                       (x, i) -> CASE WHEN x > 0
                                      THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS w0,
                   list_sum(list_transform(v[33:64],
                       (x, i) -> CASE WHEN x > 0
                                      THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS w1
            FROM base
        ),
        short AS (
            SELECT * FROM (
                SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                       bit_count(xor(q.w0, n.w0)) + bit_count(xor(q.w1, n.w1))
                           AS hamming,
                       q.v AS qv, q.nrm AS qn, n.v AS nv, n.nrm AS nn,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY bit_count(xor(q.w0, n.w0))
                                    + bit_count(xor(q.w1, n.w1)), n.vec_id) AS hrn
                FROM packed q JOIN packed n
                    ON q.vec_id < 20 AND q.vec_id != n.vec_id
            ) WHERE hrn <= 32
        )
        SELECT query_id, neighbor_id, hamming,
               cosine, rn AS rank
        FROM (
            SELECT query_id, neighbor_id, hamming,
                   floor(list_sum(list_transform(range(64),
                             i -> qv[i + 1] * nv[i + 1]))
                         / (qn * nn) * 1000000 + 0.5) / 1000000 AS cosine,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY floor(list_sum(list_transform(range(64),
                                    i -> qv[i + 1] * nv[i + 1]))
                                / (qn * nn) * 1000000 + 0.5) / 1000000 DESC,
                                neighbor_id) AS rn
            FROM short
        ) WHERE rn <= 5
    """,
    "sim_outlier_zscore": """
        WITH base AS (
            SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings
        ),
        ex AS (
            SELECT label, vec_id, v, unnest(range(64)) AS dim FROM base
        ),
        cent AS (
            SELECT label, dim,
                   floor(avg(v[dim + 1]) * 1000000 + 0.5) / 1000000 AS c
            FROM ex GROUP BY label, dim
        ),
        centa AS (
            SELECT label, list(c ORDER BY dim) AS centroid FROM cent GROUP BY label
        ),
        d AS (
            SELECT vec_id, b.label,
                   floor(sqrt(list_sum(list_transform(range(64),
                         i -> (b.v[i + 1] - centroid[i + 1])
                              * (b.v[i + 1] - centroid[i + 1]))))
                         * 1000000 + 0.5) / 1000000 AS dist
            FROM base b JOIN centa USING (label)
        ),
        mom AS (
            SELECT label,
                   floor(avg(dist) * 1000000 + 0.5) / 1000000 AS m,
                   floor(stddev_pop(dist) * 1000000 + 0.5) / 1000000 AS s
            FROM d GROUP BY label
        )
        SELECT vec_id, d.label, dist,
               CASE WHEN s = 0 THEN 0.0
                    ELSE floor((dist - m) / s * 10000 + 0.5) / 10000 END AS z,
               (CASE WHEN s = 0 THEN 0.0
                     ELSE floor((dist - m) / s * 10000 + 0.5) / 10000 END) > 2.5
                   AS is_outlier
        FROM d JOIN mom ON d.label = mom.label
    """,
    "sim_contrastive_pairs": """
        WITH base AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> x::DOUBLE) AS v,
                   sqrt(list_sum(list_transform(embedding,
                        x -> x::DOUBLE * x::DOUBLE))) AS nrm
            FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
                   n.vec_id AS other_id, n.label AS other_label,
                   floor(list_sum(list_transform(range(64),
                             i -> q.v[i + 1] * n.v[i + 1]))
                         / (q.nrm * n.nrm) * 1000000 + 0.5) / 1000000 AS cosine
            FROM base q JOIN base n
                ON q.vec_id < 20 AND q.vec_id != n.vec_id
        ),
        hard AS (
            SELECT anchor_id, anchor_label, other_id AS negative_id,
                   other_label AS negative_label, cosine AS neg_cosine, rn AS rank
            FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY anchor_id
                           ORDER BY cosine DESC, other_id) AS rn
                FROM scored WHERE other_label != anchor_label
            ) WHERE rn <= 3
        ),
        pos AS (
            SELECT anchor_id, count(*)::BIGINT AS n_pos,
                   floor(avg(cosine) * 1000000 + 0.5) / 1000000 AS pos_cohesion
            FROM scored WHERE other_label = anchor_label
            GROUP BY anchor_id
        )
        SELECT hard.anchor_id, anchor_label, negative_id, negative_label,
               neg_cosine, rank, n_pos, pos_cohesion
        FROM hard JOIN pos ON hard.anchor_id = pos.anchor_id
    """,
    # n_vectors and total_var (= Σ per-dim population variance = covariance
    # trace) recomputed independently; the eigendecomposition contract
    # booleans must be TRUE (uv_sketch pattern).
    "sim_pca_audit": """
        WITH ex AS (
            SELECT vec_id, unnest(range(64)) AS dim,
                   list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings
        ),
        pv AS (
            SELECT dim, var_pop(v[dim + 1]) AS vp FROM ex GROUP BY dim
        )
        SELECT (SELECT count(*)::BIGINT FROM embeddings) AS n_vectors,
               8 AS k,
               floor(sum(vp) * 10000 + 0.5) / 10000 AS total_var,
               TRUE AS orthonormal,
               TRUE AS spectrum_sorted,
               TRUE AS explained_in_range,
               TRUE AS recon_matches_tail
        FROM pv
    """,
}


def _maxsim_oracle_sql() -> str:
    """Coarse int-dot shortlist + unrolled 4×4 sub-dot MaxSim (greatest per
    query sub-vector, summed) — pure integers on both engines."""
    m, sub = _MAXSIM_M, _MAXSIM_SUB
    dots = []
    for i in range(m):
        row = ", ".join(
            f"list_sum(list_transform(range({sub}), "
            f"t -> q.qv[{i * sub} + t + 1] * c.cv[{j * sub} + t + 1]))"
            for j in range(m)
        )
        dots.append(f"greatest({row})")
    maxsim = " + ".join(dots)
    return f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                              x -> floor(x::DOUBLE * 1000)::BIGINT) AS xq
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, xq AS qv FROM e
          WHERE vec_id < {_MAXSIM_NQ}),
    c AS (SELECT vec_id AS neighbor_id, xq AS cv FROM e),
    coarse AS (
        SELECT query_id, neighbor_id,
               list_sum(list_transform(range(64),
                   i -> q.qv[i + 1] * c.cv[i + 1]))::BIGINT AS coarse_dot
        FROM q JOIN c ON query_id <> neighbor_id
    ),
    sl AS (
        SELECT query_id, neighbor_id, coarse_dot
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY coarse_dot DESC, neighbor_id) AS srn
              FROM coarse)
        WHERE srn <= {_MAXSIM_SHORTLIST}
    ),
    rr AS (
        SELECT sl.query_id, sl.neighbor_id, sl.coarse_dot,
               ({maxsim})::BIGINT AS maxsim
        FROM sl JOIN q ON q.query_id = sl.query_id
                JOIN c ON c.neighbor_id = sl.neighbor_id
    )
    SELECT query_id, rank, neighbor_id, maxsim, coarse_dot
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY maxsim DESC, neighbor_id)
              AS rank
          FROM rr)
    WHERE rank <= {_MAXSIM_K}
"""


ORACLES["sim_maxsim_rerank"] = _maxsim_oracle_sql()

# FaceNet semi-hard selection replayed quadratically: same 64-dim left-fold
# dot/norm idiom as the contrastive oracle, same (cos, id) tie-breaks;
# anchors without a same-label positive or without any negative drop out of
# the inner joins on BOTH engines.
ORACLES["sim_triplet_mining"] = """
    WITH base AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> x::DOUBLE) AS v,
               sqrt(list_sum(list_transform(embedding,
                    x -> x::DOUBLE * x::DOUBLE))) AS nrm
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
               n.vec_id AS other_id, n.label AS other_label,
               floor(list_sum(list_transform(range(64),
                         i -> q.v[i + 1] * n.v[i + 1]))
                     / (q.nrm * n.nrm) * 1000000 + 0.5) / 1000000 AS cos6
        FROM base q JOIN base n
            ON q.vec_id < 20 AND q.vec_id != n.vec_id
    ),
    pos AS (
        SELECT anchor_id, other_id AS pos_id, cos6 AS pos_cos6
        FROM (
            SELECT *, row_number() OVER (PARTITION BY anchor_id
                                         ORDER BY cos6 ASC, other_id) AS rn
            FROM scored WHERE other_label = anchor_label
        ) WHERE rn = 1
    ),
    neg AS (
        SELECT s.anchor_id, s.other_id, s.cos6, p.pos_cos6
        FROM scored s JOIN pos p USING (anchor_id)
        WHERE s.other_label != s.anchor_label
    ),
    shn AS (
        SELECT anchor_id, other_id AS semi_id, cos6 AS semi_cos6
        FROM (
            SELECT *, row_number() OVER (PARTITION BY anchor_id
                                         ORDER BY cos6 DESC, other_id) AS rn
            FROM neg WHERE cos6 < pos_cos6
        ) WHERE rn = 1
    ),
    hardest AS (
        SELECT anchor_id, other_id AS hard_id, cos6 AS hard_cos6
        FROM (
            SELECT *, row_number() OVER (PARTITION BY anchor_id
                                         ORDER BY cos6 DESC, other_id) AS rn
            FROM neg
        ) WHERE rn = 1
    )
    SELECT p.anchor_id, p.pos_id, p.pos_cos6,
           coalesce(s.semi_id, h.hard_id) AS neg_id,
           coalesce(s.semi_cos6, h.hard_cos6) AS neg_cos6,
           p.pos_cos6 - coalesce(s.semi_cos6, h.hard_cos6) AS margin6,
           (CASE WHEN s.semi_id IS NOT NULL THEN 1 ELSE 0 END)::INT AS semi_hard
    FROM pos p
    LEFT JOIN shn s USING (anchor_id)
    JOIN hardest h ON h.anchor_id = p.anchor_id
"""

# k-occurrence histogram over the SAME integer-quantized exact-kNN replay
# as sim_knn_graph (nrm > 0 guard included); zero-occurrence nodes enter
# via the left join from the guarded node set.
ORACLES["sim_hubness_audit"] = """
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding, x -> floor(x::DOUBLE * 10000 + 0.5)) AS qv
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm FROM q
        WHERE list_dot_product(qv, qv) > 0
    ),
    pairs AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               floor(list_dot_product(a.qv, b.qv)
                     / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000 + 0.5)
                 / 1000000 AS cos6
        FROM n a JOIN n b ON a.vec_id != b.vec_id
    ),
    rk AS (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cos6 DESC, dst ASC) AS rank
        FROM pairs
    ),
    knn AS (SELECT src, dst FROM rk WHERE rank <= 5),
    ind AS (SELECT dst AS node, count(*)::BIGINT AS in_deg FROM knn GROUP BY 1)
    SELECT coalesce(i.in_deg, 0)::BIGINT AS in_deg,
           count(*)::BIGINT AS n_nodes,
           sum(nd.node)::BIGINT AS sum_node_ids
    FROM (SELECT vec_id AS node FROM n) nd
    LEFT JOIN ind i USING (node)
    GROUP BY 1
"""


def kmeans_exact(tables: dict[str, DataFrame], k: int = 8, dim: int = 64) -> DataFrame:
    """Deterministic exact-integer Lloyd k-means — the HASH-GATED twin of
    the rows-only IVF family's coarse quantizer (``ivf_assign`` trains the
    same loop in float64; this one is bit-exactly replayable cross-engine,
    so the driver's value hash finally covers the clustering kernel
    itself, not just its invariant audits). Everything lives on the
    integer grid: components quantize to floor(x·10⁴ + 0.5) BEFORE any
    arithmetic (the ``sim_knn_graph`` trick — squared L2 ≤ 64·(1.2e4)²
    ≈ 9e9, exact in int64 AND float64), init is the k smallest vec_ids
    (MLlib's deterministic-seed analog), assignment ties break to the
    smallest cluster index, and the centroid update ROUNDS to the grid:
    c ← floor((2S + n)/(2n)) per coordinate (true floor division — exact
    half-up mean rounding, no float mean ever exists). Two assignment
    rounds, one update between them; the report is the final clustering's
    per-cluster size, EXACT integer inertia, and the centroid's L1 mass +
    md5-head fingerprint (any coordinate drift anywhere breaks it).

    Scale shape (MLlib parity): centroids are the only driver state
    (k × dim ints, a broadcast dim table); each round is ONE Arrow pass
    emitting k×dim partial (sum, count) rows per batch — map-side
    combined, no corpus shuffle; the final stats are one cell-keyed agg
    plus an 8-row broadcast join.

    Reference: datastream keyed-agg parity (gmall DAU-style rollups are
    the same broadcast-state + partial-agg shape); Lloyd 1982."""
    import numpy as np
    import pandas as pd

    from pyspark import StorageLevel

    emb = tables["embeddings"].select("vec_id", "embedding")
    emb = emb.persist(StorageLevel.MEMORY_AND_DISK)

    def _q(mat: "np.ndarray") -> "np.ndarray":
        return np.floor(mat * 10_000 + 0.5).astype(np.int64)

    c0 = _q(
        np.array(
            emb.where(F.col("vec_id") < k)
            .orderBy("vec_id")
            .select("embedding")
            .toPandas()["embedding"]
            .tolist(),
            dtype=np.float64,
        )
    )

    def partials_pass(cent):
        def gen(it: "pd.DataFrame"):
            for pdf in it:
                mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                q = _q(mat)
                d = ((q[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                cell = d.argmin(axis=1)
                rows = {"j": [], "i": [], "s": [], "n": []}
                for j in range(cent.shape[0]):
                    m = cell == j
                    if m.any():
                        s = q[m].sum(axis=0)
                        nm = int(m.sum())
                        for i in range(cent.shape[1]):
                            rows["j"].append(j)
                            rows["i"].append(i)
                            rows["s"].append(int(s[i]))
                            rows["n"].append(nm)
                yield pd.DataFrame(rows)

        return gen

    parts = (
        emb.mapInPandas(partials_pass(c0), "j int, i int, s long, n long")
        .groupBy("j", "i")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .toPandas()
    )
    c1 = c0.copy()
    for j in range(k):
        pj = parts[parts["j"] == j].sort_values("i")
        if len(pj):
            s = pj["s"].to_numpy(dtype=np.int64)
            n = int(pj["n"].iloc[0])
            c1[j] = (2 * s + n) // (2 * n)  # numpy // is true floor

    def final_pass(cent):
        def gen(it: "pd.DataFrame"):
            for pdf in it:
                ids = pdf["vec_id"].to_numpy(dtype=np.int64)
                mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                q = _q(mat)
                d = ((q[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                cell = d.argmin(axis=1)
                dist = d[np.arange(len(ids)), cell]
                yield pd.DataFrame(
                    {
                        "vec_id": ids,
                        "cell": cell.astype(np.int64),
                        "dist": dist.astype(np.int64),
                    }
                )

        return gen

    assigned = emb.mapInPandas(final_pass(c1), "vec_id long, cell long, dist long")
    spark = emb.sparkSession
    cstats = spark.createDataFrame(
        pd.DataFrame(
            {
                "cell": list(range(k)),
                "c_l1": [int(np.abs(c1[j]).sum()) for j in range(k)],
                "cstr": [",".join(str(int(v)) for v in c1[j]) for j in range(k)],
            }
        ),
        "cell long, c_l1 long, cstr string",
    )
    agg = assigned.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum("dist").cast("long").alias("inertia"),
    )
    return agg.join(F.broadcast(cstats), "cell").select(
        F.col("cell").alias("cluster"),
        "n_vecs",
        "inertia",
        "c_l1",
        F.conv(F.substring(F.md5("cstr"), 1, 8), 16, 10)
        .cast("long")
        .alias("c_hash"),
    )


QUERIES["sim_kmeans_exact"] = kmeans_exact
# Full quadratic replay: 2 assignment rounds over the (vec × centroid)
# table, the SAME grid-rounded centroid update ((2S+n) // (2n) floors on
# both engines), smallest-j tie-break, exact integer inertia. DuckDB ^ is
# float pow — squared deltas are spelled (a-b)*(a-b).
ORACLES["sim_kmeans_exact"] = """
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   v -> floor(v::DOUBLE * 10000 + 0.5)::BIGINT) AS x
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS j, x AS c FROM q WHERE vec_id < 8),
    d1 AS (
        SELECT q.vec_id, q.x, c0.j,
               list_sum(list_transform(range(64),
                   i -> (q.x[i + 1] - c0.c[i + 1])
                        * (q.x[i + 1] - c0.c[i + 1])))::BIGINT AS d
        FROM q CROSS JOIN c0
    ),
    a1 AS (
        SELECT vec_id, x, j FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j)
                       AS rn
            FROM d1
        ) WHERE rn = 1
    ),
    sums AS (
        SELECT a1.j, ix.i, sum(a1.x[ix.i + 1])::BIGINT AS s,
               count(*)::BIGINT AS n
        FROM a1 CROSS JOIN (SELECT unnest(range(64)) AS i) ix
        GROUP BY 1, 2
    ),
    news AS (
        -- TRUE floor of (2s+n)/(2n): DuckDB // truncates toward zero on
        -- negative numerators (numpy // floors) — the double division is
        -- exact enough (|2s+n| ≤ 2.6e7, quotient ≥ 1/(2n) from any
        -- integer), so floor() is safe
        SELECT j, list(floor((2 * s + n)::DOUBLE / (2 * n)::DOUBLE)::BIGINT
                       ORDER BY i) AS c
        FROM sums GROUP BY j
    ),
    c1 AS (
        SELECT c0.j, coalesce(news.c, c0.c) AS c
        FROM c0 LEFT JOIN news USING (j)
    ),
    d2 AS (
        SELECT q.vec_id, c1.j,
               list_sum(list_transform(range(64),
                   i -> (q.x[i + 1] - c1.c[i + 1])
                        * (q.x[i + 1] - c1.c[i + 1])))::BIGINT AS d
        FROM q CROSS JOIN c1
    ),
    a2 AS (
        SELECT vec_id, j, d FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j)
                       AS rn
            FROM d2
        ) WHERE rn = 1
    )
    SELECT a2.j AS cluster, count(*)::BIGINT AS n_vecs,
           sum(a2.d)::BIGINT AS inertia,
           list_sum(list_transform(c1.c, v -> abs(v)))::BIGINT AS c_l1,
           ('0x' || substr(md5(array_to_string(c1.c, ',')), 1, 8))
               ::UBIGINT::BIGINT AS c_hash
    FROM a2 JOIN c1 ON c1.j = a2.j
    GROUP BY a2.j, c_l1, c_hash
"""


def lexical_semantic_gap(tables: dict[str, DataFrame]) -> DataFrame:
    """Lexical-vs-semantic divergence audit — the measurement that motivates
    SemDeDup (Abbas et al. 2023): pairs that are SEMANTIC duplicates
    (high embedding cosine) but LEXICAL strangers (low token Jaccard) are
    exactly what MinHash-style dedup misses and embedding dedup catches;
    the reverse corner (high Jaccard, low cosine) flags a broken embedding
    space. Over successor pairs within each language (doc_id order — the
    same spine the dedup_edit_distance family uses): exact distinct-token
    Jaccard (|∩| and |A|+|B|−|∩| stay integers; one round6 division) vs
    cosine over per-vector int8-quantized embeddings (the quantize_int8
    grid: q = floor(x/scale+0.5), scale = maxabs/127) — so the dot and
    both norms are EXACT int64 and the cosine is one pinned
    sqrt·sqrt division. The 2×2 gate matrix (cos ≥ 0.5 × jac ≥ 0.2 on
    identically-pinned values) rolls up per language.

    Plan: one docs⋈embeddings join on the id spine, one lang-keyed window
    carrying (tokens, qvec) to the successor — no self-join; the rollup
    is a 5-group agg. At scale the window partitions by lang and the
    arrays ride the shuffle once."""
    docs = tables["documents"]
    emb = tables["embeddings"]
    v = _as_double(F.col("embedding"))
    joined = docs.join(
        emb.select(
            F.col("vec_id").alias("doc_id"),
            _quantize_longs(v, 127).alias("q"),
        ),
        "doc_id",
    ).select(
        "doc_id",
        "lang",
        F.array_distinct(F.split(F.trim("text"), r"\s+")).alias("toks"),
        "q",
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    pairs = joined.select(
        "lang",
        "toks",
        "q",
        F.lead("toks").over(w).alias("toks_b"),
        F.lead("q").over(w).alias("q_b"),
    ).where(F.col("toks_b").isNotNull())
    inter = F.size(F.array_intersect("toks", "toks_b")).cast("long")
    uni = (
        F.size("toks") + F.size("toks_b")
    ).cast("long") - inter
    dot = F.aggregate(
        F.zip_with("q", "q_b", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    nrm = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0).cast("long"), lambda a, x: a + x * x
    )
    scored = pairs.select(
        "lang",
        round6(inter.cast("double") / uni.cast("double")).alias("jac"),
        F.when(
            (nrm(F.col("q")) > 0) & (nrm(F.col("q_b")) > 0),
            round6(
                dot.cast("double")
                / (
                    F.sqrt(nrm(F.col("q")).cast("double"))
                    * F.sqrt(nrm(F.col("q_b")).cast("double"))
                ),
            ),
        ).alias("cos"),
        inter.alias("inter"),
        uni.alias("uni"),
    )
    sem = F.col("cos").isNotNull() & (F.col("cos") >= 0.5)
    lex = F.col("jac") >= 0.2
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return scored.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_pairs"),
        one(sem & lex).alias("n_both"),
        one(sem & ~lex).alias("n_semantic_only"),
        one(~sem & lex).alias("n_lexical_only"),
        one(~sem & ~lex).alias("n_neither"),
        F.sum("inter").cast("long").alias("inter_mass"),
        F.sum("uni").cast("long").alias("union_mass"),
    )


QUERIES["sim_lexical_semantic_gap"] = lexical_semantic_gap
# Same spine, same int8 grid, same pinned divisions; set sizes via
# |A|+|B|-|∩| of DISTINCT token lists on both engines.
ORACLES["sim_lexical_semantic_gap"] = """
    WITH j AS (
        SELECT d.doc_id, d.lang,
               list_distinct(regexp_split_to_array(trim(d.text), '\\s+'))
                   AS toks,
               list_transform(e.embedding, x -> CASE
                   WHEN list_max(list_transform(e.embedding,
                                                y -> abs(y::DOUBLE))) = 0
                   THEN floor(x::DOUBLE / 1.0 + 0.5)::BIGINT
                   ELSE floor(x::DOUBLE
                              / (list_max(list_transform(e.embedding,
                                          y -> abs(y::DOUBLE))) / 127.0)
                              + 0.5)::BIGINT END) AS q
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    pairs AS (
        SELECT lang, toks, q,
               lead(toks) OVER w AS toks_b,
               lead(q) OVER w AS q_b
        FROM j WINDOW w AS (PARTITION BY lang ORDER BY doc_id)
    ),
    scored AS (
        SELECT lang,
               len(list_intersect(toks, toks_b))::BIGINT AS inter,
               (len(toks) + len(toks_b)
                - len(list_intersect(toks, toks_b)))::BIGINT AS uni,
               list_sum(list_transform(range(len(q)),
                        i -> q[i + 1] * q_b[i + 1]))::BIGINT AS dot,
               list_sum(list_transform(q, x -> x * x))::BIGINT AS na,
               list_sum(list_transform(q_b, x -> x * x))::BIGINT AS nb
        FROM pairs WHERE toks_b IS NOT NULL
    ),
    pinned AS (
        SELECT lang, inter, uni,
               floor(inter::DOUBLE / uni::DOUBLE * 1000000 + 0.5)
                   / 1000000 AS jac,
               CASE WHEN na > 0 AND nb > 0
                    THEN floor(dot::DOUBLE
                               / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE))
                               * 1000000 + 0.5) / 1000000
               END AS cos
        FROM scored
    )
    SELECT lang, count(*)::BIGINT AS n_pairs,
           sum(CASE WHEN cos IS NOT NULL AND cos >= 0.5 AND jac >= 0.2
                    THEN 1 ELSE 0 END)::BIGINT AS n_both,
           sum(CASE WHEN cos IS NOT NULL AND cos >= 0.5 AND jac < 0.2
                    THEN 1 ELSE 0 END)::BIGINT AS n_semantic_only,
           sum(CASE WHEN (cos IS NULL OR cos < 0.5) AND jac >= 0.2
                    THEN 1 ELSE 0 END)::BIGINT AS n_lexical_only,
           sum(CASE WHEN (cos IS NULL OR cos < 0.5) AND jac < 0.2
                    THEN 1 ELSE 0 END)::BIGINT AS n_neither,
           sum(inter)::BIGINT AS inter_mass,
           sum(uni)::BIGINT AS union_mass
    FROM pinned GROUP BY 1
"""


def inbatch_retrieval_acc(tables: dict[str, DataFrame]) -> DataFrame:
    """In-batch retrieval accuracy under quantization distortion — the
    two-tower / contrastive-training eval (each query must rank its OWN
    positive above the other B−1 in-batch candidates; van den Oord's
    InfoNCE accuracy, here with the candidate tower degraded to int4 to
    measure how much scalar quantization costs retrieval). Queries are
    the int8-quantized embeddings (``quantize_int8`` grid), candidates
    the SAME vectors re-quantized to int4 (q = floor(x/scale4 + 0.5),
    scale4 = maxabs/7): every dot is exact int64, the in-batch argmax
    breaks ties by smallest candidate id (deterministic), and a query
    scores when its argmax IS itself. Batches are vec_id // 16.

    Plan: one batch-keyed self-join (16× fan-out — B·B dots per batch,
    the literal in-batch-negatives matrix), one window argmax, one label
    rollup. At scale batch size is fixed, so cost is linear in corpus."""
    emb = tables["embeddings"]
    v = _as_double(F.col("embedding"))
    base = emb.select(
        "vec_id",
        "label",
        (F.col("vec_id") / 16).cast("long").alias("batch"),
        _quantize_longs(v, 127).alias("q8"),
        _quantize_longs(v, 7).alias("q4"),
    )
    queries = base.select(
        "batch", F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"), "q8"
    )
    cands = base.select("batch", F.col("vec_id").alias("cid"), "q4")
    dots = queries.join(cands, "batch").select(
        "batch",
        "qid",
        "qlabel",
        "cid",
        F.aggregate(
            F.zip_with("q8", "q4", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("dot"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("cid"))
    top = dots.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return top.groupBy(F.col("qlabel").alias("label")).agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum(F.when(F.col("cid") == F.col("qid"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.sum("dot").cast("long").alias("top_dot_mass"),
    )


QUERIES["sim_inbatch_retrieval_acc"] = inbatch_retrieval_acc
# Same two quantization grids, quadratic-in-batch replay, same argmax
# tiebreak; everything integer.
ORACLES["sim_inbatch_retrieval_acc"] = """
    WITH base AS (
        SELECT vec_id, label, vec_id // 16 AS batch,
               list_transform(embedding, x -> CASE
                   WHEN list_max(list_transform(embedding,
                                                y -> abs(y::DOUBLE))) = 0
                   THEN floor(x::DOUBLE / 1.0 + 0.5)::BIGINT
                   ELSE floor(x::DOUBLE
                              / (list_max(list_transform(embedding,
                                          y -> abs(y::DOUBLE))) / 127.0)
                              + 0.5)::BIGINT END) AS q8,
               list_transform(embedding, x -> CASE
                   WHEN list_max(list_transform(embedding,
                                                y -> abs(y::DOUBLE))) = 0
                   THEN floor(x::DOUBLE / 1.0 + 0.5)::BIGINT
                   ELSE floor(x::DOUBLE
                              / (list_max(list_transform(embedding,
                                          y -> abs(y::DOUBLE))) / 7.0)
                              + 0.5)::BIGINT END) AS q4
        FROM embeddings
    ),
    dots AS (
        SELECT q.batch, q.vec_id AS qid, q.label AS qlabel,
               c.vec_id AS cid,
               list_sum(list_transform(range(len(q.q8)),
                        i -> q.q8[i + 1] * c.q4[i + 1]))::BIGINT AS dot
        FROM base q JOIN base c ON q.batch = c.batch
    ),
    top AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY qid
                                         ORDER BY dot DESC, cid) AS rn
            FROM dots
        ) WHERE rn = 1
    )
    SELECT qlabel AS label, count(*)::BIGINT AS n_queries,
           sum(CASE WHEN cid = qid THEN 1 ELSE 0 END)::BIGINT AS n_correct,
           sum(dot)::BIGINT AS top_dot_mass
    FROM top GROUP BY 1
"""


# Conservative per-n_probe recall floors for the IVF tuning curve below —
# measured then pinned with margin under the worst SF, same convention as
# ANN_RECALL_FLOORS (values printed by the authoring sweep; see tests).
RECALL_CURVE_FLOORS = {1: 0.60, 2: 0.65, 4: 0.75, 8: 0.85, 16: 1.0}
# measured: sf0.001 [0.74 0.78 0.82 0.92 1.0], sf0.01 [0.72 0.74 0.84
# 0.93 1.0], sf0.1 [0.81 0.85 0.92 0.96 1.0] — floors sit ~0.1 under
# the worst observed point; n_probe=16 is exact by construction.


def ivf_recall_curve(
    tables: dict[str, DataFrame], num_queries: int = 20, k: int = 5
) -> DataFrame:
    """IVF n_probe TUNING CURVE — recall@k vs probe count over the same
    16-cell index: the capacity-planning sweep an ANN deployment runs
    before picking its latency/recall operating point (each doubling of
    n_probe roughly doubles candidate cost; the curve says what recall it
    buys). ``sim_ann_recall_audit`` watches ONE operating point per
    method; this sweeps the knob — and its n_probe=16 row probes every
    cell, where IVF-Flat degenerates to exact search, so recall MUST hit
    1.0 exactly (the structural self-check that the probe machinery, not
    luck, drives the curve).

    uv_sketch oracle pattern: n_queries is independently recomputable,
    floors are pinned literals, the booleans must all be TRUE; recall is
    engine-specific (k-means cells), so it gates via the floor/monotone/
    exact-at-full contract. The coarse quantizer trains ONCE and every
    sweep point shares it (the r5 shared-trained lesson); the exact
    baseline persists once.

    Scale: each sweep point is the IVF equi-join (corpus × n_probe /
    n_cells candidates); the audit cost scales with the query sample,
    never the index size."""
    from pyspark import StorageLevel

    exact = (
        cosine_topk(tables, num_queries, k)
        .select("query_id", "neighbor_id")
        .persist()
    )
    emb = tables["embeddings"]
    assigned, cent = ivf_assign(emb, 16)
    trained = (assigned.persist(StorageLevel.MEMORY_AND_DISK), cent)

    rows = []
    for n_probe in sorted(RECALL_CURVE_FLOORS):
        floor = RECALL_CURVE_FLOORS[n_probe]
        ann = (
            ivf_ann_topk(tables, num_queries, k, n_probe=n_probe, trained=trained)
            .select("query_id", "neighbor_id")
            .withColumn("hit", F.lit(1))
        )
        j = exact.join(ann, ["query_id", "neighbor_id"], "left")
        rows.append(
            j.agg(
                F.countDistinct("query_id").cast("long").alias("n_queries"),
                (F.sum(F.coalesce("hit", F.lit(0))) / F.count("*")).alias("r"),
            ).select(
                F.lit(n_probe).cast("long").alias("n_probe"),
                "n_queries",
                F.lit(floor).alias("recall_floor"),
                (F.col("r") >= floor).alias("recall_ok"),
                F.col("r").alias("_r"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    # materialize, then release (the ann_recall_audit unpersist contract).
    # NOTE (r10, measured): do NOT split this union into per-point threaded
    # collects — the single union action already evaluates the 5 sweep
    # branches as concurrent stages of ONE job (the points share `trained`,
    # so their construction is trivial); the threaded variant measured
    # 6.5 -> 7.8-9.2 s at sf0.1 from added warm-up actions + 5 separate
    # job submissions. Threading pays only when branch CONSTRUCTION runs
    # driver actions (ann_recall_audit's pq_train chains), not here.
    res = out.collect()
    exact.unpersist()
    trained[0].unpersist()
    by_probe = sorted(res, key=lambda row: row["n_probe"])
    final = []
    prev = None
    for row in by_probe:
        monotone = prev is None or row["_r"] >= prev - 1e-12
        final.append(
            (
                row["n_probe"],
                row["n_queries"],
                row["recall_floor"],
                bool(row["recall_ok"]),
                bool(monotone),
                bool(row["n_probe"] != 16 or abs(row["_r"] - 1.0) < 1e-12),
            )
        )
        prev = row["_r"]
    return emb.sparkSession.createDataFrame(
        final,
        "n_probe long, n_queries long, recall_floor double, recall_ok boolean,"
        " monotone_ok boolean, exact_at_full boolean",
    )


QUERIES["sim_recall_curve"] = ivf_recall_curve
ORACLES["sim_recall_curve"] = """
    SELECT m.n_probe::BIGINT AS n_probe, nq.n AS n_queries, m.recall_floor,
           TRUE AS recall_ok, TRUE AS monotone_ok, TRUE AS exact_at_full
    FROM (VALUES (1, 0.60::DOUBLE), (2, 0.65::DOUBLE), (4, 0.75::DOUBLE),
                 (8, 0.85::DOUBLE), (16, 1.0::DOUBLE))
         m(n_probe, recall_floor),
         (SELECT count(*)::BIGINT AS n FROM embeddings WHERE vec_id < 20) nq
"""


def pq_distortion_curve(tables: dict[str, DataFrame]) -> DataFrame:
    """PQ capacity curve — reconstruction distortion vs subspace count
    m ∈ {2, 4, 8} at fixed per-subspace codebook size (k=16): the
    storage-planning sweep that says what each doubling of code bytes
    (bits/vector = m·log₂k = 4m) buys in fidelity, the quantization twin
    of ``sim_recall_curve``'s n_probe sweep (``sim_pq_audit`` watches
    one operating point; this ranks the knob). More subspaces partition
    the space finer at equal k, so MSE must fall MONOTONICALLY in m and
    every point must beat the zero-information baseline (coding every
    vector as the corpus mean) — the two booleans under the hash; MSE
    itself is engine-specific (Lloyd codebooks), uv_sketch pattern.

    Scale: one Arrow coding pass per sweep point over shared input;
    audit output is |m-values| rows regardless of corpus size."""
    emb = tables["embeddings"]
    var_mean = (
        emb.select(F.posexplode("embedding").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.var_pop(F.col("val").cast("double")).alias("v"))
        .agg(F.avg("v").alias("v"))
        .scalar()
    )
    n_vec = emb.agg(F.count("*").cast("long")).scalar()

    def sweep_point(m):
        codes, _cb = pq_train(emb, m=m, base=shared)
        return codes.agg(F.avg("recon_mse").alias("mse")).select(
            F.lit(m).cast("long").alias("m_subspaces"),
            F.lit(4 * m).cast("long").alias("bits_per_vector"),
            n_vec.alias("n_vectors"),
            (F.col("mse") < var_mean).alias("beats_mean"),
            F.col("mse").alias("_mse"),
        )

    # The three sweep points each run pq_train's per-round Lloyd actions
    # while being BUILT — overlap them (guide §2.6, the ann_recall_audit
    # discipline); var_mean/n_vec are lazy scalar subqueries, so the
    # unioned plan collected below is identical. The (vec_id, embedding)
    # base is persisted ONCE here and injected into every pq_train call
    # (ADVICE r10 #1): the previous shape had each thread persist/unpersist
    # the identical lineage — one shared CacheManager entry that the first
    # finisher yanked mid-Lloyd for the other two. try/finally so the
    # corpus-sized block is released even if a sweep thread raises
    # (ADVICE r10 #2).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import StorageLevel

    shared = emb.select("vec_id", "embedding").persist(StorageLevel.MEMORY_AND_DISK)
    try:
        with ThreadPoolExecutor(max_workers=3) as pool:
            rows = list(pool.map(sweep_point, (2, 4, 8)))
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        res = sorted(out.collect(), key=lambda r: r["m_subspaces"])
    finally:
        shared.unpersist()
    final = []
    prev = None
    for r in res:
        final.append(
            (
                r["m_subspaces"],
                r["bits_per_vector"],
                r["n_vectors"],
                bool(r["beats_mean"]),
                bool(prev is None or r["_mse"] <= prev),
            )
        )
        prev = r["_mse"]
    return emb.sparkSession.createDataFrame(
        final,
        "m_subspaces long, bits_per_vector long, n_vectors long,"
        " beats_mean boolean, monotone_ok boolean",
    )


QUERIES["sim_pq_distortion_curve"] = pq_distortion_curve
ORACLES["sim_pq_distortion_curve"] = """
    SELECT m.m::BIGINT AS m_subspaces, (4 * m.m)::BIGINT AS bits_per_vector,
           nv.n AS n_vectors, TRUE AS beats_mean, TRUE AS monotone_ok
    FROM (VALUES (2), (4), (8)) m(m),
         (SELECT count(*)::BIGINT AS n FROM embeddings) nv
"""


def pq_k1_identity(tables: dict[str, DataFrame]) -> DataFrame:
    """Degenerate-case EXACTNESS gate for the PQ coding kernel (VERDICT r7
    #4): with a single-centroid codebook (k_codes=1) Lloyd provably
    converges to the per-subspace mean in one round, so ``pq_train`` must
    code EVERY vector as the corpus per-dim mean vector — recon_mse_i ==
    sum_d (x_id − mu_d)² / dim exactly, and every code is 0. Both facts
    are independently computable in plain SQL, which upgrades the
    rows-only ``sim_quantize_pq`` from recall/parity pinning (pytest +
    ``sim_pq_audit`` booleans) to a PER-VECTOR hash gate on the very same
    mapInPandas coding pass: a drift in the Lloyd update, the partial-sum
    fold, or the coding kernel's distance arithmetic moves a 6-dp mse and
    breaks the driver hash.

    Scale: identical plan shape to the production ``pq_train`` call — two
    Arrow partial passes + one coding pass, driver state is the (m×1×d_sub)
    codebook; output is corpus-sized but one row per vector."""
    codes, _cb = pq_train(tables["embeddings"], m=8, k=1, iters=2)
    return codes.select(
        "vec_id",
        F.size("codes").cast("long").alias("n_codes"),
        F.aggregate("codes", F.lit(0), lambda a, c: a + c)
        .cast("long")
        .alias("code_sum"),
        (F.floor(F.col("recon_mse") * 1000000 + 0.5) / 1000000).alias("mse6"),
    )


QUERIES["sim_pq_k1_identity"] = pq_k1_identity
ORACLES["sim_pq_k1_identity"] = """
    WITH dims AS (
        SELECT vec_id, i AS d, embedding[i]::DOUBLE AS x
        FROM embeddings, range(1, 65) t(i)
    ),
    mu AS (SELECT d, avg(x) AS m FROM dims GROUP BY d)
    SELECT dims.vec_id,
           8::BIGINT AS n_codes,
           0::BIGINT AS code_sum,
           floor(sum((x - m) * (x - m)) / 64.0 * 1000000 + 0.5) / 1000000
               AS mse6
    FROM dims JOIN mu USING (d)
    GROUP BY dims.vec_id
"""


def ivfpq_residual_exact(tables: dict[str, DataFrame]) -> DataFrame:
    """Degenerate-case EXACTNESS gate for the full IVFPQ-residual pipeline
    (VERDICT r7 #4, the probe-all==exact trick extended to PQ): restrict
    the corpus to the first 16 vectors and set k_codes=16 — ``pq_train``'s
    deterministic init seeds every residual subvector as its own centroid,
    each point's nearest centroid is itself at distance exactly 0, so
    Lloyd is converged at an IDENTITY codebook and reconstruction is
    lossless; with n_cells=1 (probe-all by construction) the ADC distance
    collapses to ‖(q−c)−(x−c)‖² = exact L2, so the END-TO-END pipeline —
    coarse Lloyd, JVM residuals, codebook training, ADC table build, the
    fold over codes, shortlist, rerank — must reproduce brute-force kNN
    bit-for-bit at 6 dp. DuckDB recomputes that kNN from scratch; any
    drift anywhere in the pipeline breaks the hash. This is the hash-gated
    degenerate twin for the rows-only ``sim_ivfpq_residual_topk``
    (production parameters can't be SQL-checked because k-means cells and
    lossy codebooks aren't SQL-expressible; the degenerate point is)."""
    emb = tables["embeddings"]
    small = {"embeddings": emb.filter(F.col("vec_id") < 16)}
    return ivf_pq_residual_ann_topk(
        small, num_queries=8, k=3, n_cells=1, n_probe=1, m=8, k_codes=16
    )


QUERIES["sim_ivfpq_residual_exact"] = ivfpq_residual_exact
ORACLES["sim_ivfpq_residual_exact"] = """
    WITH sub AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16
    ),
    dims AS (
        SELECT vec_id, i AS d, embedding[i]::DOUBLE AS x
        FROM sub, range(1, 65) t(i)
    ),
    pairs AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               floor(sum((a.x - b.x) * (a.x - b.x)) / 64.0 * 1000000 + 0.5)
                   / 1000000 AS d6
        FROM dims a JOIN dims b ON a.d = b.d
        WHERE a.vec_id < 8 AND a.vec_id <> b.vec_id
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, neighbor_id, d6,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d6, neighbor_id) AS rank
        FROM pairs
    )
    SELECT query_id, neighbor_id, d6 AS approx_d, d6 AS exact_d,
           rank::BIGINT AS rank
    FROM ranked WHERE rank <= 3
"""


def novelty_knn_census(
    tables: dict[str, DataFrame], k: int = 5, bands: int = 10
) -> DataFrame:
    """k-NN novelty census — the per-point DENSITY score a data-selection
    pass ranks by (Sorscher et al. 2022's self-supervised prototype
    distance, public): novelty(v) = 1 − mean cosine to v's k nearest
    neighbors. Low novelty = deep inside a dense semantic clump (safe to
    subsample aggressively); high novelty = sparse-region / long-tail
    example (keep). Distinct from the family's other per-point scores:
    ``sim_outlier_zscore`` flags GLOBAL geometry outliers via the norm,
    ``sim_hubness_audit`` measures who appears in OTHERS' lists; novelty
    measures how crowded each point's OWN neighborhood is — the signal
    data-pruning curricula actually threshold.

    Exactness: composes the hash-gated ``knn_graph`` kernel, then leaves
    float arithmetic entirely — each neighbor's 6dp cosine is recovered
    to exact integer micro-units, and the per-point mean, the novelty
    value, and the decile band are INTEGER division/cross-multiplies
    (``(n·10⁶ − Σppm)·bands div n·10⁶``), so no summation-order or
    boundary-rounding hazard exists on either engine. Census rows carry
    an exact node-id checksum per band (the hubness protocol).

    Scale: nodes×k edges → one node-keyed agg → ≤ ``bands``-row census
    with map-side partials; the kNN kernel itself is the blocked-GEMM
    plan documented on ``knn_graph``."""
    knn = knn_graph(tables, k=k)
    per = (
        knn.select(
            "vec_id",
            F.floor(F.col("cos6") * 1_000_000 + F.lit(0.5))
            .cast("long")
            .alias("c_ppm"),
        )
        .groupBy("vec_id")
        .agg(
            F.count("*").cast("long").alias("n_nb"),
            F.sum("c_ppm").cast("long").alias("sum_ppm"),
        )
    )
    scored = per.select(
        "vec_id",
        F.expr("(n_nb * 1000000 - sum_ppm) div n_nb").alias("nov_ppm"),
        F.expr(
            f"least((n_nb * 1000000 - sum_ppm) * {bands} div (n_nb * 1000000),"
            f" {bands - 1})"
        ).alias("band"),
    )
    return scored.groupBy("band").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.min("nov_ppm").cast("long").alias("min_ppm"),
        F.max("nov_ppm").cast("long").alias("max_ppm"),
        F.sum("vec_id").cast("long").alias("id_checksum"),
    )


QUERIES["sim_novelty_knn"] = novelty_knn_census
ORACLES["sim_novelty_knn"] = """
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding, x -> floor(x::DOUBLE * 10000 + 0.5)) AS qv
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm FROM q
        WHERE list_dot_product(qv, qv) > 0
    ),
    pairs AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               floor(list_dot_product(a.qv, b.qv)
                     / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000 + 0.5)
                 / 1000000 AS cos6
        FROM n a JOIN n b ON a.vec_id != b.vec_id
    ),
    rk AS (
        SELECT src, dst, cos6,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cos6 DESC, dst ASC) AS rank
        FROM pairs
    ),
    per AS (
        SELECT src AS vec_id, count(*)::BIGINT AS n_nb,
               sum(floor(cos6 * 1000000 + 0.5)::BIGINT)::BIGINT AS sum_ppm
        FROM rk WHERE rank <= 5 GROUP BY src
    ),
    scored AS (
        SELECT vec_id,
               (n_nb * 1000000 - sum_ppm) // n_nb AS nov_ppm,
               least((n_nb * 1000000 - sum_ppm) * 10 // (n_nb * 1000000), 9)
                   AS band
        FROM per
    )
    SELECT band, count(*)::BIGINT AS n_vecs,
           min(nov_ppm)::BIGINT AS min_ppm,
           max(nov_ppm)::BIGINT AS max_ppm,
           sum(vec_id)::BIGINT AS id_checksum
    FROM scored GROUP BY band
"""


def mmr_rerank(
    tables: dict[str, DataFrame], num_queries: int = 20, n_cand: int = 10
) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein 1998,
    public) — the DIVERSIFICATION step a retrieval pipeline runs on its
    candidate list before showing k results: greedily pick
    argmax λ·rel(d) − (1−λ)·max_{s∈picked} sim(d, s), so near-duplicate
    hits can't crowd the short list. Completes the rerank family:
    ``sim_maxsim_rerank`` is ColBERT-style token-level scoring (better
    RELEVANCE), MMR trades relevance for coverage (less REDUNDANCY) —
    the two standard second-stage moves. λ = 0.7 pinned.

    Exactness: candidates and their pairwise sims use the exact
    ``cosine_topk`` protocol (same sequential-fold dot, 6dp floor), then
    scoring leaves floats: rel/sim recover to integer ppm and the MMR
    objective is the exact integer 7·rel_ppm − 3·maxsim_ppm (λ=0.7 as a
    7/3 integer split, ×10 scale), ties → lowest neighbor id. The greedy
    loop is UNROLLED to 3 picks so the DuckDB oracle replays it as 3
    CTE stages — same contract as the unrolled pagerank iterations.

    Scale: candidate lists are top-``n_cand`` per query (the bounded
    cosine_topk plan); pair sims are |queries|·n_cand² rows, every join
    equi-keyed on query_id — never corpus². At 100 TB the candidate
    generator upgrades to the IVF/LSH path; the rerank cost is unchanged
    (it never touches the corpus)."""
    # localCheckpoint: the candidate frame feeds FIVE consumers (both
    # sides of the pair grid, s1, c2's base, and through c2 the later
    # stages) — uncheckpointed, each replayed the broadcast cosine scorer
    # (measured 3.2 s warm vs ~1.5 s checkpointed at sf0.1); the frame is
    # only |queries|·n_cand rows
    cand = cosine_topk(tables, num_queries, n_cand).select(
        "query_id",
        "neighbor_id",
        F.floor(F.col("cosine") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("rel_ppm"),
        "rank",
    ).localCheckpoint()
    vec = with_norm(tables["embeddings"]).select("vec_id", "v", "nrm")
    a, b = cand.alias("a"), cand.alias("b")
    sim = _dot(F.col("va.v"), F.col("vb.v")) / (F.col("va.nrm") * F.col("vb.nrm"))
    pairs = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.neighbor_id") != F.col("b.neighbor_id")),
        )
        .join(vec.alias("va"), F.col("a.neighbor_id") == F.col("va.vec_id"))
        .join(vec.alias("vb"), F.col("b.neighbor_id") == F.col("vb.vec_id"))
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.neighbor_id").alias("d"),
            F.col("b.neighbor_id").alias("s"),
            F.floor(sim * 1_000_000 + F.lit(0.5)).cast("long").alias("sim_ppm"),
        )
        # pairs feeds d1 AND d2; checkpointed for the same replay reason
        .localCheckpoint()
    )
    s1 = cand.where(F.col("rank") == 1).select(
        "query_id",
        F.col("neighbor_id").alias("s1"),
        (7 * F.col("rel_ppm")).alias("score1"),
    )
    d1 = pairs.join(s1, (pairs.query_id == s1.query_id) & (pairs.s == s1.s1)).select(
        pairs.query_id.alias("query_id"), "d", F.col("sim_ppm").alias("s1_ppm")
    )
    c2 = (
        cand.join(s1.select("query_id", "s1"), "query_id")
        .where(F.col("neighbor_id") != F.col("s1"))
        .join(
            d1,
            (cand.query_id == d1.query_id) & (cand.neighbor_id == d1.d),
        )
        .select(
            cand.query_id.alias("query_id"),
            "neighbor_id",
            "rel_ppm",
            "s1_ppm",
            (7 * F.col("rel_ppm") - 3 * F.col("s1_ppm")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    s2 = (
        c2.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "query_id", F.col("neighbor_id").alias("s2"), F.col("score").alias("score2")
        )
    )
    d2 = pairs.join(s2, (pairs.query_id == s2.query_id) & (pairs.s == s2.s2)).select(
        pairs.query_id.alias("query_id"), "d", F.col("sim_ppm").alias("s2_ppm")
    )
    c3 = (
        c2.join(s2.select("query_id", "s2"), "query_id")
        .where(F.col("neighbor_id") != F.col("s2"))
        .join(
            d2,
            (c2.query_id == d2.query_id) & (c2.neighbor_id == d2.d),
        )
        .select(
            c2.query_id.alias("query_id"),
            "neighbor_id",
            (
                7 * F.col("rel_ppm")
                - 3 * F.greatest("s1_ppm", "s2_ppm")
            ).alias("score"),
        )
    )
    s3 = (
        c3.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "query_id", F.col("neighbor_id").alias("s3"), F.col("score").alias("score3")
        )
    )
    return (
        s1.select(
            "query_id",
            F.lit(1).cast("int").alias("pick"),
            F.col("s1").alias("neighbor_id"),
            F.col("score1").cast("long").alias("score_x10_ppm"),
        )
        .unionByName(
            s2.select(
                "query_id",
                F.lit(2).cast("int").alias("pick"),
                F.col("s2").alias("neighbor_id"),
                F.col("score2").cast("long").alias("score_x10_ppm"),
            )
        )
        .unionByName(
            s3.select(
                "query_id",
                F.lit(3).cast("int").alias("pick"),
                F.col("s3").alias("neighbor_id"),
                F.col("score3").cast("long").alias("score_x10_ppm"),
            )
        )
    )


QUERIES["sim_mmr_rerank"] = mmr_rerank
ORACLES["sim_mmr_rerank"] = """
    WITH scored AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               floor((
    list_sum(list_transform(range(64),
        i -> q.embedding[i + 1]::DOUBLE * n.embedding[i + 1]::DOUBLE))
    / (sqrt(list_sum(list_transform(range(64), i -> q.embedding[i + 1]::DOUBLE * q.embedding[i + 1]::DOUBLE)))
       * sqrt(list_sum(list_transform(range(64), i -> n.embedding[i + 1]::DOUBLE * n.embedding[i + 1]::DOUBLE))))
) * 1000000 + 0.5) / 1000000 AS cosine
        FROM embeddings q JOIN embeddings n ON q.vec_id != n.vec_id
        WHERE q.vec_id < 20
    ),
    cand AS (
        SELECT query_id, neighbor_id,
               floor(cosine * 1000000 + 0.5)::BIGINT AS rel_ppm, rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 10
    ),
    pairs AS (
        SELECT a.query_id, a.neighbor_id AS d, b.neighbor_id AS s,
               floor((
    list_sum(list_transform(range(64),
        i -> va.embedding[i + 1]::DOUBLE * vb.embedding[i + 1]::DOUBLE))
    / (sqrt(list_sum(list_transform(range(64), i -> va.embedding[i + 1]::DOUBLE * va.embedding[i + 1]::DOUBLE)))
       * sqrt(list_sum(list_transform(range(64), i -> vb.embedding[i + 1]::DOUBLE * vb.embedding[i + 1]::DOUBLE))))
) * 1000000 + 0.5)::BIGINT AS sim_ppm
        FROM cand a
        JOIN cand b ON a.query_id = b.query_id AND a.neighbor_id != b.neighbor_id
        JOIN embeddings va ON va.vec_id = a.neighbor_id
        JOIN embeddings vb ON vb.vec_id = b.neighbor_id
    ),
    s1 AS (
        SELECT query_id, neighbor_id AS s1, 7 * rel_ppm AS score1
        FROM cand WHERE rank = 1
    ),
    d1 AS (
        SELECT p.query_id, p.d, p.sim_ppm AS s1_ppm
        FROM pairs p JOIN s1 ON p.query_id = s1.query_id AND p.s = s1.s1
    ),
    c2 AS (
        SELECT c.query_id, c.neighbor_id, c.rel_ppm, d1.s1_ppm,
               7 * c.rel_ppm - 3 * d1.s1_ppm AS score
        FROM cand c
        JOIN s1 ON c.query_id = s1.query_id AND c.neighbor_id != s1.s1
        JOIN d1 ON c.query_id = d1.query_id AND c.neighbor_id = d1.d
    ),
    s2 AS (
        SELECT query_id, neighbor_id AS s2, score AS score2 FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, neighbor_id ASC) AS rn
            FROM c2
        ) WHERE rn = 1
    ),
    d2 AS (
        SELECT p.query_id, p.d, p.sim_ppm AS s2_ppm
        FROM pairs p JOIN s2 ON p.query_id = s2.query_id AND p.s = s2.s2
    ),
    c3 AS (
        SELECT c.query_id, c.neighbor_id,
               7 * c.rel_ppm - 3 * greatest(c.s1_ppm, d2.s2_ppm) AS score
        FROM c2 c
        JOIN s2 ON c.query_id = s2.query_id AND c.neighbor_id != s2.s2
        JOIN d2 ON c.query_id = d2.query_id AND c.neighbor_id = d2.d
    ),
    s3 AS (
        SELECT query_id, neighbor_id AS s3, score AS score3 FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, neighbor_id ASC) AS rn
            FROM c3
        ) WHERE rn = 1
    )
    SELECT query_id, 1::INT AS pick, s1 AS neighbor_id, score1::BIGINT AS score_x10_ppm FROM s1
    UNION ALL
    SELECT query_id, 2::INT, s2, score2::BIGINT FROM s2
    UNION ALL
    SELECT query_id, 3::INT, s3, score3::BIGINT FROM s3
"""
