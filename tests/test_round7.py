"""Round-7 brute-force semantic battery — third-implementation replays and
constructed-positive invariants for the new kernels, per the round-6
lesson: both engines can share a wrong definition, so every new family
gets a check the cross-engine hash gate cannot provide."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F


def _orders_pd():
    import duckdb

    return duckdb.sql(
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,"
        " o_totalprice, o_orderdate"
        " FROM '/root/testdata/sf0.001/orders.parquet'"
    ).df()


def _docs_pd():
    import duckdb

    return duckdb.sql(
        "SELECT doc_id, text, lang FROM"
        " '/root/testdata/sf0.001/documents.parquet'"
    ).df()


def test_histogram_equiheight_pure_python_replay(tables):
    """Full third implementation: sort the cent values, cut at the
    textbook ceil(i*n/B) rank boundaries, count rows/NDV per bucket."""
    from flink_210225_spark.operators.warehouse import histogram_equiheight

    got = {
        r["bucket"]: r
        for r in histogram_equiheight(tables).collect()
    }
    o = _orders_pd()
    cents = np.floor(o["o_totalprice"].to_numpy() * 100 + 0.5).astype(np.int64)
    cents.sort()
    n, B = len(cents), 8
    bounds = [int(np.ceil(i * n / B)) for i in range(B + 1)]
    for b in range(1, B + 1):
        seg = cents[bounds[b - 1] : bounds[b]]
        row = got[b]
        assert row["n_rows"] == len(seg)
        assert row["ndv"] == len(set(seg.tolist()))
        assert row["lo_cents"] == int(seg.min())
        assert row["hi_cents"] == int(seg.max())


def test_histogram_equiheight_counts_cover_table(tables):
    from flink_210225_spark.operators.warehouse import histogram_equiheight

    rows = histogram_equiheight(tables).collect()
    assert sum(r["n_rows"] for r in rows) == len(_orders_pd())


def test_kmeans_exact_pure_numpy_replay(tables):
    """Third implementation of the whole Lloyd loop (quantize, assign,
    grid-rounded update, assign) in flat numpy, no Spark, no SQL."""
    import duckdb

    from flink_210225_spark.ops.similarity import kmeans_exact

    emb = duckdb.sql(
        "SELECT vec_id, embedding FROM"
        " '/root/testdata/sf0.001/embeddings.parquet' ORDER BY vec_id"
    ).df()
    x = np.floor(
        np.array(emb["embedding"].tolist(), dtype=np.float64) * 10_000 + 0.5
    ).astype(np.int64)
    ids = emb["vec_id"].to_numpy()
    k = 8
    c = x[np.argsort(ids)[:k]]  # vec_id 0..7 in order
    d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    cell = d.argmin(axis=1)
    c1 = c.copy()
    for j in range(k):
        m = cell == j
        if m.any():
            s = x[m].sum(axis=0)
            c1[j] = (2 * s + int(m.sum())) // (2 * int(m.sum()))
    d2 = ((x[:, None, :] - c1[None, :, :]) ** 2).sum(axis=2)
    cell2 = d2.argmin(axis=1)
    inertia = d2[np.arange(len(ids)), cell2]
    want = {
        j: (int((cell2 == j).sum()), int(inertia[cell2 == j].sum()))
        for j in range(k)
        if (cell2 == j).any()
    }
    got = {
        r["cluster"]: (r["n_vecs"], r["inertia"])
        for r in kmeans_exact(tables).collect()
    }
    assert got == want


def test_runs_test_constructed_tiny_case():
    """Hand-checked textbook case: signs + - + - + - (a=3, b=3, R=6):
    mu = 2*9/6 + 1 = 4, var = 18*(18-6)/(36*5) = 1.2, z = 2/sqrt(1.2)."""
    import math

    a, b, r = 3, 3, 6
    mu = 2.0 * a * b / (a + b) + 1.0
    var = 2.0 * a * b * (2.0 * a * b - a - b) / ((a + b) ** 2 * (a + b - 1))
    assert mu == 4.0 and abs(var - 1.2) < 1e-12
    z = (r - mu) / math.sqrt(var)
    assert abs(z - 2.0 / math.sqrt(1.2)) < 1e-12


def test_runs_test_pure_python_replay(tables):
    from flink_210225_spark.operators.windows import runs_test

    got = {r["priority"]: r for r in runs_test(tables).collect()}
    o = _orders_pd()
    o["cents"] = np.floor(o["o_totalprice"] * 100 + 0.5).astype(np.int64)
    o["day"] = pd.to_datetime(o["o_orderdate"]).dt.date
    for prio, grp in o.groupby("o_orderpriority"):
        daily = grp.groupby("day")["cents"].sum().sort_index()
        deltas = np.diff(daily.to_numpy())
        signs = [1 if d > 0 else 0 for d in deltas if d != 0]
        n_plus = sum(signs)
        n_minus = len(signs) - n_plus
        n_runs = sum(
            1 for i, s in enumerate(signs) if i == 0 or s != signs[i - 1]
        )
        row = got[prio]
        assert (row["n_plus"], row["n_minus"], row["n_runs"]) == (
            n_plus,
            n_minus,
            n_runs,
        )


def test_ngram_coverage_pure_python_replay(tables):
    from flink_210225_spark.ops.text import ngram_coverage

    got = {r["lang"]: r for r in ngram_coverage(tables).collect()}
    docs = _docs_pd()
    vocab: dict[str, set] = {}
    stats: dict[str, list] = {}
    for _, row in docs.iterrows():
        toks = row["text"].strip().split()
        bgs = {f"{a} {b}" for a, b in zip(toks, toks[1:])}
        if row["doc_id"] % 10 < 8:
            vocab.setdefault(row["lang"], set()).update(bgs)
    for _, row in docs.iterrows():
        if row["doc_id"] % 10 >= 8:
            toks = row["text"].strip().split()
            bgs = {f"{a} {b}" for a, b in zip(toks, toks[1:])}
            s = stats.setdefault(row["lang"], [0, 0, 0])
            s[0] += 1
            s[1] += len(bgs)
            s[2] += len(bgs & vocab.get(row["lang"], set()))
    for lang, (n_docs, total, covered) in stats.items():
        row = got[lang]
        assert (
            row["n_eval_docs"],
            row["eval_bigrams"],
            row["covered"],
            row["train_vocab"],
        ) == (n_docs, total, covered, len(vocab[lang]))


def test_stratified_kfold_balance_invariant(tables):
    """THE defining property hash-matching cannot certify by itself:
    every (lang, fold) cell within a language differs by at most 1."""
    from flink_210225_spark.ops.sampling import stratified_kfold

    rows = stratified_kfold(tables).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["n_docs"])
    for lang, counts in by_lang.items():
        assert len(counts) == 5, (lang, counts)
        assert max(counts) - min(counts) <= 1, (lang, counts)


def test_repeat_gmv_reconciles(tables):
    """Sum of split cents equals total GMV; the globally first month has
    zero repeat business; new-customer month counts sum to the customer
    universe that ordered."""
    from flink_210225_spark.operators.serving import repeat_gmv

    rows = sorted(repeat_gmv(tables).collect(), key=lambda r: r["month"])
    o = _orders_pd()
    total = int(np.floor(o["o_totalprice"].to_numpy() * 100 + 0.5).sum())
    assert sum(r["new_cents"] + r["repeat_cents"] for r in rows) == total
    assert rows[0]["repeat_cents"] == 0 and rows[0]["repeat_customers"] == 0
    assert sum(r["new_customers"] for r in rows) == o["o_custkey"].nunique()


def test_cdc_log_compaction_pure_python_replay(tables):
    import duckdb

    from flink_210225_spark.operators.router import log_compaction_demo

    cust = duckdb.sql(
        "SELECT c_custkey, c_mktsegment, c_acctbal FROM"
        " '/root/testdata/sf0.001/customer.parquet'"
    ).df()
    state: dict[int, tuple] = {}
    for _, r in cust.iterrows():
        k = int(r["c_custkey"])
        bal = int(np.floor(r["c_acctbal"] * 100 + 0.5))
        state[k] = (r["c_mktsegment"], bal)  # seq 1 insert
        if k % 3 == 0:
            state[k] = ("UPDATED", bal + 1000)  # seq 2 update
        if k % 17 == 0:
            state.pop(k, None)  # seq 3 delete
        if k % 51 == 0:
            state[k] = ("REBORN", k * 10)  # seq 4 re-insert
    want: dict[str, list] = {}
    for k, (seg, bal) in state.items():
        w = want.setdefault(seg, [0, 0, 0])
        w[0] += 1
        w[1] += k
        w[2] += bal
    got = {
        r["segment"]: [r["n_rows"], r["sum_keys"], r["sum_bal_cents"]]
        for r in log_compaction_demo(tables).collect()
    }
    assert got == {k: v for k, v in want.items()}


def test_image_entropy_formula_replay(tables):
    """Independent per-seed recompute straight from the generator formula
    (no PNG codec, no SQL) for every seed."""
    from flink_210225_spark.ops.multimodal import image_entropy_stats

    rows = image_entropy_stats(tables).collect()
    by_seed = {}
    for r in rows:
        by_seed.setdefault(r["seed"], r)
    for seed, r in by_seed.items():
        w = 8 + 4 * (seed % 5)
        h = 8 + 4 * ((seed * 3) % 4)
        xs, ys = np.meshgrid(np.arange(w), np.arange(h))
        vals = (seed * 7 + 3 * xs + 11 * ys) % 256
        hist = np.bincount(vals.ravel(), minlength=256)
        n = w * h
        coll2 = int((hist.astype(np.int64) ** 2).sum())
        assert r["n_px"] == n
        assert r["distinct_vals"] == int((hist > 0).sum())
        assert r["collision_micro"] == int(
            np.floor(coll2 * 1000000 / (n * n) + 0.5)
        )


def test_audio_snr_formula_replay(tables):
    """Frame-energy extrema recomputed from the PCM formula for a sample
    of clips; e_max >= e_min always."""
    from flink_210225_spark.ops.multimodal import audio_snr_estimate

    rows = audio_snr_estimate(tables).collect()
    assert all(r["e_max"] >= r["e_min"] for r in rows)
    import duckdb

    nchars = duckdb.sql(
        "SELECT doc_id, n_chars FROM"
        " '/root/testdata/sf0.001/documents.parquet'"
    ).df()
    nmap = dict(zip(nchars["doc_id"], nchars["n_chars"]))
    for r in rows[:25]:
        doc_id = r["asset_id"]
        n = int(nmap[doc_id]) % 200 + 50
        k = np.arange(n, dtype=np.int64)
        v = (((doc_id * 31 + k * 7) % 256) - 128) * 256
        nf = n // 32
        e = (v[: nf * 32].reshape(nf, 32) ** 2).sum(axis=1)
        assert (r["n_frames"], r["e_max"], r["e_min"]) == (
            nf,
            int(e.max()),
            int(e.min()),
        )


def test_langid_calibration_totals(tables):
    from flink_210225_spark.ops.text import langid_calibration

    rows = langid_calibration(tables).collect()
    assert sum(r["n_docs"] for r in rows) == len(_docs_pd())
    for r in rows:
        assert 0 <= r["n_correct"] <= r["n_docs"]


# ---------------------------------------------------------------- wave: new


def test_image_near_dup_pure_python_replay(tables):
    """Third implementation: per-doc aHash in pure numpy (pixel formula,
    NO png round trip), quadratic pair scan, pigeonhole recall check —
    every Hamming<=3 pair must share at least one 16-bit band, and the
    collapsed (hamming -> n_pairs, n_docs) rollup must equal the kernel's."""
    from collections import defaultdict

    from flink_210225_spark.ops.multimodal import image_near_dup_groups

    got = {r["hamming"]: r for r in image_near_dup_groups(tables).collect()}

    docs = _docs_pd()
    hashes = {}
    for d in docs["doc_id"].astype(int):
        seed, pert, prow = d % 8, d % 4, (d * 5) % 16
        px = np.fromfunction(
            lambda y, x: (seed * 7 + 3 * x + 11 * y) % 256, (16, 16)
        ).astype(np.int64)
        px[prow] = (px[prow] + pert) % 256
        ts = px.reshape(8, 2, 8, 2).sum(axis=(1, 3)).ravel()
        bits = (64 * ts > px.sum()).astype(int)
        hashes[d] = int(sum(b << i for i, b in enumerate(bits)))
    pairs = defaultdict(int)
    docs_at = defaultdict(set)
    ids = sorted(hashes)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(hashes[a] ^ hashes[b]).count("1")
            if h <= 3:
                pairs[h] += 1
                docs_at[h].update((a, b))
                bands_a = [(hashes[a] >> (16 * k)) & 0xFFFF for k in range(4)]
                bands_b = [(hashes[b] >> (16 * k)) & 0xFFFF for k in range(4)]
                assert any(x == y for x, y in zip(bands_a, bands_b))
    assert set(got) == set(pairs)
    for h in pairs:
        assert got[h]["n_pairs"] == pairs[h]
        assert got[h]["n_docs"] == len(docs_at[h])


def test_image_near_dup_has_nonexact_matches(tables):
    """The construction must exercise the NEAR path (1<=h<=3), not just
    exact-hash collapse — otherwise the banded join is vacuous."""
    from flink_210225_spark.ops.multimodal import image_near_dup_groups

    got = {r["hamming"]: r["n_pairs"] for r in image_near_dup_groups(tables).collect()}
    assert got.get(0, 0) > 0
    assert sum(v for h, v in got.items() if 1 <= h <= 3) > 0


def test_jsonl_gzip_files_actually_gzip(tables):
    """The codec must be applied on disk: every data file ends .gz and
    starts with the gzip magic — and there are 8 of them (the splittability
    shard contract the docstring promises)."""
    import glob
    import os

    from flink_210225_spark import io
    from flink_210225_spark.sources.jsonl import jsonl_gzip_counts

    jsonl_gzip_counts(tables).collect()
    root = io._SCRATCH_ROOT
    dirs = sorted(glob.glob(os.path.join(root, "jsonl_gz_*")))
    assert dirs
    files = glob.glob(os.path.join(dirs[-1], "part-*"))
    assert len(files) == 8
    for f in files:
        assert f.endswith(".gz")
        with open(f, "rb") as fh:
            assert fh.read(2) == b"\x1f\x8b"


def test_binary_files_length_metadata_matches_content(tables):
    """binaryFile's length column must equal the content byte count for
    every file (len_ok == n_files per seed), and the file count must be
    the 2% manifest size."""
    from flink_210225_spark.sources.jsonl import binary_files_counts

    rows = binary_files_counts(tables).collect()
    assert all(r["len_ok"] == r["n_files"] for r in rows)
    n_docs = len(_docs_pd())
    assert sum(r["n_files"] for r in rows) == sum(
        1 for d in _docs_pd()["doc_id"].astype(int) if d % 50 == 0
    )
    assert n_docs >= sum(r["n_files"] for r in rows)


def test_correlated_scalar_matches_dataframe_form(tables):
    """Third implementation: the same query in DataFrame algebra (window
    per nation, integer cross-multiply, left-semi join for EXISTS) —
    decorrelation must not change the answer."""
    from pyspark.sql import Window

    from flink_210225_spark.streaming.sql_jobs import _correlated_scalar_sql_q

    got = {r["nation"]: r for r in _correlated_scalar_sql_q(tables).collect()}

    c = tables["customer"].select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    w = Window.partitionBy("c_nationkey")
    c = c.withColumn("n_nation", F.count("*").over(w)).withColumn(
        "sum_nation", F.sum("cents").over(w)
    )
    above = c.where(F.col("cents") * F.col("n_nation") > F.col("sum_nation"))
    with_orders = above.join(
        tables["orders"].select(F.col("o_custkey").alias("c_custkey")).distinct(),
        "c_custkey",
        "left_semi",
    ).groupBy("c_nationkey").agg(F.count("*").alias("n_with_orders"))
    agg = above.groupBy("c_nationkey").agg(
        F.count("*").alias("n_above"),
        F.sum(
            F.col("cents") * F.col("n_nation") - F.col("sum_nation")
        ).alias("excess_x_n"),
    )
    want = {
        r["c_nationkey"]: r
        for r in agg.join(with_orders, "c_nationkey", "left").collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k]["n_above"] == want[k]["n_above"]
        assert got[k]["excess_x_n"] == want[k]["excess_x_n"]
        assert got[k]["n_with_orders"] == (want[k]["n_with_orders"] or 0)


def test_spearman_pure_pandas_replay(tables):
    """Third implementation: pandas rank(method='average') + numpy Pearson
    over the ranks — the doubled-integer-rank kernel must agree with the
    float average-rank textbook form to 1e-9 before its round6 pin."""
    from flink_210225_spark.operators.windows import spearman_daily

    got = {r["priority"]: r for r in spearman_daily(tables).collect()}
    o = _orders_pd()
    cents = np.floor(o["o_totalprice"].to_numpy() * 100 + 0.5).astype(np.int64)
    df = pd.DataFrame(
        {
            "prio": o["o_orderpriority"],
            "day": pd.to_datetime(o["o_orderdate"]).dt.strftime("%Y%m%d"),
            "cents": cents,
        }
    )
    daily = df.groupby(["prio", "day"]).agg(
        cents=("cents", "sum"), n=("cents", "size")
    )
    for prio, g in daily.groupby(level=0):
        rx = g["cents"].rank(method="average").to_numpy()
        ry = g["n"].rank(method="average").to_numpy()
        n = len(g)
        assert got[prio]["n_days"] == n
        if np.ptp(rx) == 0 or np.ptp(ry) == 0:
            assert got[prio]["rho"] is None
            continue
        rho = np.corrcoef(rx, ry)[0, 1]
        assert abs(got[prio]["rho"] - np.floor(rho * 1e6 + 0.5) / 1e6) < 2e-6


def test_mcv_stats_pure_pandas_replay(tables):
    from flink_210225_spark.operators.warehouse import mcv_stats

    rows = mcv_stats(tables).collect()
    import duckdb

    for col, table in [
        ("p_brand", "part"),
        ("p_type", "part"),
        ("c_nationkey", "customer"),
    ]:
        vals = duckdb.sql(
            f"SELECT {col}::VARCHAR v FROM"
            f" '/root/testdata/sf0.001/{table}.parquet'"
        ).df()["v"]
        vc = vals.value_counts()
        freq_val = sorted(
            ((int(f), v) for v, f in vc.items()), key=lambda t: (-t[0], t[1])
        )
        mine = [r for r in rows if r["col_name"] == col]
        assert len(mine) == 5
        for r in mine:
            f, v = freq_val[r["rnk"] - 1]
            assert (r["val"], r["freq"]) == (v, f)
            assert r["ndv"] == len(vc)
            assert r["n_rows"] == len(vals)
        n, ndv = len(vals), len(vc)
        mcv_mass = sum(f for f, _ in freq_val[:5])
        probe = freq_val[5][0] if ndv > 5 else 0
        r0 = mine[0]
        assert r0["probe_freq"] == probe
        if ndv > 5:
            est = (n - mcv_mass) / (ndv - 5)
            assert abs(r0["est_other"] - np.floor(est * 1e6 + 0.5) / 1e6) < 1e-9
            assert r0["abs_err_x_den"] == abs(probe * (ndv - 5) - (n - mcv_mass))


def test_video_motion_formula_replay(tables):
    """Replay the frame-sum deltas in pure numpy from the fixture formula
    (no codec) and check motion identity + static flag semantics."""
    from flink_210225_spark.ops.multimodal import video_motion_stats

    got = {r["profile"]: r for r in video_motion_stats(tables).collect()}
    for profile, r in got.items():
        nf = profile % 12 + 8
        sl = profile % 4 + 3
        sums = []
        for f in range(nf):
            seed = profile * 13 + (f // sl) * 97 + f
            x = np.arange(8)
            y = np.arange(8)[:, None]
            sums.append(int(((seed * 7 + 3 * x + 11 * y) % 256).sum()))
        deltas = [abs(b - a) for a, b in zip(sums, sums[1:])]
        assert r["n_frames"] == nf
        assert r["motion"] == sum(deltas)
        assert r["max_delta"] == max(deltas)
        assert r["n_zero"] == sum(1 for d in deltas if d == 0)
        assert r["is_static"] == (r["n_zero"] == nf - 1)


def test_audio_tempo_pure_python_replay(tables):
    """Third implementation: decode-free PCM formula, textbook onset rule,
    statistics.median_low for the exact lower median."""
    import statistics

    from flink_210225_spark.ops.multimodal import audio_tempo_estimate

    got = {r["asset_id"]: r for r in audio_tempo_estimate(tables).collect()}
    docs = _docs_pd()
    import duckdb

    nchars = duckdb.sql(
        "SELECT doc_id, n_chars FROM '/root/testdata/sf0.001/documents.parquet'"
    ).df()
    checked_bpm = 0
    for d, nch in zip(nchars["doc_id"].astype(int), nchars["n_chars"].astype(int)):
        n = nch % 200 + 50
        samples = [(((d * 31 + k * 7) % 256) - 128) * 256 for k in range(n)]
        energies = [
            sum(v * v for v in samples[f * 25 : (f + 1) * 25])
            for f in range(-(-n // 25))
        ]
        flux = [max(b - a, 0) for a, b in zip(energies, energies[1:])]
        nf, tot = len(flux), sum(flux)
        onsets = [i + 1 for i, fl in enumerate(flux) if fl * nf > 2 * tot]
        gaps = [b - a for a, b in zip(onsets, onsets[1:])]
        r = got[d]
        assert r["n_onsets"] == len(onsets)
        if len(gaps) == 0:
            assert r["median_gap"] is None and r["bpm"] is None
        else:
            mg = statistics.median_low(gaps)
            assert r["median_gap"] == mg
            assert abs(r["bpm"] - np.floor(38400.0 / mg * 1e6 + 0.5) / 1e6) < 1e-9
            checked_bpm += 1
    assert checked_bpm > 0


def test_pass_at_k_pure_python_replay(tables):
    """Third implementation: math.comb on the exact (n, c) grid — the
    falling-factorial kernel must equal the textbook binomial estimator."""
    import math

    from flink_210225_spark.ops.sampling import pass_at_k

    got = {r["lang"]: r for r in pass_at_k(tables).collect()}
    import duckdb

    df = duckdb.sql(
        "SELECT doc_id, lang, n_chars FROM"
        " '/root/testdata/sf0.001/documents.parquet'"
    ).df()
    n = 10
    by_lang = {}
    for d, lang, nch in zip(
        df["doc_id"].astype(int), df["lang"], df["n_chars"].astype(int)
    ):
        c = sum(1 for j in range(n) if (d * 31 + j * 7) % 17 < 3 + (d + nch) % 13)
        by_lang.setdefault(lang, []).append(c)
    for lang, cs in by_lang.items():
        r = got[lang]
        assert r["n_tasks"] == len(cs)
        assert r["total_correct"] == sum(cs)
        for k, col in [(1, "pass_at_1"), (5, "pass_at_5")]:
            vals = [
                1.0 - math.comb(n - c, k) / math.comb(n, k)
                if n - c >= k
                else 1.0
                for c in cs
            ]
            want = sum(vals) / len(vals)
            assert abs(r[col] - np.floor(want * 1e6 + 0.5) / 1e6) < 2e-6
    # the correctness rule must exercise a non-trivial c range
    allc = [c for cs in by_lang.values() for c in cs]
    assert min(allc) <= 2 and max(allc) >= 8  # zero-branch live: some n-c < 5


def test_star_except_grain_preserved(tables):
    """* EXCEPT must prune columns WITHOUT re-aggregating: the result keeps
    one row per (status, priority, yr, day) — so (status, priority, yr)
    groups repeat, and n_orders sums to the 1997 order count."""
    from flink_210225_spark.streaming.sql_jobs import _star_except_sql_q

    df = _star_except_sql_q(tables).toPandas()
    assert set(df.columns) == {
        "o_orderstatus", "o_orderpriority", "yr", "n_orders", "cents"
    }
    o = _orders_pd()
    yr = pd.to_datetime(o["o_orderdate"]).dt.year
    assert df["n_orders"].sum() == int((yr == 1997).sum())
    assert len(df) > df.groupby(["o_orderstatus", "o_orderpriority"]).ngroups


def test_bleu_pairs_pure_python_replay(tables):
    """Third implementation: collections.Counter clipping — the textbook
    modified-precision definition — plus math.exp/sqrt for BLEU-2."""
    import math
    from collections import Counter

    from flink_210225_spark.ops.text import bleu_pairs

    got = {
        (r["ref_id"], r["cand_id"]): r for r in bleu_pairs(tables).collect()
    }
    import duckdb

    df = duckdb.sql(
        "SELECT doc_id, lang, text FROM"
        " '/root/testdata/sf0.001/documents.parquet' ORDER BY lang, doc_id"
    ).df()
    by_lang = {}
    for _, r in df.iterrows():
        by_lang.setdefault(r["lang"], []).append(
            (int(r["doc_id"]), r["text"].strip().split())
        )
    n_checked = 0
    for lang, rows in by_lang.items():
        for (rid, ref), (cid, cand) in zip(rows, rows[1:]):
            r = got[(rid, cid)]
            c1, r1 = Counter(cand), Counter(ref)
            p1n = sum(min(c, r1[g]) for g, c in c1.items())
            cand2 = [" ".join(p) for p in zip(cand, cand[1:])]
            ref2 = [" ".join(p) for p in zip(ref, ref[1:])]
            c2, r2c = Counter(cand2), Counter(ref2)
            p2n = sum(min(c, r2c[g]) for g, c in c2.items())
            assert (r["p1_num"], r["p1_den"]) == (p1n, len(cand))
            assert (r["p2_num"], r["p2_den"]) == (p2n, max(len(cand) - 1, 0))
            if len(cand2) == 0:
                assert r["bleu2"] is None
                continue
            bp = (
                1.0
                if len(cand) >= len(ref)
                else math.floor(
                    math.exp(1.0 - len(ref) / len(cand)) * 1e6 + 0.5
                )
                / 1e6
            )
            want = bp * math.sqrt(
                (p1n / len(cand)) * (p2n / len(cand2))
            )
            assert abs(r["bleu2"] - math.floor(want * 1e6 + 0.5) / 1e6) < 2e-6
            n_checked += 1
    assert n_checked > 400


def test_lexical_semantic_gap_identities(tables):
    """The 2x2 matrix must partition the pairs, and the pair spine must be
    |docs| - |langs| (one lead chain per language)."""
    from flink_210225_spark.ops.similarity import lexical_semantic_gap

    rows = lexical_semantic_gap(tables).collect()
    docs = _docs_pd()
    n_langs = docs["lang"].nunique()
    total = sum(r["n_pairs"] for r in rows)
    assert total == len(docs) - n_langs
    for r in rows:
        assert (
            r["n_both"] + r["n_semantic_only"] + r["n_lexical_only"]
            + r["n_neither"] == r["n_pairs"]
        )
        assert 0 < r["inter_mass"] <= r["union_mass"]


def test_image_ssim_identical_pair_is_one(tables):
    """pert=0 classes compare an image against itself — SSIM must be
    exactly 1.0; perturbed classes must stay below 1 but high (re-encode
    vs edit separation)."""
    from flink_210225_spark.ops.multimodal import image_ssim_pairs

    rows = image_ssim_pairs(tables).collect()
    same = [r for r in rows if r["pert"] == 0]
    diff = [r for r in rows if r["pert"] > 0]
    assert same and diff
    for r in same:
        assert r["ssim"] == 1.0
        assert r["sa"] == r["sb"]
    assert all(r["ssim"] < 1.0 for r in diff)
    assert all(r["ssim"] > 0.9 for r in diff)  # one scanline edit stays high


def test_image_ssim_pure_python_replay(tables):
    """Third implementation: numpy moments + the textbook single-window
    SSIM formula, straight from the pixel formulas (no codec)."""
    from flink_210225_spark.ops.multimodal import image_ssim_pairs

    rows = image_ssim_pairs(tables).collect()
    for r in rows[:20]:
        seed, pert, prow = r["seed"], r["pert"], r["prow"]
        x = np.arange(16)
        y = np.arange(16)[:, None]
        a = ((seed * 7 + 3 * x + 11 * y) % 256).astype(np.float64)
        b = ((seed * 7 + 3 * x + 11 * y
              + np.where(np.arange(16)[:, None] == prow, pert, 0)) % 256
             ).astype(np.float64)
        mu_a, mu_b = a.mean(), b.mean()
        va, vb = a.var(), b.var()
        cov = (a * b).mean() - mu_a * mu_b
        c1, c2 = 6.5025, 58.5225
        ssim = ((2 * mu_a * mu_b + c1) * (2 * cov + c2)) / (
            (mu_a**2 + mu_b**2 + c1) * (va + vb + c2)
        )
        assert abs(r["ssim"] - np.floor(ssim * 1e6 + 0.5) / 1e6) < 2e-6


def test_template_mining_discovers_expected_templates(tables):
    """The masked-template space must be exactly {type} x {retry suffix}
    (+ code field on errors) and volumes must reconcile to the event count."""
    from flink_210225_spark.operators.logsplit import template_mining

    rows = template_mining(tables).collect()
    ev = len(
        pd.read_parquet("/root/testdata/sf0.001/events.parquet", columns=["event_id"])
    )
    assert sum(r["n_lines"] for r in rows) == ev
    types = {"signup", "error", "click", "view", "purchase"}
    seen = {r["template"] for r in rows}
    for t in types:
        base = f"user <N> did {t} value=<N> at <N>"
        suffix = " code=<N>" if t == "error" else ""
        assert base + suffix in seen
        assert base + " retry=<N>" + suffix in seen
    assert len(seen) == 10


def test_identifier_clause_rejects_injection(tables):
    """IDENTIFIER must bind NAMES, not SQL: a crafted identifier dies at
    parse/analysis instead of executing."""
    import pytest
    from pyspark.sql.utils import AnalysisException, ParseException

    from flink_210225_spark.streaming.sql_jobs import IDENTIFIER_SQL

    spark = tables["customer"].sparkSession
    tables["customer"].createOrReplaceTempView("customer_view_sql_ident")
    bad = {
        "table": "'customer_view_sql_ident WHERE 1=0; DROP VIEW x'",
        "gcol": "'c_mktsegment'",
        "vcol": "'c_acctbal'",
        "kcol": "'c_nationkey'",
    }
    with pytest.raises((AnalysisException, ParseException)):
        spark.sql(IDENTIFIER_SQL.format(**bad)).collect()


def test_dynamic_overwrite_preserves_untouched_partitions(tables):
    """Semantic gate for the dynamic mode itself: untouched days must hold
    the FULL original batch (static overwrite would leave only 3 days),
    and restated days hold every row with purchases doubled."""
    from flink_210225_spark.operators.warehouse import dynamic_overwrite

    rows = {r["day_class"]: r for r in dynamic_overwrite(tables).collect()}
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    ev["day"] = pd.to_datetime(ev["ts"]).dt.strftime("%Y%m%d")
    ev["cents"] = np.floor(ev["value"].to_numpy() * 100 + 0.5).astype(np.int64)
    hot = sorted(ev["day"].unique())[-3:]
    cold = ev[~ev["day"].isin(hot)]
    hot_rows = ev[ev["day"].isin(hot)]
    hot_purch = hot_rows[hot_rows["event_type"] == "purchase"]
    assert rows["untouched"]["n_rows"] == len(cold)
    assert rows["untouched"]["cents"] == int(cold["cents"].sum())
    assert rows["untouched"]["n_days"] == cold["day"].nunique()
    assert rows["restated"]["n_rows"] == len(hot_rows)
    assert rows["restated"]["cents"] == int(hot_rows["cents"].sum()) + int(
        hot_purch["cents"].sum()
    )


def test_inbatch_retrieval_acc_bounds_and_nontrivial(tables):
    """Accuracy must be high (int4 distortion is mild) but the eval must
    not be vacuous: every query answered, n_correct <= n_queries, and the
    full spine is covered."""
    from flink_210225_spark.ops.similarity import inbatch_retrieval_acc

    rows = inbatch_retrieval_acc(tables).collect()
    n_total = sum(r["n_queries"] for r in rows)
    n_correct = sum(r["n_correct"] for r in rows)
    import duckdb

    n_vecs = duckdb.sql(
        "SELECT count(*) FROM '/root/testdata/sf0.001/embeddings.parquet'"
    ).fetchone()[0]
    assert n_total == n_vecs
    assert all(0 <= r["n_correct"] <= r["n_queries"] for r in rows)
    assert 0.5 * n_total <= n_correct  # int4 candidates still mostly retrievable


def test_pipe_syntax_matches_classic_spelling(tables):
    """Third implementation: the same pipeline as classic Spark SQL
    (WHERE/GROUP BY/HAVING) — the sugar must be pure syntax."""
    from flink_210225_spark.streaming.sql_jobs import _pipe_syntax_sql_q

    got = {
        (r["priority"], r["yr"]): (r["n_orders"], r["cents"], r["n_custs"])
        for r in _pipe_syntax_sql_q(tables).collect()
    }
    spark = tables["orders"].sparkSession
    tables["orders"].createOrReplaceTempView("orders_view_pipe_test")
    want = {
        (r["priority"], r["yr"]): (r["n_orders"], r["cents"], r["n_custs"])
        for r in spark.sql(
            """
            SELECT o_orderpriority AS priority,
                   date_format(o_orderdate, 'yyyy') AS yr,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents,
                   CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
            FROM orders_view_pipe_test WHERE o_orderstatus <> 'F'
            GROUP BY 1, 2 HAVING count(*) > 2
            """
        ).collect()
    }
    assert got == want


def test_local_supplier_revenue_pure_pandas_replay(tables):
    """Third implementation: pandas merges with the c=s nationkey
    condition — the Q5 signature must actually restrict rows."""
    import duckdb

    from flink_210225_spark.operators.serving import local_supplier_revenue

    got = {
        (r["region"], r["yr"]): (r["n_items"], r["revenue"])
        for r in local_supplier_revenue(tables).collect()
    }
    sf = "/root/testdata/sf0.001"
    li = duckdb.sql(f"SELECT l_orderkey, l_suppkey, l_extendedprice, l_discount FROM '{sf}/lineitem.parquet'").df()
    o = duckdb.sql(f"SELECT o_orderkey, o_custkey, o_orderdate FROM '{sf}/orders.parquet'").df()
    c = duckdb.sql(f"SELECT c_custkey, c_nationkey FROM '{sf}/customer.parquet'").df()
    s = duckdb.sql(f"SELECT s_suppkey, s_nationkey FROM '{sf}/supplier.parquet'").df()
    n = duckdb.sql(f"SELECT n_nationkey, n_regionkey FROM '{sf}/nation.parquet'").df()
    r = duckdb.sql(f"SELECT r_regionkey, r_name FROM '{sf}/region.parquet'").df()
    m = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    m = m.merge(c, left_on="o_custkey", right_on="c_custkey")
    full = m.merge(s, left_on="l_suppkey", right_on="s_suppkey")
    local = full[full["c_nationkey"] == full["s_nationkey"]].copy()
    assert len(local) < len(full)  # the Q5 condition restricts
    local = local.merge(n, left_on="s_nationkey", right_on="n_nationkey")
    local = local.merge(r, left_on="n_regionkey", right_on="r_regionkey")
    local["yr"] = pd.to_datetime(local["o_orderdate"]).dt.strftime("%Y")
    local["e4"] = np.floor(local["l_extendedprice"] * 100 + 0.5).astype(
        np.int64
    ) * (100 - np.floor(local["l_discount"] * 100 + 0.5).astype(np.int64))
    grp = local.groupby(["r_name", "yr"]).agg(
        n_items=("e4", "size"), e4=("e4", "sum")
    )
    assert len(got) == len(grp)
    for (reg, yr), row in grp.iterrows():
        ni, rev = got[(reg, yr)]
        assert ni == row["n_items"]
        assert rev == np.floor(row["e4"] / 100 + 0.5) / 100


def test_token_waterfill_invariants(tables):
    """The defining water-filling identities: Σ alloc == B exactly,
    alloc <= supply, capped sources all sit at level or level+1, and at
    least one source is capped (the budget is 60% of supply)."""
    from flink_210225_spark.ops.sampling import token_waterfill

    rows = token_waterfill(tables).collect()
    total = sum(r["n_tokens"] for r in rows)
    b = total * 6 // 10
    assert sum(r["alloc"] for r in rows) == b
    assert all(r["alloc"] <= r["n_tokens"] for r in rows)
    capped = [r["alloc"] for r in rows if r["capped"]]
    uncapped = [r for r in rows if not r["capped"]]
    assert capped, "budget at 60% must cap someone"
    assert max(capped) - min(capped) <= 1  # level or level+1
    assert all(r["alloc"] == r["n_tokens"] for r in uncapped)
    if uncapped:
        assert max(r["n_tokens"] for r in uncapped) <= min(capped)


def test_token_waterfill_pure_python_replay(tables):
    """Third implementation: brute-force the level by scanning integers
    (binary search over S(L)) — the closed form must agree."""
    from flink_210225_spark.ops.sampling import token_waterfill

    rows = token_waterfill(tables).collect()
    n = sorted((r["n_tokens"], r["lang"], r["source"]) for r in rows)
    supplies = [x[0] for x in n]
    b = sum(supplies) * 6 // 10
    lo, hi = 0, max(supplies)
    while lo < hi:  # largest L with S(L) <= b
        mid = (lo + hi + 1) // 2
        if sum(min(x, mid) for x in supplies) <= b:
            lo = mid
        else:
            hi = mid - 1
    s_l = sum(min(x, lo) for x in supplies)
    rem = b - s_l
    got_allocs = sorted(r["alloc"] for r in rows)
    want = [min(x, lo) for x in supplies]
    # +1 to the `rem` largest-supply uncapped sources
    order = sorted(
        range(len(supplies)),
        key=lambda i: (-supplies[i], n[i][1], n[i][2]),
    )
    given = 0
    for i in order:
        if given < rem and supplies[i] > lo:
            want[i] += 1
            given += 1
    assert given == rem
    assert got_allocs == sorted(want)


def test_peak_concurrency_pure_python_replay(tables):
    """Third implementation: build sessions in pandas, sweep the tick list
    with a plain loop, track per-day maxima including carried levels."""
    from flink_210225_spark.operators.sessions import peak_concurrency

    got = {r["day"]: r for r in peak_concurrency(tables).collect()}
    ev = pd.read_parquet(
        "/root/testdata/sf0.001/events.parquet",
        columns=["user_id", "ts", "event_id"],
    ).sort_values(["user_id", "ts", "event_id"])
    sessions = []
    for _, g in ev.groupby("user_id"):
        start = prev = None
        for t in g["ts"]:
            if prev is None or (t - prev).total_seconds() > 1800:
                if start is not None:
                    sessions.append((start, prev))
                start = t
            prev = t
        sessions.append((start, prev))
    ticks = sorted(
        [(s, -1) for s, _ in sessions] + [(e, 1) for _, e in sessions],
        key=lambda x: (x[0], x[1]),
    )  # delta stored negated so +1 sorts first at ties
    cum = 0
    peaks: dict[str, int] = {}
    starts: dict[str, int] = {}
    for t, nd in ticks:
        d = -nd
        day = t.strftime("%Y-%m-%d")
        peaks[day] = max(peaks.get(day, 0), cum)  # carried level
        cum += d
        peaks[day] = max(peaks[day], cum)
        if d == 1:
            starts[day] = starts.get(day, 0) + 1
    assert set(got) == set(peaks)
    for day in peaks:
        assert got[day]["peak_concurrency"] == peaks[day]
        assert got[day]["n_sessions_started"] == starts.get(day, 0)
    assert max(peaks.values()) > 1  # concurrency actually happens


def test_wap_publish_quarantine_disjoint_and_complete(tables):
    """WAP invariants: published + quarantined == staged row count; the
    published bucket holds no negative cents; every injected class is
    quarantined under its FIRST failing reason (negated amounts whose id
    also hits %41/%43 must report negative_amount)."""
    from flink_210225_spark.operators.warehouse import wap_publish

    rows = {r["bucket"]: r for r in wap_publish(tables).collect()}
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    ids = ev["event_id"].astype(int)
    n_neg = int((ids % 37 == 0).sum())
    n_type = int(((ids % 41 == 0) & (ids % 37 != 0)).sum())
    n_null = int(
        ((ids % 43 == 0) & (ids % 41 != 0) & (ids % 37 != 0)).sum()
    )
    assert rows["quarantine:negative_amount"]["n_rows"] == n_neg
    assert rows["quarantine:unknown_type"]["n_rows"] == n_type
    assert rows["quarantine:null_user"]["n_rows"] == n_null
    assert (
        sum(r["n_rows"] for r in rows.values()) == len(ev)
    )
    assert rows["published"]["cents"] >= 0
    assert rows["quarantine:negative_amount"]["cents"] < 0


def test_hints_force_broadcast_under_disabled_threshold(tables):
    """The plan effect the grammar exists for: with the broadcast
    threshold disabled, the hinted text still plans BroadcastHashJoin
    while the un-hinted twin falls back to a non-broadcast join."""
    from flink_210225_spark.streaming.sql_jobs import HINTS_SQL, _hints_sql_q

    spark = tables["orders"].sparkSession
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        hinted = _hints_sql_q(tables)
        plan = hinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        plain = spark.sql(
            HINTS_SQL.replace("/*+ BROADCAST(c), REPARTITION(8) */", "").format(
                orders="orders_view_sql_hints",
                customer="customer_view_sql_hints",
            )
        )
        plan2 = plain._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ab_cuped_pure_numpy_replay(tables):
    """Third implementation: numpy cov/var over the user grid; CUPED must
    reduce (or preserve) the pooled adjusted variance, never increase it."""
    from flink_210225_spark.operators.serving import ab_cuped

    got = {r["arm"]: r for r in ab_cuped(tables).collect()}
    ev = pd.read_parquet(
        "/root/testdata/sf0.001/events.parquet",
        columns=["user_id", "ts", "value"],
    )
    ev["cents"] = np.floor(ev["value"].to_numpy() * 100 + 0.5).astype(np.int64)
    pre = ev["ts"] < pd.Timestamp("2024-01-16")
    x = ev[pre].groupby("user_id")["cents"].sum()
    y = ev[~pre].groupby("user_id")["cents"].sum()
    users = pd.DataFrame({"x": x, "y": y}).fillna(0).astype(np.int64)
    users = users.reindex(sorted(ev["user_id"].unique()), fill_value=0)
    n = len(users)
    sx, sy = users["x"].sum(), users["y"].sum()
    sxy = (users["x"] * users["y"]).sum()
    sxx = (users["x"] ** 2).sum()
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    theta_pinned = np.floor(theta * 1e6 + 0.5) / 1e6
    for arm in (0, 1):
        grp = users[users.index % 2 == arm]
        adj = grp["y"].mean() - theta_pinned * (
            grp["x"].mean() - sx / n
        )
        r = got[arm]
        assert r["n_users"] == len(grp)
        assert abs(r["theta"] - theta_pinned) < 1e-9
        assert abs(r["adj_mean_cents"] - np.floor(adj * 1e6 + 0.5) / 1e6) < 2e-6
    # variance reduction is a squared correlation: in [0, 1]
    vr = got[0]["var_reduction"]
    assert 0.0 <= vr <= 1.0


def test_incremental_listing_no_rereads(tables):
    """Cycle-2 must read exactly the late files: rows split by id parity
    and the union covers the feed with no overlap."""
    from flink_210225_spark.sources.jsonl import incremental_listing

    rows = {r["cycle"]: r for r in incremental_listing(tables).collect()}
    ev = pd.read_parquet(
        "/root/testdata/sf0.001/events.parquet", columns=["event_id", "value"]
    )
    even = ev[ev["event_id"] % 2 == 0]
    odd = ev[ev["event_id"] % 2 == 1]
    assert rows[1]["n_rows"] == len(even) and rows[1]["n_files"] == 4
    assert rows[2]["n_rows"] == len(odd) and rows[2]["n_files"] == 3
    cents = lambda df: int(np.floor(df["value"].to_numpy() * 100 + 0.5).sum())  # noqa: E731
    assert rows[1]["cents"] == cents(even)
    assert rows[2]["cents"] == cents(odd)


def test_decode_errors_classes_and_mass(tables):
    """Reject-class counts must match the injection rule; ok blobs carry
    ALL the pixel mass; corrupt classes carry none."""
    from flink_210225_spark.ops.multimodal import decode_error_sideoutput

    rows = {r["status"]: r for r in decode_error_sideoutput(tables).collect()}
    docs = _docs_pd()
    ids = docs["doc_id"].astype(int)
    n_torn = int((ids % 13 == 0).sum())
    n_bad = int(((ids % 13 != 0) & (ids % 17 == 0)).sum())
    assert rows["torn"]["n_blobs"] == n_torn
    assert rows["not_png"]["n_blobs"] == n_bad
    assert rows["ok"]["n_blobs"] == len(ids) - n_torn - n_bad
    assert rows["torn"]["px_sum"] == 0 and rows["not_png"]["px_sum"] == 0
    assert rows["ok"]["px_sum"] > 0


def test_values_inline_matches_manual_weighting(tables):
    from flink_210225_spark.streaming.sql_jobs import _values_inline_sql_q

    got = {
        r["tier_name"]: (r["n_orders"], r["weighted_cents"])
        for r in _values_inline_sql_q(tables).collect()
    }
    o = _orders_pd()
    o["cents"] = np.floor(o["o_totalprice"].to_numpy() * 100 + 0.5).astype(
        np.int64
    )
    weights = {"O": ("open", 3), "P": ("pending", 2), "F": ("filled", 1)}
    for status, (name, w) in weights.items():
        grp = o[o["o_orderstatus"] == status]
        assert got[name] == (len(grp), int(grp["cents"].sum()) * w)
