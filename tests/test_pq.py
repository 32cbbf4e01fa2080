"""Product-quantization pins (operators/pq.py — Jégou et al. 2011).

Exact value correctness is oracle-gated (pq_encode / ann_pq_adc_topk in the
parity mirror: both engines evaluate identical left-associative distance
chains, so codes, errors, distances, and even tie ranks hash-match). These
tests pin the operator CONTRACTS: code range/shape, quantization-error
sanity, retrieval quality above chance, and the 100-TB plan shapes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _emb(spark):
    from velostream_spark.session import load_tables

    return load_tables(spark, SF_SMOKE, register_views=False)["embeddings"]


def test_pq_encode_codes_in_range_and_qerr_nonneg(spark):
    from velostream_spark.operators import pq

    emb = _emb(spark)
    import functools

    out = pq.pq_encode(emb, pq.pq_codebook(emb)).cache()
    try:
        assert out.count() == emb.count()
        conds = [
            (F.col(f"code_{s + 1}") < 0) | (F.col(f"code_{s + 1}") >= pq.PQ_K)
            for s in range(pq.PQ_M)
        ]
        pred = functools.reduce(lambda a, b: a | b, conds) | (F.col("qerr") < 0)
        assert out.where(pred).count() == 0
    finally:
        out.unpersist()


def test_pq_anchor_rows_encode_to_their_own_code_with_zero_error(spark):
    """An anchor vector's nearest centroid in every subspace is itself:
    codes == its anchor rank, qerr == 0 (exactness smoke test)."""
    from velostream_spark.operators import pq

    emb = _emb(spark)
    ids = pq.pq_anchor_ids(emb)
    out = pq.pq_encode(emb.where(F.col("vec_id").isin(ids)), pq.pq_codebook(emb))
    for r in out.collect():
        j = sorted(ids).index(r["vec_id"])
        assert r["qerr"] == 0.0, r
        for s in range(pq.PQ_M):
            assert r[f"code_{s + 1}"] == j, (r, j)


def test_pq_adc_recall_beats_chance(spark):
    """ADC top-10 with the ntile fixture codebook recalls well above the
    10/N chance floor on the random test corpus (measured ~0.22 mean;
    chance = 0.02). Production k-means codebooks only improve this — the
    fixture bound is deliberately loose."""
    from collections import defaultdict

    from velostream_spark.operators import pq, similarity

    emb = _emb(spark)
    q = emb.where(F.col("vec_id") < 5)
    cb = pq.pq_codebook(emb)
    adc = defaultdict(set)
    for r in pq.pq_adc_topk(emb, q, cb).collect():
        adc[r["query_id"]].add(r["neighbor_id"])
    exact = defaultdict(set)
    for r in similarity.brute_force_topk(emb, q, "embedding", "vec_id", k=10).collect():
        exact[r["query_id"]].add(r["neighbor_id"])
    recalls = [len(adc[k] & exact[k]) / 10 for k in exact]
    assert sum(recalls) / len(recalls) >= 0.08, recalls


def test_pq_encode_plan_one_arrow_stage_zero_shuffle(spark):
    """Encode is ONE Arrow stage over the scan (codebook in the closure) —
    no Exchange; the corpus never moves. (The pure-Catalyst expression
    form was measured into Janino's 64 KB codegen wall + interpreted-mode
    execution — operators/pq.py module doc — so MapInPandas is the pinned
    shape, as for ivf_topk.)"""
    import contextlib
    import io

    from velostream_spark.operators import pq

    emb = _emb(spark)
    df = pq.pq_encode(emb, pq.pq_codebook(emb))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 2, plan  # one node (tree + detail)


def test_pq_adc_plan_single_topk_exchange(spark):
    """ADC top-k: encode + lookup fuse into chained Arrow stages with NO
    shuffle between them; the only exchange in the whole plan is the TopK
    window's partitioning on query_id."""
    import contextlib
    import io

    from velostream_spark.operators import pq

    emb = _emb(spark)
    df = pq.pq_adc_topk(emb, emb.where(F.col("vec_id") < 5), pq.pq_codebook(emb))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count(") Exchange") == 1, plan  # one Exchange detail header
    assert "hashpartitioning(query_id" in plan, plan


def test_ivf_pq_results_subset_of_full_adc_candidates(spark):
    """IVF-PQ == plain ADC restricted to probed cells: every IVF-PQ hit
    must carry the same rounded ADC distance the un-pruned ADC path
    assigns to that (query, neighbor) pair, and recall vs full ADC top-10
    is positive (cells prune, they don't rescore)."""
    from collections import defaultdict

    from velostream_spark.operators import pq

    emb = _emb(spark)
    q = emb.where(F.col("vec_id") < 5)
    cb = pq.pq_codebook(emb)
    full = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in pq.pq_adc_topk(emb, q, cb, k=500).collect()
    }
    ivfpq = pq.ivf_pq_topk(emb, q, cb).collect()
    assert ivfpq
    hits = defaultdict(set)
    for r in ivfpq:
        assert full[(r["query_id"], r["neighbor_id"])] == r["adc_dist"], r
        hits[r["query_id"]].add(r["neighbor_id"])
    # probed-cell top-10 overlaps the global ADC top-10 for most queries
    top = defaultdict(set)
    for (qid, nid), d in full.items():
        top[qid].add((d, nid))
    overlap = 0
    for qid, pairs in top.items():
        best10 = {nid for _d, nid in sorted(pairs)[:10]}
        overlap += len(best10 & hits[qid])
    assert overlap > 0


def test_ivf_pq_plan_one_arrow_pass_one_topk_exchange(spark):
    """The composition stays ONE Arrow pass over the corpus (cells + codes
    + ADC in-stage) with the TopK window's exchange as the only shuffle."""
    import contextlib
    import io

    from velostream_spark.operators import pq

    emb = _emb(spark)
    df = pq.ivf_pq_topk(emb, emb.where(F.col("vec_id") < 5), pq.pq_codebook(emb))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("MapInPandas") == 2, plan  # ONE node (tree + detail)
    assert plan.count(") Exchange") == 1, plan
    assert "hashpartitioning(query_id" in plan, plan


def test_pq_code_dedup_blocks_are_code_prefix_groups(spark):
    """Every emitted block's size equals the number of corpus vectors
    sharing that code prefix, and keep_id is the block's min id."""
    from tests.conftest import SF_SMOKE
    from velostream_spark.operators import pq
    from velostream_spark.queries.multimodal_queries import PQ_BLOCK_PREFIX
    from velostream_spark.registry import all_queries

    emb = _emb(spark)
    codes = [f"code_{s + 1}" for s in range(PQ_BLOCK_PREFIX)]
    coded = {
        tuple(r[c] for c in codes): r
        for r in pq.pq_encode(emb, pq.pq_codebook(emb), compute_qerr=False)
        .groupBy(*codes)
        .agg(F.min("vec_id").alias("mn"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    blocks = all_queries()["pq_code_dedup"].fn(spark, SF_SMOKE).collect()
    assert blocks  # non-trivial on the test corpus (prefix chosen for that)
    for b in blocks:
        key = tuple(b[c] for c in codes)
        assert b["group_size"] == coded[key]["n"] > 1
        assert b["keep_id"] == coded[key]["mn"]


def test_pq_trained_codebook_beats_fixture_recall(spark):
    """pq_train_codebook (per-subspace MLlib k-means, Jégou §III) must
    beat the ntile fixture codebook's recall@10 — the quality knob the
    module doc promises (measured 0.30 vs 0.12 at sf0.001/sf0.01)."""
    from collections import defaultdict

    from velostream_spark.operators import pq, similarity

    emb = _emb(spark)
    q = emb.where(F.col("vec_id") < 5)
    exact = defaultdict(set)
    for r in similarity.brute_force_topk(emb, q, k=10).collect():
        exact[r["query_id"]].add(r["neighbor_id"])

    def recall(cb):
        got = defaultdict(set)
        for r in pq.pq_adc_topk(emb, q, cb).collect():
            got[r["query_id"]].add(r["neighbor_id"])
        return sum(len(got[k] & exact[k]) / 10 for k in exact) / len(exact)

    fixture = recall(pq.pq_codebook(emb))
    trained = recall(pq.pq_train_codebook(emb))
    assert trained > fixture, (trained, fixture)
    # the trained codebook keeps the drop-in layout contract
    cb = pq.pq_train_codebook(emb)
    assert len(cb) == pq.PQ_K and len(cb[0]) == pq.PQ_M * pq.PQ_SUBDIM


def test_pq_encode_matches_pure_python_reference(spark):
    """The vectorized Arrow encode is bit-equal to a PLAIN-PYTHON reference
    (scalar left-associative chains + manual argmin with first-occurrence
    ties) on seeded random corpora — guards against numpy reassociation
    creeping into the distance chains. Adversarial case included: vectors
    DUPLICATING anchors force exact distance ties."""
    import random
    import struct

    from velostream_spark.operators import pq

    dim = pq.PQ_M * pq.PQ_SUBDIM

    def f32(x: float) -> float:
        return struct.unpack("f", struct.pack("f", x))[0]

    for seed in range(6):
        rng = random.Random(seed)
        n = pq.PQ_K + 4 + seed
        vecs = [[f32(rng.uniform(-2, 2)) for _ in range(dim)] for _ in range(n)]
        if seed % 2:  # duplicate an anchor-to-be: exact-tie stress
            vecs[-1] = list(vecs[0])
        rows = [(i, v) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cb = pq.pq_codebook(df)
        got = {
            r["vec_id"]: [r[f"code_{s + 1}"] for s in range(pq.PQ_M)]
            for r in pq.pq_encode(df, cb, compute_qerr=False).collect()
        }
        for vid, v in rows:
            want = []
            for s in range(pq.PQ_M):
                lo = s * pq.PQ_SUBDIM
                best = None
                best_j = -1
                for j in range(pq.PQ_K):
                    acc = None
                    for i in range(lo, lo + pq.PQ_SUBDIM):
                        d = v[i] - cb[j][i]
                        term = d * d
                        acc = term if acc is None else acc + term
                    if best is None or acc < best:
                        best = acc
                        best_j = j
                want.append(best_j)
            assert got[vid] == want, (seed, vid, got[vid], want)


def test_residual_encoding_and_8bit_codes_lift_clustered_recall(spark):
    """The clustered-corpus recall ladder (all paths seeded/deterministic,
    so these are exact pins, not statistical ones):

    1. residual encoding >= raw-vector encoding at the fixture codebook —
       raw PQ re-describes the coarse cell location with its 16 codes, so
       tight clusters collapse to identical code tuples;
    2. 8-bit trained residual codes beat BOTH 4-bit forms by a wide
       margin — within-cluster ranking is quantization-limited, and 256
       codes/subspace (FAISS's default, still 8 B/vector) is the knob.

    Mirrors PERF.md's clustered recall table (round 10) at a smaller n."""
    from collections import defaultdict

    from tools.fixtures import clustered_embeddings
    from velostream_spark.operators import pq, similarity

    emb = clustered_embeddings(spark, n=1000, k=16, dim=64, seed=7)
    emb = emb.repartition(8).cache()
    emb.count()
    q = emb.orderBy("vec_id").limit(20)

    exact = defaultdict(set)
    for r in similarity.brute_force_topk(emb, q, k=10).collect():
        exact[r["query_id"]].add(r["neighbor_id"])

    def recall(df):
        got = defaultdict(set)
        for r in df.collect():
            got[r["query_id"]].add(r["neighbor_id"])
        return sum(len(got[k] & exact[k]) / 10 for k in exact) / len(exact)

    cb = pq.pq_codebook(emb)
    rcb8 = pq.pq_train_residual_codebook(
        emb, similarity.ivf_centroids(emb, n_centroids=16), n_codes=256
    )
    raw_fixture = recall(pq.ivf_pq_topk(emb, q, cb, k=10))
    res_anchors = recall(pq.ivf_pq_residual_topk(emb, q, cb, k=10))
    res_8bit = recall(
        pq.ivf_pq_residual_topk(emb, q, k=10, residual_codebook=rcb8)
    )
    refine_anchors = recall(
        pq.ivf_pq_residual_topk(emb, q, cb, k=10, refine_r=50)
    )
    refine_8bit = recall(
        pq.ivf_pq_residual_topk(
            emb, q, k=10, residual_codebook=rcb8, refine_r=50
        )
    )
    refine_deep = recall(
        pq.ivf_pq_residual_topk(
            emb, q, k=10, residual_codebook=rcb8, refine_r=100
        )
    )
    emb.unpersist()
    assert res_anchors >= raw_fixture, (res_anchors, raw_fixture)
    assert res_8bit >= raw_fixture + 0.15, (res_8bit, raw_fixture)
    assert res_8bit >= res_anchors + 0.15, (res_8bit, res_anchors)
    # 3. refine (exact re-rank of the ADC top-50) recovers most of the
    #    quantization loss — the FAISS IndexRefineFlat effect; its ceiling
    #    is IVF's probed-cell coverage, not PQ resolution
    assert refine_anchors >= res_anchors + 0.2, (refine_anchors, res_anchors)
    assert refine_8bit >= res_8bit + 0.2, (refine_8bit, res_8bit)
    assert refine_8bit >= 0.8, refine_8bit
    # 4. refine depth is the second knob: doubling r closes the ranking
    #    gap (measured 1.000 at r=100 on the 2000-row fixture corpus)
    assert refine_deep >= refine_8bit, (refine_deep, refine_8bit)
    assert refine_deep >= 0.9, refine_deep


def test_ivf_pq_residual_plan_one_arrow_pass_one_topk_exchange(spark):
    """The residual composition keeps the family plan shape: ONE Arrow
    pass over the corpus (cell + residual codes + per-cell ADC + batch
    top-k in-stage), the TopK window's exchange the only shuffle, and the
    WindowGroupLimit Partial/Final pair capping it."""
    import contextlib
    import io

    from velostream_spark.operators import pq

    emb = _emb(spark)
    df = pq.ivf_pq_residual_topk(
        emb, emb.where(F.col("vec_id") < 5), pq.pq_codebook(emb)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("MapInPandas") == 2, plan  # ONE node (tree + detail)
    assert plan.count(") Exchange") == 1, plan
    assert "hashpartitioning(query_id" in plan, plan
    assert "row_number(), 10, Partial" in plan, plan
    assert "row_number(), 10, Final" in plan, plan


def test_ivf_pq_refine_plan_single_exchange_double_window(spark):
    """The refine path keeps ONE query_id exchange (both ranking windows
    share its partitioning) and the ADC window's Partial/Final
    WindowGroupLimit pair at r=50 — the refine re-rank adds a window,
    never a shuffle, and no second corpus scan appears."""
    import contextlib
    import io

    from velostream_spark.operators import pq

    emb = _emb(spark)
    df = pq.ivf_pq_residual_topk(
        emb, emb.where(F.col("vec_id") < 5), pq.pq_codebook(emb), refine_r=50
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("MapInPandas") == 2, plan  # ONE node (tree + detail)
    assert plan.count(") Exchange") == 1, plan
    assert plan.count("Scan parquet") == 2, plan  # ONE scan (tree + detail)
    assert "row_number(), 50, Partial" in plan, plan
    assert "row_number(), 50, Final" in plan, plan


def test_ivf_residuals_reconstruct_exactly(spark):
    """residual + centroid(cell) reproduces the float64 cast of the
    original vector bit-exactly on this corpus. (v − c) + c == v is not
    an IEEE identity in general, but it holds whenever v and c share
    magnitude (Sterbenz-style) — true for unit-scale embeddings vs their
    own cell centroids — so any failure here means the Arrow stage
    subtracted something OTHER than the raw float64 centroid matrix the
    oracle's cents CTE carries (a normalized or re-rounded copy would
    miss by ~1e-7, many orders beyond ulp effects)."""
    import numpy as np

    from velostream_spark.operators import pq, similarity

    emb = _emb(spark)
    cents = similarity.ivf_centroids(emb, n_centroids=16)
    out = pq.ivf_residuals(emb, cents).collect()
    orig = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    assert len(out) == len(orig) > 0
    for r in out:
        rec = np.array(r["residual"], dtype=np.float64) + cents[r["cell"]]
        assert np.array_equal(rec, orig[r["vec_id"]]), r["vec_id"]


def test_residual_nprobe_clamps_to_exhaustive_probe(spark):
    """nprobe > n_centroids degrades to probing EVERY cell (FAISS
    semantics) instead of crashing in the lut reshape — and probing all
    cells of an exhaustive index must agree with the generous-but-legal
    nprobe == n_centroids form exactly."""
    from velostream_spark.operators import pq

    emb = _emb(spark)
    q = emb.orderBy("vec_id").limit(3)
    cb = pq.pq_codebook(emb)
    want = sorted(
        map(tuple, pq.ivf_pq_residual_topk(
            emb, q, cb, k=5, n_centroids=8, nprobe=8
        ).collect())
    )
    got = sorted(
        map(tuple, pq.ivf_pq_residual_topk(
            emb, q, cb, k=5, n_centroids=8, nprobe=999
        ).collect())
    )
    assert got == want and len(got) > 0


def test_range_join_rejects_nonpositive_bucket_width(spark):
    """w <= 0 (or NaN) silently empties the bucketized equi-join — the
    guard turns the degenerate config into an immediate ValueError."""
    import pytest

    from velostream_spark.operators.rangejoin import range_join

    pts = spark.createDataFrame([(1, 5.0)], "pid int, v double")
    rng = spark.createDataFrame([(1, 0.0, 9.0)], "rid int, lo double, hi double")
    for bad in (0.0, -4.0, float("nan")):
        with pytest.raises(ValueError, match="bucket_width"):
            range_join(pts, rng, "v", "lo", "hi", bad)
