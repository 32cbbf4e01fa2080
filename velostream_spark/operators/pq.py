"""Product quantization for ANN (Jégou, Douze & Schmid 2011, "Product
Quantization for Nearest Neighbor Search" — public).

PQ is the memory-bounded member of the similarity-search family: a D-dim
float vector becomes M small integer codes (here 8 codes over 16-centroid
subspace codebooks), so a 100-TB embedding corpus's index fits in RAM
(8 bytes/vector instead of 256) and candidate scanning is a table lookup
per subspace (ADC — asymmetric distance computation) instead of a D-dim
float op. Complements the IVF family (`operators/similarity`): production
systems compose them as IVF-PQ (coarse cells, PQ codes inside each cell).

Determinism contract (what makes the exact DuckDB oracle possible):

- **Codebook**: 16 anchor vectors chosen by a deterministic, SQL-expressible
  rule — ``MIN(vec_id)`` per ``NTILE(16) OVER (ORDER BY vec_id)`` — and the
  per-subspace codebook is simply the anchors' subvectors. The production
  alternative IS implemented: ``pq_train_codebook`` fits PQ_M independent
  MLlib k-means sub-quantizers (Jégou §III) — measured 2.5× the fixture's
  recall@10 on the random test corpus — but k-means is not
  SQL-expressible, so the ntile rule is the exact-oracle fixture and the
  trained path is recall-pinned in pytest instead.
- **Distances**: every squared-L2 is an explicitly LEFT-ASSOCIATIVE 8-term
  chain of ``(x_i - c_i) * (x_i - c_i)`` in float64 — numpy evaluates it as
  8 in-place vector adds in term order, the oracle writes the identical
  literal chain, and IEEE-754 +,-,* are exactly rounded on both, so the
  doubles are BIT-EQUAL (never np.sum/np.dot — pairwise summation would
  reassociate; never POWER in SQL — libm pow need not equal x*x).
- **Ties**: argmin tie → smallest code index (np.argmin's first-occurrence
  rule == the oracle's ``ORDER BY dist, j LIMIT 1``); top-k tie → smallest
  neighbor id (the ANN family convention). Rounding happens ONCE, in
  Catalyst (`F.round`, matching the oracle's ROUND) — never in numpy,
  whose rint is half-to-even.

Why Arrow and not pure Catalyst: the expression form of 8 subspaces × 16
codes × 8 terms is a ~10k-node tree that blows whole-stage codegen's 64 KB
method limit (Janino "Code grows beyond 64 KB", measured: 24 s analysis +
interpreted-mode execution 3.7-6.7 s on 500 rows). One mapInPandas stage
with the codebook in the closure runs the same arithmetic vectorized, keeps
the corpus un-shuffled, and is the exact shape `ivf_topk` already uses.

RESIDUAL encoding (``ivf_pq_residual_topk``, Jégou §IV.A / FAISS
IndexIVFPQ): quantize ``vec - centroid(cell)`` instead of the raw vector.
The clustered-corpus fixture (PERF.md, ANN recall, round 10) measured
why this is the production form: raw-vector PQ spends its codes
re-describing the coarse cell location, collapsing tight clusters to
identical code tuples (trained raw codebook recall@10 0.076 on the MoG
corpus — WORSE than the fixture's 0.126); residuals + 8-bit
sub-quantizers (``n_codes=256``, FAISS's default, still 8 B of code per
vector) reach 0.456 vs 0.408 for raw 8-bit. On structureless random data
residuals HURT (0.236 vs 0.370 — the "cells" are arbitrary, so
subtracting them adds noise): residual encoding helps exactly when the
coarse quantizer captures real structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

__all__ = [
    "PQ_M",
    "PQ_K",
    "PQ_SUBDIM",
    "pq_anchor_ids",
    "pq_codebook",
    "pq_encode",
    "pq_adc_topk",
    "ivf_pq_topk",
    "ivf_pq_residual_topk",
    "ivf_residuals",
    "residual_codebook_from_anchors",
    "pq_train_codebook",
    "pq_train_residual_codebook",
]

PQ_M = 8  #: number of subspaces
PQ_K = 16  #: centroids per subspace
PQ_SUBDIM = 8  #: dims per subspace (PQ_M * PQ_SUBDIM = 64, the corpus dim)


def pq_anchor_ids(emb: DataFrame, id_col: str = "vec_id") -> list[int]:
    """The deterministic codebook rule: MIN(id) of each NTILE(PQ_K) bucket
    over the id order. One tiny one-time job (index training — the ntile
    global window is bounded by the training sample, never a data path);
    the result is PQ_K ids."""
    w = W.orderBy(F.col(id_col))
    rows = (
        emb.select(id_col, F.ntile(PQ_K).over(w).alias("_b"))
        .groupBy("_b")
        .agg(F.min(id_col).alias("aid"))
        .orderBy("_b")
        .collect()
    )
    return [r["aid"] for r in rows]


def pq_codebook(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> list[list[float]]:
    """PQ_K anchor vectors (full 64-dim, float32-exact as Python floats),
    ordered by anchor id — row j is code j's centroid in every subspace."""
    ids = pq_anchor_ids(emb, id_col)
    got = {
        r["i"]: list(r["v"])
        for r in emb.where(F.col(id_col).isin(ids))
        .select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .collect()
    }
    return [got[i] for i in sorted(got)]


def _subspace_dists(E, codebook, s: int):
    """(N, n_codes) float64 squared-L2 of every row's subspace ``s``
    against every centroid — each column built as the left-associative
    8-term chain (one vectorized in-place add per term, in term order).
    The code count is the codebook's row count: PQ_K for the exact-oracle
    fixture, free for trained codebooks (256 = FAISS's 8-bit default)."""
    import numpy as np

    lo = s * PQ_SUBDIM
    out = np.empty((E.shape[0], len(codebook)), dtype=np.float64)
    for j in range(len(codebook)):
        acc = None
        for i in range(lo, lo + PQ_SUBDIM):
            d = E[:, i] - codebook[j][i]
            term = d * d
            if acc is None:
                acc = term
            else:
                acc += term
        out[:, j] = acc
    return out


def pq_encode(
    emb: DataFrame,
    codebook: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    compute_qerr: bool = True,
) -> DataFrame:
    """(id, code_1..code_M[, qerr]): per-subspace nearest-centroid codes
    and (optionally) the rounded total quantization error. ONE Arrow stage
    over the scan — no shuffle, codebook in the closure; codes are exact
    ints, and qerr's single rounding happens in Catalyst so it matches the
    oracle's ROUND. ``compute_qerr=False`` skips the per-batch error
    gather entirely — Catalyst can't prune work out of a Python stage, so
    the ADC path (which never reads qerr) must opt out here."""
    import numpy as np
    import pandas as pd

    cb = [list(map(float, row)) for row in codebook]

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            out = {id_col: pdf[id_col].to_numpy()}
            qerr = None
            for s in range(PQ_M):
                dist = _subspace_dists(E, cb, s)
                code = dist.argmin(axis=1)  # first occurrence = smallest j
                out[f"code_{s + 1}"] = code.astype(np.int32)
                if compute_qerr:
                    best = dist[np.arange(len(code)), code]
                    qerr = best if qerr is None else qerr + best
            if compute_qerr:
                out["_qerr_raw"] = qerr
            yield pd.DataFrame(out)

    id_type = emb.schema[id_col].dataType
    fields = [T.StructField(id_col, id_type)]
    fields += [T.StructField(f"code_{s + 1}", T.IntegerType()) for s in range(PQ_M)]
    if compute_qerr:
        fields.append(T.StructField("_qerr_raw", T.DoubleType()))
    coded = emb.select(id_col, vec_col).mapInPandas(run, T.StructType(fields))
    if not compute_qerr:
        return coded
    return coded.select(
        id_col,
        *[f"code_{s + 1}" for s in range(PQ_M)],
        F.round("_qerr_raw", 6).alias("qerr"),
    )


def _luts_for_mat(qmat, cb) -> "object":
    """(Q, M, n_codes) float64 ADC lookup tables for a matrix of query
    (or query-residual) vectors — ``_subspace_dists`` per subspace, i.e.
    the SAME left-associative term order as the oracle's literal chain
    evaluated as vectorized in-place float64 adds (IEEE ops are
    elementwise, so this is BIT-IDENTICAL to the scalar Python chain it
    replaced, just not O(Q·M·n_codes·8) interpreter ops — which mattered
    once 8-bit trained codebooks made n_codes 256)."""
    import numpy as np

    per_s = [_subspace_dists(qmat, cb, s) for s in range(PQ_M)]
    return np.stack(per_s, axis=1)  # (Q, M, n_codes)


def _query_luts(qrows, cb) -> "object":
    """(Q, M, n_codes) float64 ADC lookup tables from collected query
    rows. Shared by pq_adc_topk and ivf_pq_topk (and mirrored by the
    lut_joins/adc_chain SQL both oracles generate from the same builder)."""
    import numpy as np

    qmat = np.array(
        [[float(x) for x in r["qv"]] for r in qrows], dtype=np.float64
    )
    return _luts_for_mat(qmat, cb)


def _batch_topk(dist, nid, kk: int):
    """EXACT per-batch top-``kk`` under the family tie-break (dist asc,
    neighbor_id asc). Partition on dist alone prunes everything strictly
    worse than the kth distance (such rows can never enter the top-k under
    any tie-break); a lexsort over the survivors — which keeps ALL rows
    tied at the kth distance, so equal-distance/smaller-id rows are never
    lost — applies the full (dist, neighbor_id) order. Global top-k of
    per-batch top-ks with the same total order IS the global top-k, so
    trimming here changes the downstream TopK window's *input volume*
    (Q×k×n_batches rows through Arrow instead of Q×N), never its output."""
    import numpy as np

    pos = _batch_topk_pos(dist, nid, kk)
    return dist[pos], nid[pos]


def _batch_topk_pos(dist, nid, kk: int):
    """``_batch_topk`` returning POSITIONS into the input arrays instead
    of values — for callers that must gather sibling arrays (the refine
    stage fetches the selected candidates' raw vectors)."""
    import numpy as np

    if dist.shape[0] > kk:
        kth = np.partition(dist, kk - 1)[kk - 1]
        keep = np.flatnonzero(dist <= kth)
        dist, nid = dist[keep], nid[keep]
    else:
        keep = np.arange(dist.shape[0])
    order = np.lexsort((nid, dist))[:kk]
    return keep[order]


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    codebook: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k: corpus vectors participate ONLY through
    their PQ codes (the 100-TB memory shape). Each query's (M × PQ_K)
    distance lookup table is precomputed ONCE driver-side in plain-Python
    left-associative float64 (queries are a bounded set, like the
    codebook) and shipped in the closure; a corpus row's ADC distance is
    M table lookups summed left-associatively, vectorized per Arrow
    batch, then reduced to the batch's exact top-k (``_batch_topk``)
    BEFORE leaving Python — the Arrow transfer carries Q×k rows per batch,
    not Q×N. The only exchange is the TopK window on query_id."""
    import numpy as np
    import pandas as pd

    cb = [list(map(float, row)) for row in codebook]
    qrows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    qids = [r["qid"] for r in qrows]
    lut_np = _query_luts(qrows, cb)  # (Q, M, K)

    coded = pq_encode(emb, codebook, vec_col, id_col, compute_qerr=False)

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            codes = np.stack(
                [pdf[f"code_{s + 1}"].to_numpy() for s in range(PQ_M)], axis=1
            )  # (N, M)
            nid = pdf[id_col].to_numpy()
            parts = []
            for qi, qid in enumerate(qids):
                adc = None
                for s in range(PQ_M):
                    term = lut_np[qi, s][codes[:, s]]
                    adc = term.copy() if adc is None else adc + term
                keep = nid != qid
                top_d, top_n = _batch_topk(adc[keep], nid[keep], k)
                parts.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(top_n.shape[0], qid),
                            "neighbor_id": top_n,
                            "_adc_raw": top_d,
                        }
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    id_type = emb.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("_adc_raw", T.DoubleType()),
        ]
    )
    scored = coded.mapInPandas(run, schema)
    w = W.partitionBy("query_id").orderBy(F.col("_adc_raw").asc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("_adc_raw", 6).alias("adc_dist"),
        )
    )


def ivf_pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    codebook: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-PQ: the production composition — coarse even-spaced IVF cells
    (similarity.ivf_centroids, the deterministic fixture index) prune the
    corpus to each query's ``nprobe`` probed cells, and ADC over PQ codes
    scores the survivors. ONE Arrow pass over the corpus computes cell
    assignment (one BLAS matmul per batch, argmax of the 6-rounded cosine
    — identical to ivf_assign) AND the PQ codes, scores only
    in-probed-cell candidates, and emits each batch's exact top-k per
    query (``_batch_topk``); the only exchange is the TopK window. At
    100 TB: corpus scanned once, Q×k×n_batches id/score rows leave the
    stage, and the scoring payload is the 8-int code tuple.

    Queries and their probed cells are driver-side (bounded set): probe
    selection replicates ivf_assign's rounded stable argsort exactly, and
    the ADC lookup tables are the same left-associative chains as
    pq_adc_topk, so the DuckDB oracle composes the two existing CTE sets
    verbatim."""
    import numpy as np
    import pandas as pd

    from velostream_spark.operators.similarity import _round6, ivf_centroids

    cents = ivf_centroids(emb, vec_col, id_col, n_centroids)
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-30)
    cnT = cn.T.copy()

    cb = [list(map(float, row)) for row in codebook]
    qrows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    qids = [r["qid"] for r in qrows]
    qmat = np.array([[float(x) for x in r["qv"]] for r in qrows], dtype=np.float64)
    qscores = _round6(qmat @ cnT)
    probed = np.argsort(-qscores, axis=1, kind="stable")[:, :nprobe]  # (Q, nprobe)
    lut_np = _query_luts(qrows, cb)  # (Q, M, K)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nid = pdf[id_col].to_numpy()
            cell = np.argmax(_round6(E @ cnT), axis=1)  # nprobe=1, ties → low j
            codes = np.empty((len(pdf), PQ_M), dtype=np.int64)
            for s in range(PQ_M):
                codes[:, s] = _subspace_dists(E, cb, s).argmin(axis=1)
            parts = []
            for qi, qid in enumerate(qids):
                keep = np.isin(cell, probed[qi]) & (nid != qid)
                if not keep.any():
                    continue
                adc = None
                for s in range(PQ_M):
                    term = lut_np[qi, s][codes[keep, s]]
                    adc = term.copy() if adc is None else adc + term
                top_d, top_n = _batch_topk(adc, nid[keep], k)
                parts.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(top_n.shape[0], qid),
                            "neighbor_id": top_n,
                            "_adc_raw": top_d,
                        }
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    id_type = emb.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("_adc_raw", T.DoubleType()),
        ]
    )
    scored = emb.select(id_col, vec_col).mapInPandas(run, schema)
    w = W.partitionBy("query_id").orderBy(F.col("_adc_raw").asc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("_adc_raw", 6).alias("adc_dist"),
        )
    )


def pq_train_codebook(
    emb: DataFrame,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    n_codes: int = PQ_K,
) -> list[list[float]]:
    """K-means-TRAINED PQ codebook: PQ_M independent MLlib k-means fits,
    one per subspace over that subspace's subvectors — the real PQ
    index-build (Jégou et al. §III trains each sub-quantizer separately;
    the ntile-anchor rule is the exact-oracle stand-in). Spark-first:
    each fit's Lloyd iterations are DataFrame jobs, so training scales
    with the corpus; only PQ_M × PQ_K × PQ_SUBDIM floats reach the
    driver. Seeded → reproducible. Returns the same full-vector layout
    pq_encode/pq_adc_topk consume (row j = code j's centroid in every
    subspace), so trained and fixture codebooks are drop-in swaps.
    ``n_codes`` is the per-subspace code count — PQ_K (=16, 4-bit) for
    drop-in fixture parity, 256 for FAISS's 8-bit production default
    (codes still one small int, the index still n_codes·dim floats).

    Approximate by design (k-means is not SQL-expressible) → no DuckDB
    oracle; quality is recorded in PERF.md (ANN recall, round 10) and the
    recall gain over the fixture codebook is pinned in tests/test_pq.py."""
    import numpy as np

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    cb = np.zeros((n_codes, PQ_M * PQ_SUBDIM), dtype=np.float64)
    for s in range(PQ_M):
        lo = s * PQ_SUBDIM
        feat = emb.select(
            array_to_vector(
                F.slice(F.col(vec_col).cast("array<double>"), lo + 1, PQ_SUBDIM)
            ).alias("features")
        )
        model = KMeans(k=n_codes, seed=seed + s, maxIter=max_iter).fit(feat)
        cents = np.array(
            [np.asarray(c, dtype=np.float64) for c in model.clusterCenters()]
        )
        if cents.shape[0] < n_codes:
            # Degenerate subspace (< n_codes distinct subvectors): k-means
            # can return fewer centers. Pad by repeating the first centroid
            # — encoding stays correct (argmin just never picks a pad code)
            # and the codebook keeps the fixed (n_codes, D) layout.
            pad = np.repeat(cents[:1], n_codes - cents.shape[0], axis=0)
            cents = np.concatenate([cents, pad], axis=0)
        # deterministic code order: sort centroids lexicographically so the
        # code assignment is independent of MLlib's internal cluster order
        order = np.lexsort(cents.T[::-1])
        cb[:, lo : lo + PQ_SUBDIM] = cents[order]
    return [list(map(float, row)) for row in cb]


def residual_codebook_from_anchors(
    codebook: list[list[float]], centroids
) -> list[list[float]]:
    """Residual fixture codebook: each ntile anchor's residual against its
    OWN argmax-cosine IVF cell (the anchors are corpus rows, so they carry
    cells like any vector). PLAIN PYTHON floats, so the per-element
    subtraction is the identical exactly-rounded IEEE op the oracle's
    ``(a.av[i] - a.acv[i])`` performs — residual chains stay bit-equal."""
    import numpy as np

    from velostream_spark.operators.similarity import _round6

    cents = np.asarray(centroids, dtype=np.float64)
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-30)
    A = np.array([[float(x) for x in row] for row in codebook], dtype=np.float64)
    acell = np.argmax(_round6(A @ cn.T), axis=1)  # ties → lower j (argmax rule)
    dim = A.shape[1]
    return [
        [float(codebook[j][i]) - float(cents[acell[j]][i]) for i in range(dim)]
        for j in range(len(codebook))
    ]


def ivf_residuals(
    emb: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, residual array<double>, cell): one Arrow pass assigning each
    vector to its argmax-cosine IVF cell and subtracting that cell's RAW
    centroid — the residual space IVF-PQ quantizes (Jégou §IV.A). Used by
    the trained-residual-codebook path; the topk operator fuses this into
    its own single pass instead of materializing residuals."""
    import numpy as np
    import pandas as pd

    from velostream_spark.operators.similarity import _round6

    cents = np.asarray(centroids, dtype=np.float64)
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-30)
    cnT = cn.T.copy()

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cell = np.argmax(_round6(E @ cnT), axis=1)
            R = E - cents[cell]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "residual": list(R),
                    "cell": cell.astype(np.int32),
                }
            )

    id_type = emb.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("residual", T.ArrayType(T.DoubleType())),
            T.StructField("cell", T.IntegerType()),
        ]
    )
    return emb.select(id_col, vec_col).mapInPandas(run, schema)


def pq_train_residual_codebook(
    emb: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_iter: int = 10,
    n_codes: int = PQ_K,
) -> list[list[float]]:
    """K-means-trained codebook over IVF RESIDUALS — the production IVF-PQ
    index build: quantize ``vec - cell_centroid``, not the raw vector.
    On clustered corpora raw-vector PQ collapses (per-subspace centers sit
    on the cluster centers, so every within-cluster vector gets the same
    code tuple and ADC cannot rank inside a cluster — measured in
    PERF.md, ANN recall, round 10); residuals remove the cluster mean
    first, so the 16 codes/subspace spend their resolution on the
    WITHIN-cluster structure top-k actually ranks. Distributed: one Arrow
    residual pass + the same per-subspace MLlib fits as pq_train_codebook."""
    return pq_train_codebook(
        ivf_residuals(emb, centroids, vec_col, id_col),
        vec_col="residual",
        seed=seed,
        max_iter=max_iter,
        n_codes=n_codes,
    )


def ivf_pq_residual_topk(
    emb: DataFrame,
    queries: DataFrame,
    codebook: list[list[float]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    residual_codebook: list[list[float]] | None = None,
    refine_r: int | None = None,
    centroids=None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the production composition exactly
    as Jégou et al. §IV.A / FAISS's IndexIVFPQ: each vector's PQ codes
    quantize ``vec - centroid(cell)``, and a query's ADC lookup tables are
    built per PROBED CELL from ``query - centroid(cell)``. Raw-vector PQ
    wastes its 16 codes/subspace re-describing the coarse cell location —
    on clustered corpora every member of a tight cluster collapses to the
    same code tuple (measured: recall@10 0.126 raw vs this path's, see
    PERF.md). Same scale shape as ivf_pq_topk: ONE Arrow pass computes
    cell + residual codes and emits each batch's exact per-query top-k;
    the only exchange is the TopK window.

    ``residual_codebook`` (PQ_K × dim, residual space) is used directly
    when given — the trained path (``pq_train_residual_codebook``);
    otherwise it derives from the ntile ``codebook`` anchors' own
    residuals (``residual_codebook_from_anchors``) — the deterministic
    fixture with an exact DuckDB oracle.

    ``refine_r`` enables the REFINE stage (FAISS IndexRefineFlat): the
    ADC pass keeps top-``refine_r`` candidates per query, their EXACT
    rounded cosines are computed in the same Arrow pass (the raw batch
    rows are already in memory — no second corpus scan, no vectors in
    any shuffle, just one extra double per emitted row), and the final
    top-``k`` re-ranks by exact cosine. Output columns switch to the
    brute-force convention (rank by cos_sim desc) so refine quality is
    directly comparable; still exactly one exchange — both windows
    partition on query_id, so Catalyst reuses the single hash exchange."""
    import numpy as np
    import pandas as pd

    from velostream_spark.operators.similarity import _round6, ivf_centroids

    # ``centroids`` overrides the deterministic even-spaced coarse index
    # (pass ivf_train_centroids(...) for the fully-trained production
    # stack: k-means cells + k-means residual codebook + refine)
    cents = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else ivf_centroids(emb, vec_col, id_col, n_centroids)
    )
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-30)
    cnT = cn.T.copy()

    if residual_codebook is None:
        if codebook is None:
            raise ValueError("need codebook or residual_codebook")
        residual_codebook = residual_codebook_from_anchors(codebook, cents)
    ra = [list(map(float, row)) for row in residual_codebook]

    qrows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    qids = [r["qid"] for r in qrows]
    qmat = np.array([[float(x) for x in r["qv"]] for r in qrows], dtype=np.float64)
    qscores = _round6(qmat @ cnT)
    # nprobe > n_centroids degrades gracefully to probing EVERY cell —
    # unclamped, argsort slices fewer than nprobe columns and the lut
    # reshape below raises instead of behaving like exhaustive probe
    nprobe = min(nprobe, len(cents))
    probed = np.argsort(-qscores, axis=1, kind="stable")[:, :nprobe]  # (Q, nprobe)

    # Per (query, probed slot) residual LUTs: the (Q·nprobe, dim) residual
    # matrix (query − probed cell centroid, one exactly-rounded subtraction
    # per element) through the same vectorized left-associative chains the
    # oracle's ((q.qvd[i] - qct.cv[i]) - ranch-residual) SQL writes.
    qr_mat = (
        qmat[:, None, :] - cents[probed]
    ).reshape(len(qrows) * nprobe, qmat.shape[1])
    lut = _luts_for_mat(qr_mat, ra).reshape(
        len(qrows), nprobe, PQ_M, len(ra)
    )

    per_batch = refine_r if refine_r is not None else k
    qnorm = np.linalg.norm(qmat, axis=1)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nid = pdf[id_col].to_numpy()
            cell = np.argmax(_round6(E @ cnT), axis=1)
            R = E - cents[cell]  # one exactly-rounded subtraction per elem
            codes = np.empty((len(pdf), PQ_M), dtype=np.int64)
            for s in range(PQ_M):
                codes[:, s] = _subspace_dists(R, ra, s).argmin(axis=1)
            parts = []
            for qi, qid in enumerate(qids):
                ds, ns, rows = [], [], []
                for p in range(nprobe):
                    keep = (cell == probed[qi, p]) & (nid != qid)
                    if not keep.any():
                        continue
                    adc = None
                    for s in range(PQ_M):
                        term = lut[qi, p, s][codes[keep, s]]
                        adc = term.copy() if adc is None else adc + term
                    ds.append(adc)
                    ns.append(nid[keep])
                    rows.append(np.flatnonzero(keep))
                if not ds:
                    continue
                cat_d = np.concatenate(ds)
                cat_n = np.concatenate(ns)
                pos = _batch_topk_pos(cat_d, cat_n, per_batch)
                out = {
                    "query_id": np.full(pos.shape[0], qid),
                    "neighbor_id": cat_n[pos],
                    "_adc_raw": cat_d[pos],
                }
                if refine_r is not None:
                    # exact rounded cosine for the batch's ADC survivors —
                    # same formula/rounding as ivf_topk's re-rank, so the
                    # oracle's ROUND(list_dot_product/...) agrees
                    v = E[np.concatenate(rows)[pos]]
                    dot = v @ qmat[qi]
                    nv = np.linalg.norm(v, axis=1) * qnorm[qi]
                    out["cos_sim"] = _round6(
                        np.where(nv > 0, dot / np.maximum(nv, 1e-30), 0.0)
                    )
                parts.append(pd.DataFrame(out))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    id_type = emb.schema[id_col].dataType
    fields = [
        T.StructField("query_id", id_type),
        T.StructField("neighbor_id", id_type),
        T.StructField("_adc_raw", T.DoubleType()),
    ]
    if refine_r is not None:
        fields.append(T.StructField("cos_sim", T.DoubleType()))
    scored = emb.select(id_col, vec_col).mapInPandas(run, T.StructType(fields))
    w = W.partitionBy("query_id").orderBy(F.col("_adc_raw").asc(), F.col("neighbor_id"))
    if refine_r is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                "query_id",
                "neighbor_id",
                "rank",
                F.round("_adc_raw", 6).alias("adc_dist"),
            )
        )
    w_cos = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("_r_adc", F.row_number().over(w))
        .where(F.col("_r_adc") <= refine_r)
        .withColumn("rank", F.row_number().over(w_cos))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )
