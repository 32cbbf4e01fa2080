"""Multimodal + IVF-ANN catalog entries (beyond-reference, 100-TB-pipeline
components). Documents' text bytes stand in for media payloads — the
deterministic fake codec (operators.multimodal) makes the full Spark-side
plumbing oracle-checkable where the math is SQL-expressible, and rows-only
where it isn't (numpy feature extraction, approximate ANN).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velostream_spark.operators import multimodal, similarity
from velostream_spark.registry import query, tables


@query(
    "multimodal_image_stats",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)          AS size_bytes,
           md5(text)                                                 AS payload_md5,
           CAST(octet_length(CAST(text AS BLOB)) % 512 + 64 AS INT)  AS width,
           CAST(octet_length(CAST(text AS BLOB)) % 256 + 64 AS INT)  AS height
    FROM documents
    """,
    tags=("pipeline", "multimodal", "mapInPandas"),
)
def multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through the Arrow/mapInPandas
    stage: the oracle checks the plumbing-visible outputs (size, digest,
    metadata dims); the numpy byte-stats are pinned by pytest against a
    pure-python reimplementation."""
    t = tables(spark, sf_dir)
    media = multimodal.attach_media(t["documents"], "text")
    return multimodal.image_stats(media).select(
        "doc_id", "size_bytes", "payload_md5", "width", "height"
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH base AS (
      SELECT doc_id, text,
             CAST(octet_length(CAST(text AS BLOB)) % 7 + 2 AS INT) AS nf
      FROM documents
    ),
    sized AS (
      SELECT doc_id, text, nf, CAST(trunc(length(text) / nf) AS INT) AS flen
      FROM base
    )
    SELECT doc_id,
           CAST(t.i AS INT)                                           AS frame_idx,
           md5(substring(text, CAST(t.i * flen + 1 AS BIGINT), flen)) AS frame_md5,
           CAST(octet_length(CAST(substring(text, CAST(t.i * flen + 1 AS BIGINT), flen)
                AS BLOB)) AS BIGINT)                                  AS frame_bytes
    FROM sized CROSS JOIN UNNEST(range(sized.nf)) AS t(i)
    WHERE flen > 0
    """,
    tags=("pipeline", "multimodal", "video"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over fake video containers: payload split into
    media.n_frames slices, exploded one row per frame — pure Catalyst
    (sequence/explode/substring), no Python in the hot path."""
    t = tables(spark, sf_dir)
    media = multimodal.attach_media(t["documents"], "text")
    return multimodal.sample_frames(media).select(
        "doc_id", "frame_idx", "frame_md5", "frame_bytes"
    )


@query(
    "multimodal_audio_energy",
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(CAST(text AS BLOB)) AS h,
             octet_length(CAST(text AS BLOB)) // 256 AS n
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, h, CAST(c.i AS INT) AS chunk_idx
      FROM b CROSS JOIN UNNEST(range(b.n)) AS c(i)
    ),
    bytes AS (
      SELECT doc_id, chunk_idx,
             ('0x' || substring(h, (chunk_idx * 256 + p.j) * 2 + 1, 2))::INTEGER
                 AS v
      FROM chunks CROSS JOIN (SELECT UNNEST(range(256)) AS j) p
    )
    SELECT doc_id, chunk_idx,
           ROUND(sqrt(AVG(CAST(v AS DOUBLE) * v)), 6) AS energy
    FROM bytes GROUP BY doc_id, chunk_idx
    """,
    tags=("pipeline", "multimodal", "audio"),
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk RMS energy over raw payload bytes (fake PCM codec) via
    vectorized mapInPandas. The byte math is pure arithmetic, so it gets a
    full DuckDB oracle (bytes recovered via hex(); energy rounded to 6 on
    both sides — numpy's pairwise mean and SQL AVG agree to ~1e-11, far
    inside the rounding); the numpy path is additionally pinned by pytest."""
    t = tables(spark, sf_dir)
    media = multimodal.attach_media(t["documents"], "text")
    return multimodal.audio_chunk_energy(media).withColumn(
        "energy", F.round("energy", 6)
    )


def _ivf_cell_ctes(n_centroids: int) -> str:
    """Shared DuckDB CTE chain reproducing the deterministic IVF index:
    evenly id-spaced centroid selection (similarity.ivf_centroids) and
    argmax-cosine cell assignment (similarity.ivf_assign, nprobe=1) —
    ``corpus_cell(vec_id, v, cell)`` is the assigned corpus. Used by both
    the ann_ivf_topk and semdedup oracles."""
    return f"""bounds AS (SELECT MIN(vec_id) AS lo, MAX(vec_id) AS hi FROM embeddings),
    targets AS (
      SELECT DISTINCT lo + ((hi - lo) * g.i) // {n_centroids} AS t
      FROM bounds, (SELECT UNNEST(range({n_centroids})) AS i) g
    ),
    snap AS (
      SELECT t, vec_id,
             ROW_NUMBER() OVER (PARTITION BY t
                                ORDER BY ABS(vec_id - t), vec_id) AS rn
      FROM targets CROSS JOIN embeddings
    ),
    chosen AS (SELECT DISTINCT vec_id FROM snap WHERE rn = 1),
    cents AS (
      SELECT e.vec_id,
             CAST(ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS INT) AS j,
             e.embedding::DOUBLE[] AS cv,
             GREATEST(sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[])), 1e-30)
                 AS cnorm
      FROM embeddings e JOIN chosen USING (vec_id)
    ),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    corpus_cell AS (
      SELECT vec_id, v, j AS cell FROM (
        SELECT c.vec_id, c.v, ct.j,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                  ORDER BY ROUND(list_dot_product(c.v, ct.cv)
                                                 / ct.cnorm, 6) DESC, ct.j)
                   AS rn
        FROM corpus c CROSS JOIN cents ct
      ) WHERE rn = 1
    )"""


def _ann_ivf_oracle(n_centroids: int = 16, nprobe: int = 4, k: int = 10,
                    n_queries: int = 20) -> str:
    """DuckDB oracle for the DETERMINISTIC-index IVF path. Every step of
    similarity.ivf_topk with even-spaced centroids is pure, SQL-expressible
    arithmetic: centroid ids snap each of K evenly spaced id targets to the
    nearest actual id (tie → smaller id); centroid j = j-th smallest chosen
    id; corpus vectors go to their argmax-cosine cell (tie → lower j, numpy
    argmax); queries probe their top-nprobe cells (stable argsort → lower j
    first); exact cosine re-rank within probed cells, ties by neighbor_id.
    So "approximate" ANN here still has an exact oracle — the approximation
    is in the INDEX DESIGN, not in any runtime nondeterminism. Both
    engines round every score to 6 digits BEFORE ordering (ties → lower
    cell index / neighbor id), so a ~1e-16 summation-order difference
    between numpy's pairwise dot and DuckDB's sequential list_dot_product
    can never flip a cell assignment or a rank at a near-tie."""
    return f"""
    WITH {_ivf_cell_ctes(n_centroids)},
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          FROM embeddings ORDER BY vec_id LIMIT {n_queries}),
    q_cells AS (
      SELECT query_id, qv, j AS cell FROM (
        SELECT q.query_id, q.qv, ct.j,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY ROUND(list_dot_product(q.qv, ct.cv)
                                                 / ct.cnorm, 6) DESC, ct.j)
                   AS rn
        FROM q CROSS JOIN cents ct
      ) WHERE rn <= {nprobe}
    ),
    scored AS (
      SELECT qc.query_id, cc.vec_id AS neighbor_id,
             ROUND(CASE WHEN sqrt(list_dot_product(cc.v, cc.v))
                             * sqrt(list_dot_product(qc.qv, qc.qv)) > 0
                        THEN list_dot_product(cc.v, qc.qv)
                             / GREATEST(sqrt(list_dot_product(cc.v, cc.v))
                                        * sqrt(list_dot_product(qc.qv, qc.qv)),
                                        1e-30)
                        ELSE 0.0 END, 6) AS _cos
      FROM corpus_cell cc JOIN q_cells qc ON cc.cell = qc.cell
      WHERE cc.vec_id <> qc.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY _cos DESC, neighbor_id)
                  AS INTEGER) AS rank,
             _cos AS cos_sim
      FROM scored
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM ranked WHERE rank <= {k}
    """


@query(
    "ann_ivf_topk",
    oracle=_ann_ivf_oracle(),
    tags=("pipeline", "similarity", "ann", "ivf"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors: 16 deterministic inverted lists,
    4-probe search, exact re-rank within probed cells. The even-spaced
    index is fully deterministic, so the whole probe/re-rank path has an
    exact DuckDB oracle (_ann_ivf_oracle); recall vs brute force is
    additionally asserted in pytest (test_multimodal_ivf.py)."""
    from velostream_spark.registry import memo_plan

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    queries = emb.orderBy("vec_id").limit(20)
    # plan+index memoized: an IVF index (centroid selection jobs + the
    # centroid-literal assignment plan) is built once and queried many
    # times — rebuilding it per invocation measures index build, not search
    return memo_plan(
        spark,
        ("ann_ivf_topk", sf_dir),
        lambda: similarity.ivf_topk(emb, queries, k=10, n_centroids=16, nprobe=4),
    )


def _semdedup_oracle(n_centroids: int = 8, threshold: float = 0.3) -> str:
    """Exact oracle for the deterministic-index semdedup path: the shared
    IVF cell CTEs assign every vector, then within-cell pairs (id_a <
    id_b) with ROUND(cos, 6) ≥ threshold mark the LATER doc a duplicate;
    kept = no earlier in-cell neighbor above threshold."""
    return f"""
    WITH {_ivf_cell_ctes(n_centroids)},
    hits AS (
      SELECT b.vec_id AS id_b,
             ROUND(CASE WHEN sqrt(list_dot_product(a.v, a.v))
                             * sqrt(list_dot_product(b.v, b.v)) > 0
                        THEN list_dot_product(a.v, b.v)
                             / (sqrt(list_dot_product(a.v, a.v))
                                * sqrt(list_dot_product(b.v, b.v)))
                        ELSE 0.0 END, 6) AS _cos
      FROM corpus_cell a JOIN corpus_cell b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    prior AS (
      SELECT id_b AS vec_id, MAX(_cos) AS max_prior_sim
      FROM hits WHERE _cos >= {threshold} GROUP BY id_b
    )
    SELECT cc.vec_id, cc.cell,
           p.vec_id IS NULL AS kept,
           p.max_prior_sim
    FROM corpus_cell cc LEFT JOIN prior p ON cc.vec_id = p.vec_id
    """


@query(
    "semdedup",
    oracle=_semdedup_oracle(),
    tags=("pipeline", "dedup", "embedding", "clustering", "beyond-reference"),
)
def semdedup_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication over the clustered embedding space
    (SemDeDup, Abbas et al. 2023): per-doc keep/drop verdicts where a doc
    is dropped iff an earlier-id doc in the SAME cluster cell has cosine
    ≥ τ. Cluster-bounded candidates complement the LSH-bucketed
    embedding_near_dup; with the deterministic even-spaced index the
    entire operator is exact-oracle-checkable (_semdedup_oracle). The demo
    τ=0.3 sits at the p99 of in-cell pairwise cosine on the synthetic
    near-orthogonal embeddings (production: τ≈0.95 on real embeddings,
    K≈√N cells). Index build (centroid selection) is memoized like
    ann_ivf_topk — declared EAGER_DERIVE in bench."""
    from velostream_spark.registry import memo_plan

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    return memo_plan(
        spark,
        ("semdedup", sf_dir),
        lambda: similarity.semdedup(
            emb, "embedding", "vec_id", threshold=0.3, n_centroids=8
        ),
    )


def _decontam_oracle(n_centroids: int = 8, threshold: float = 0.3) -> str:
    """Exact oracle for the streaming decontamination gate: the shared
    deterministic-IVF CTEs assign every vector, then an A vector (the
    stream) survives iff NO benchmark vector B in its cell has
    ROUND(cos, 6) ≥ threshold."""
    return f"""
    WITH {_ivf_cell_ctes(n_centroids)},
    b AS (SELECT vec_id, v, cell FROM corpus_cell WHERE vec_id % 5 = 0),
    a AS (SELECT vec_id, v, cell FROM corpus_cell WHERE vec_id % 5 <> 0)
    SELECT a.vec_id, a.cell
    FROM a
    WHERE NOT EXISTS (
      SELECT 1 FROM b
      WHERE b.cell = a.cell
        AND ROUND(CASE WHEN sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v)) > 0
                       THEN list_dot_product(a.v, b.v)
                            / (sqrt(list_dot_product(a.v, a.v))
                               * sqrt(list_dot_product(b.v, b.v)))
                       ELSE 0.0 END, 6) >= {threshold}
    )
    """


#: Broadcast ceiling for the decontamination gate's benchmark set, in
#: ROWS (the deciding quantity: every task probes |B∩cell| vectors; at
#: dim=64 float64 a row is ~0.5 KB in the hash relation). MEASURED in
#: PERF.md Round-13 (full table; re-measure one factor with
#: `tools/ab.py streaming_decontam_gate --b-dir decontam:128`):
#: broadcast ≈ shuffled at 6.4K rows (5.7 vs 5.1 s), broadcast 1.6×
#: WORSE at 51K rows / 26 MB (45.3 vs 28.5 s) and 3.5× worse at 205K
#: rows / 105 MB (189 vs 54 s) — the broadcast hash relation's per-probe
#: bucket walk degrades super-linearly while the sort-merge
#: cell-equi-join grows sub-linearly. 25K rows (~13 MB, near Spark's own
#: 10 MB autoBroadcast default) keeps broadcast for every realistic eval
#: set and switches before the measured divergence; the local single-JVM
#: crossover is an UPPER bound — a real cluster adds driver-collect +
#: per-executor ship to the broadcast side, never to the fallback.
DECONTAM_BROADCAST_MAX_ROWS = 25_000


@query(
    "streaming_decontam_gate",
    oracle=_decontam_oracle(),
    tags=(
        "streaming", "embedding", "decontamination", "gate",
        "beyond-reference",
    ),
)
def streaming_decontam_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous embedding-similarity DECONTAMINATION: training vectors
    stream in and any vector with cosine ≥ τ to a benchmark-set vector in
    its cluster cell is dropped — "filter the training firehose against
    the eval set", the semdedup machinery turned into a gate. The
    benchmark set (vec_id % 5 == 0) is assigned to its IVF cells ONCE
    batch-side (the one-time index build); the stream assigns cells
    through the same Arrow-batched matmul pass (ivf_assign is stateless,
    so it runs unchanged on a streaming DF) and the verdict is Spark's
    native stream-static LEFT ANTI join on (cell equality AND a
    JVM-expression cosine ≥ τ) — candidate pairs are CELL-BOUNDED, never
    all-pairs, exactly the SemDeDup scale argument. Stateless per batch ⇒
    append streaming equals the batch gate; with the deterministic
    even-spaced index every step is pure arithmetic, so the oracle is
    exact (shared CTEs with semdedup/ann_ivf; both engines round cosines
    to 6 digits before thresholding, sequential fold == list_dot_product
    order). Completes the streaming gate family: classifier (model), CMS
    (frequency), Bloom (membership), decontamination (similarity)."""
    from velostream_spark.registry import memo_plan
    from velostream_spark.streaming.runner import run_available_now
    from velostream_spark.streaming.source import stream_table

    def build() -> DataFrame:
        thr = 0.3
        emb = tables(spark, sf_dir)["embeddings"]
        # ONE aggregate fuses the centroid id-range scan with the benchmark
        # count the broadcast-ceiling decision needs (r15-opt: was two eager
        # jobs — agg(min,max) inside ivf_centroids plus a separate count —
        # per fn() call; both remain one-time index-build work)
        lo, hi, n_b = emb.agg(
            F.min("vec_id"),
            F.max("vec_id"),
            F.count(F.when(F.col("vec_id") % 5 == 0, F.lit(1))),
        ).first()
        cents = similarity.ivf_centroids(
            emb, "embedding", "vec_id", 8, id_minmax=(lo, hi)
        )

        def norm_of(vc: str):
            return F.sqrt(
                F.aggregate(
                    F.col(vc),
                    F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"),
                )
            )

        b = similarity.ivf_assign(
            emb.where(F.col("vec_id") % 5 == 0), cents,
            out_id="b_id", out_vec="b_v",
        ).withColumnsRenamed({"_cell": "b_cell"}).withColumn("b_norm", norm_of("b_v"))
        a = similarity.ivf_assign(
            stream_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 5 != 0),
            cents,
            out_id="vec_id", out_vec="a_v",
        ).withColumn("a_norm", norm_of("a_v"))
        dot = F.aggregate(
            F.zip_with("a_v", "b_v", lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cos = F.round(
            F.when(F.col("a_norm") * F.col("b_norm") > 0,
                   dot / (F.col("a_norm") * F.col("b_norm"))).otherwise(0.0),
            6,
        )
        hit = (F.col("_cell") == F.col("b_cell")) & (cos >= F.lit(thr))
        # Broadcast the benchmark set only while it fits the measured ceiling
        # (DECONTAM_BROADCAST_MAX_ROWS); a larger B falls back to the shuffled
        # cell-equi-join — Spark extracts the cell equality as the join key
        # and keeps the cosine as residual, so candidates stay cell-bounded
        # either way (stream-static left-anti is stateless per micro-batch in
        # both plans). The count was computed in the fused index-build
        # aggregate above (raw benchmark rows, no Arrow pass) — the same
        # one-time index-build class as the centroid selection.
        rhs = b if n_b > DECONTAM_BROADCAST_MAX_ROWS else F.broadcast(b)
        return (
            a.join(rhs, hit, "left_anti")
            .select("vec_id", F.col("_cell").alias("cell"))
        )

    # The index build (centroid selection + benchmark count + the literal
    # centroid matrix baked into the plan) is ONE-TIME work a warm engine
    # never repeats — the reference's ANN path queries a prebuilt index.
    # memo_plan keeps the built STREAMING PLAN per (session, sf_dir);
    # every run_available_now below still runs the whole job from the
    # parquet source (fresh checkpoint + sink per call), so execution is
    # measured per run — only the index build and Catalyst analysis are
    # one-time, exactly the memoization semdedup/ann_ivf_topk already use.
    out = memo_plan(spark, ("streaming_decontam_gate", sf_dir), build)
    return run_available_now(out, "append", "streaming_decontam_gate")


#: ann_ivf_trained_topk's MEAN recall@10 floor over the 20-query panel:
#: the k-means-trained IVF at nprobe 4/8 measures 0.755 (sf0.001) and
#: 0.805 (sf0.01); a broken/untrained index degenerates to the random
#: nprobe/n_centroids = 0.5 baseline, so 0.65 sits between the two with
#: margin on both sides. Per-QUERY recall has a long tail (min 0.4
#: measured) that a random partition can match — only the panel mean
#: separates trained from broken, so the boolean is corpus-level.
_IVF_TRAINED_MEAN_RECALL_FLOOR = 0.65


@query(
    "ann_ivf_trained_topk",
    oracle=f"""
    SELECT vec_id AS query_id,
           CAST(10 AS INT) AS n_results,
           TRUE AS recall_ok
    FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 20)
    """,
    tags=("pipeline", "similarity", "ann", "ivf", "kmeans"),
)
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a k-means-TRAINED index (MLlib, seeded, distributed Lloyd
    iterations — the real index-build step) over the same probe/re-rank
    path as ann_ivf_topk.

    Driver-checkable validation oracle (r14 verdict task 5): the trained
    centroids are not SQL-reproducible, so the entry computes the EXACT
    brute-force top-10 in the same query (the ann_brute_force_topk
    machinery, which IS exact-oracle-gated) and emits per query the IVF
    result count (exactly k — enough candidates in every probed cell
    set) plus ``recall_ok`` = the PANEL-MEAN recall ≥
    ``_IVF_TRAINED_MEAN_RECALL_FLOOR`` (same value on every row);
    DuckDB rebuilds the query ids and pins both as literals, so a broken
    or degenerate index is a driver-caught hash mismatch. Exact
    recall-level assertions stay in tests/test_multimodal_ivf.py. The
    brute-force recompute is the validation harness's cost only — the
    production form is the bare IVF probe (ann_ivf_pq_residual_topk's
    docstring carries the family's scale shape)."""
    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    queries = emb.orderBy("vec_id").limit(20)
    cents = similarity.ivf_train_centroids(emb, n_centroids=8, seed=42)
    ivf = similarity.ivf_topk(
        emb, queries, k=10, n_centroids=8, nprobe=4, centroids=cents
    )
    exact = similarity.brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    # ONE lineage: per-query counts and the panel totals both derive
    # from the same left join (a second ivf.groupBy would re-execute the
    # whole k-means-probe + re-rank plan); the panel sums ride a global
    # window over the 20-row counts frame — a single-partition exchange
    # of 20 rows, not a re-evaluation
    from pyspark.sql.window import Window

    counts = (
        ivf.join(
            exact.withColumn("_hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_results"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("_n_hit"),
        )
    )
    w = Window.partitionBy()
    return counts.select(
        "query_id",
        F.col("n_results").cast("int").alias("n_results"),
        (
            F.sum("_n_hit").over(w)
            >= F.lit(_IVF_TRAINED_MEAN_RECALL_FLOOR)
            * F.sum("n_results").over(w)
        ).alias("recall_ok"),
    )


# ---------------------------------------------------------------------------
# Product quantization (operators/pq.py — Jégou et al. 2011)


def _pq_chain_sql(vec: str, anch: str, s: int) -> str:
    """Left-associative 8-term squared-L2 chain for subspace ``s`` —
    IDENTICAL evaluation order to pq._sq_dist, so the doubles are
    bit-equal ((x)*(x), never POWER: libm pow need not equal x*x)."""
    from velostream_spark.operators.pq import PQ_SUBDIM

    lo = s * PQ_SUBDIM
    terms = [
        f"((CAST({vec}[{i + 1}] AS DOUBLE) - CAST({anch}[{i + 1}] AS DOUBLE))"
        f" * (CAST({vec}[{i + 1}] AS DOUBLE) - CAST({anch}[{i + 1}] AS DOUBLE)))"
        for i in range(lo, lo + PQ_SUBDIM)
    ]
    return "(" + " + ".join(terms) + ")"


def _pq_ctes() -> str:
    """Anchor selection + per-vector/anchor subspace distances + argmin
    codes: the deterministic codebook rule (MIN(vec_id) per NTILE bucket)
    and the same tie rules as the Spark side (argmin ties → smallest code)."""
    from velostream_spark.operators.pq import PQ_K, PQ_M

    d_cols = ", ".join(
        f"{_pq_chain_sql('e.embedding', 'a.av', s)} AS d{s + 1}" for s in range(PQ_M)
    )
    code_cols = ", ".join(
        f"(list(j ORDER BY d{s + 1}, j))[1] AS code_{s + 1}, MIN(d{s + 1}) AS e{s + 1}"
        for s in range(PQ_M)
    )
    return f"""
b AS (
  SELECT vec_id, NTILE({PQ_K}) OVER (ORDER BY vec_id) AS _b FROM embeddings
),
aid AS (SELECT _b, MIN(vec_id) AS aid FROM b GROUP BY _b),
anch AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY aid.aid) - 1 AS INT) AS j,
         e.embedding AS av
  FROM aid JOIN embeddings e ON e.vec_id = aid.aid
),
dists AS (
  SELECT e.vec_id, a.j, {d_cols}
  FROM embeddings e CROSS JOIN anch a
),
codes AS (
  SELECT vec_id, {code_cols}
  FROM dists GROUP BY vec_id
)"""


def _pq_encode_oracle() -> str:
    from velostream_spark.operators.pq import PQ_M

    code_sel = ", ".join(f"code_{s + 1}" for s in range(PQ_M))
    err_chain = " + ".join(f"e{s + 1}" for s in range(PQ_M))
    return f"""
WITH {_pq_ctes()}
SELECT vec_id, {code_sel}, ROUND({err_chain}, 6) AS qerr
FROM codes
"""


@query(
    "pq_encode",
    oracle=_pq_encode_oracle(),
    tags=("pipeline", "similarity", "ann", "pq", "beyond-reference"),
)
def pq_encode_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: every 64-dim vector → 8 nearest-centroid
    codes (16 centroids per subspace, deterministic ntile-anchor codebook)
    + rounded total quantization error. The 100-TB memory shape for ANN:
    8 small ints replace 256 bytes of floats. ONE Arrow stage over the
    scan (codebook in the closure, vectorized left-associative chains —
    bit-equal to the oracle's literal SQL chains, operators/pq.py module
    doc), NO shuffle; the pure-Catalyst expression form was measured into
    the 64 KB codegen wall (Janino) and interpreted-mode walls, so Arrow
    IS the right shape here, exactly as for ivf_topk. Production trains
    per-subspace k-means with the grouped-Arrow machinery of
    `ivf_trained`; the ntile rule is the exact-oracle fixture."""
    from velostream_spark.operators import pq
    from velostream_spark.registry import memo_plan

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    return memo_plan(
        spark,
        ("pq_encode", sf_dir),
        lambda: pq.pq_encode(emb, pq.pq_codebook(emb)),
    )


def _pq_adc_fragments() -> tuple[str, str]:
    """(lut_joins, adc_chain): the shared per-subspace anchor joins and the
    left-associative ADC sum — the SQL mirror of pq._query_luts, used by
    both the plain-ADC and IVF-PQ oracles so the chain can never drift
    between them."""
    from velostream_spark.operators.pq import PQ_M

    lut_joins = "\n  ".join(
        f"JOIN anch a{s + 1} ON a{s + 1}.j = c.code_{s + 1}" for s in range(PQ_M)
    )
    adc_chain = " + ".join(
        _pq_chain_sql("q.qv", f"a{s + 1}.av", s) for s in range(PQ_M)
    )
    return lut_joins, adc_chain


def _pq_adc_oracle(k: int = 10) -> str:
    lut_joins, adc_chain = _pq_adc_fragments()
    return f"""
WITH {_pq_ctes()},
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, {adc_chain} AS _adc
  FROM codes c
  {lut_joins}
  CROSS JOIN q
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY _adc, neighbor_id)
              AS INTEGER) AS rank,
         _adc
  FROM scored
)
SELECT query_id, neighbor_id, rank, ROUND(_adc, 6) AS adc_dist
FROM ranked WHERE rank <= {k}
"""


@query(
    "ann_pq_adc_topk",
    oracle=_pq_adc_oracle(),
    tags=("pipeline", "similarity", "ann", "pq", "beyond-reference"),
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over PQ codes: corpus vectors participate ONLY through
    their 8 codes — each query's (8 × 16)-entry distance lookup table is
    precomputed once from its raw vector (bounded query set, like the
    codebook) and resolved per code vectorized in the same Arrow pass.
    The corpus is never shuffled (the only exchange is the TopK window on
    query_id), and at 100 TB the scanned candidate payload is the 8-int
    code tuple, not the vector. Exactness: both engines evaluate the
    identical left-associative chains (operators/pq.py module doc), so
    even distance TIES rank identically."""
    from velostream_spark.operators import pq
    from velostream_spark.registry import memo_plan

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    return memo_plan(
        spark,
        ("ann_pq_adc_topk", sf_dir),
        lambda: pq.pq_adc_topk(
            emb, emb.where(F.col("vec_id") < 5), pq.pq_codebook(emb)
        ),
    )


def _ivf_pq_oracle(n_centroids: int = 16, nprobe: int = 4, k: int = 10) -> str:
    """IVF-PQ oracle: the IVF cell CTEs (deterministic even-spaced index,
    6-rounded cosine assignment) composed with the PQ code CTEs (ntile
    anchors, left-associative chains) — candidates are the probed cells'
    members, scored by ADC over their codes. CTE name sets are disjoint
    by construction."""
    lut_joins, adc_chain = _pq_adc_fragments()
    return f"""
WITH {_ivf_cell_ctes(n_centroids)},
{_pq_ctes().lstrip()},
q AS (SELECT vec_id AS query_id, embedding AS qv, embedding::DOUBLE[] AS qvd
      FROM embeddings WHERE vec_id < 5),
q_cells AS (
  SELECT query_id, qv, j AS cell FROM (
    SELECT q.query_id, q.qv, ct.j,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY ROUND(list_dot_product(q.qvd, ct.cv)
                                             / ct.cnorm, 6) DESC, ct.j)
               AS rn
    FROM q CROSS JOIN cents ct
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, {adc_chain} AS _adc
  FROM codes c
  JOIN corpus_cell cc ON cc.vec_id = c.vec_id
  JOIN q_cells q ON q.cell = cc.cell
  {lut_joins}
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY _adc, neighbor_id)
              AS INTEGER) AS rank,
         _adc
  FROM scored
)
SELECT query_id, neighbor_id, rank, ROUND(_adc, 6) AS adc_dist
FROM ranked WHERE rank <= {k}
"""


@query(
    "ann_ivf_pq_topk",
    oracle=_ivf_pq_oracle(),
    tags=("pipeline", "similarity", "ann", "ivf", "pq", "beyond-reference"),
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k — the production ANN composition (FAISS's default
    shape): coarse IVF cells prune the corpus to each query's nprobe
    probed cells, ADC over PQ codes scores the survivors. ONE Arrow pass
    over the corpus computes cell + codes and emits (query, neighbor,
    adc) only for in-cell candidates; the only exchange is the TopK
    window (operators/pq.py::ivf_pq_topk). At 100 TB the scan's output
    is ~nprobe/K of the corpus as id/score pairs — both the index
    (8 B/vector) and the traffic are memory-shaped. Exact oracle: the
    deterministic IVF CTEs and the PQ chains compose verbatim."""
    from velostream_spark.operators import pq
    from velostream_spark.registry import memo_plan

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    return memo_plan(
        spark,
        ("ann_ivf_pq_topk", sf_dir),
        lambda: pq.ivf_pq_topk(
            emb, emb.where(F.col("vec_id") < 5), pq.pq_codebook(emb)
        ),
    )


#: Blocking prefix: group on the first N subspace codes. The full 8-code
#: tuple is the near-exact block (empty on the random test corpus — real
#: boilerplate-heavy corpora collide there); a 4-code prefix (16^4 = 65536
#: blocks over the leading 32 dims) is the candidate-blocking tradeoff
#: production pipelines tune, and yields verifiable blocks at every SF.
PQ_BLOCK_PREFIX = 4


def _pq_code_dedup_oracle() -> str:
    codes = ", ".join(f"code_{s + 1}" for s in range(PQ_BLOCK_PREFIX))
    return f"""
WITH {_pq_ctes()}
SELECT {codes},
       MIN(vec_id) AS keep_id,
       COUNT(*)    AS group_size
FROM codes
GROUP BY {codes}
HAVING COUNT(*) > 1
"""


@query(
    "pq_code_dedup",
    oracle=_pq_code_dedup_oracle(),
    tags=("pipeline", "similarity", "pq", "dedup", "beyond-reference"),
)
def pq_code_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup blocking by PQ code-prefix equality: vectors
    whose first PQ_BLOCK_PREFIX subspace codes coincide quantize to the
    same cell product over the leading dims — a cheap, transitive
    near-dup prefilter (the blocking step production embedding-dedup
    runs before an exact re-check like semdedup's cluster-bounded
    cosine; the prefix length is the recall/cost knob). Emits one row
    per collision block with the min-id survivor and block size.

    Scale shape: the encode Arrow stage (no shuffle) then ONE groupBy on
    the 8-int code tuple — the dedup exchange carries ~40 bytes/vector,
    never the embedding. At 100 TB this is the same shape as dedup_exact
    with codes in place of content hashes."""
    from velostream_spark.operators import pq
    from velostream_spark.registry import memo_plan

    t = tables(spark, sf_dir)
    emb = t["embeddings"]

    def build() -> DataFrame:
        codes = [f"code_{s + 1}" for s in range(PQ_BLOCK_PREFIX)]
        return (
            pq.pq_encode(emb, pq.pq_codebook(emb), compute_qerr=False)
            .groupBy(*codes)
            .agg(
                F.min("vec_id").alias("keep_id"),
                F.count(F.lit(1)).alias("group_size"),
            )
            .where(F.col("group_size") > 1)
        )

    return memo_plan(spark, ("pq_code_dedup", sf_dir), build)


def _pq_res_chain_sql(vec: str, vcent: str, anch: str, acent: str, s: int) -> str:
    """Left-associative 8-term RESIDUAL squared-L2 chain for subspace
    ``s``: each term is ``((v[i]-vc[i]) - (a[i]-ac[i]))²`` — the vector's
    and the anchor's residuals against their own cell centroids, every
    subtraction exactly rounded in the same order numpy performs them
    (``R = E - cents[cell]`` then ``R[i] - ra[j][i]``), so the doubles
    stay bit-equal to operators/pq.py's residual path."""
    from velostream_spark.operators.pq import PQ_SUBDIM

    lo = s * PQ_SUBDIM
    terms = []
    for i in range(lo, lo + PQ_SUBDIM):
        r = (
            f"(({vec}[{i + 1}] - {vcent}[{i + 1}])"
            f" - (CAST({anch}[{i + 1}] AS DOUBLE) - {acent}[{i + 1}]))"
        )
        terms.append(f"({r} * {r})")
    return "(" + " + ".join(terms) + ")"


def _ivf_pq_res_with_block(n_centroids: int = 16, nprobe: int = 4) -> str:
    """Residual IVF-PQ oracle WITH-block (through the ADC ``ranked`` CTE): the IVF cell CTEs provide every vector's
    cell (anchors included — they are corpus rows), the residual codes
    CTE quantizes ``vec - centroid(cell)`` against the anchors' own
    residuals, and ADC scores candidates with the per-probed-cell query
    residual chains. All names disjoint from the raw-PQ CTEs."""
    from velostream_spark.operators.pq import PQ_K, PQ_M

    d_cols = ", ".join(
        f"{_pq_res_chain_sql('e.v', 'ec.cv', 'a.av', 'a.acv', s)} AS d{s + 1}"
        for s in range(PQ_M)
    )
    code_cols = ", ".join(
        f"(list(j ORDER BY d{s + 1}, j))[1] AS code_{s + 1}" for s in range(PQ_M)
    )
    lut_joins = "\n  ".join(
        f"JOIN ranch a{s + 1} ON a{s + 1}.j = c.code_{s + 1}" for s in range(PQ_M)
    )
    adc_chain = " + ".join(
        _pq_res_chain_sql("q.qvd", "qct.cv", f"a{s + 1}.av", f"a{s + 1}.acv", s)
        for s in range(PQ_M)
    )
    return f"""
WITH {_ivf_cell_ctes(n_centroids)},
rb AS (SELECT vec_id, NTILE({PQ_K}) OVER (ORDER BY vec_id) AS _b FROM embeddings),
raid AS (SELECT _b, MIN(vec_id) AS aid FROM rb GROUP BY _b),
ranch AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY raid.aid) - 1 AS INT) AS j,
         e.embedding AS av, ct.cv AS acv
  FROM raid
  JOIN embeddings e ON e.vec_id = raid.aid
  JOIN corpus_cell cc ON cc.vec_id = raid.aid
  JOIN cents ct ON ct.j = cc.cell
),
rdists AS (
  SELECT e.vec_id, a.j, {d_cols}
  FROM corpus_cell e
  JOIN cents ec ON ec.j = e.cell
  CROSS JOIN ranch a
),
rcodes AS (SELECT vec_id, {code_cols} FROM rdists GROUP BY vec_id),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvd
      FROM embeddings WHERE vec_id < 5),
q_cells AS (
  SELECT query_id, qvd, j AS cell FROM (
    SELECT q.query_id, q.qvd, ct.j,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY ROUND(list_dot_product(q.qvd, ct.cv)
                                             / ct.cnorm, 6) DESC, ct.j)
               AS rn
    FROM q CROSS JOIN cents ct
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, {adc_chain} AS _adc
  FROM rcodes c
  JOIN corpus_cell cc ON cc.vec_id = c.vec_id
  JOIN q_cells q ON q.cell = cc.cell
  JOIN cents qct ON qct.j = q.cell
  {lut_joins}
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY _adc, neighbor_id)
              AS INTEGER) AS rank,
         _adc
  FROM scored
)"""


def _ivf_pq_res_oracle_final(n_centroids: int = 16, nprobe: int = 4,
                             k: int = 10) -> str:
    return (
        _ivf_pq_res_with_block(n_centroids, nprobe)
        + f"""
SELECT query_id, neighbor_id, rank, ROUND(_adc, 6) AS adc_dist
FROM ranked WHERE rank <= {k}
"""
    )


@query(
    "ann_ivf_pq_residual_topk",
    oracle=_ivf_pq_res_oracle_final(),
    tags=("pipeline", "similarity", "ann", "ivf", "pq", "beyond-reference"),
)
def ann_ivf_pq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (Jégou §IV.A / FAISS IndexIVFPQ):
    PQ codes quantize ``vec - centroid(cell)`` and ADC tables are built
    per probed cell from the query's residual. The clustered-corpus
    recall fixture (PERF.md, ANN recall, round 10) showed WHY this is the
    production form: raw-vector PQ collapses every member of a tight
    cluster to the same code tuple (16 codes/subspace re-describe the
    coarse location), recall@10 0.126 — residual encoding spends those
    codes on within-cluster structure. Same 100-TB shape as
    ann_ivf_pq_topk: ONE Arrow pass (cell + residual codes + per-batch
    exact top-k), TopK window the only exchange. Exact oracle: residual
    chains are the same exactly-rounded left-associative arithmetic,
    composed from the IVF cell CTEs and the ntile anchors' own
    residuals."""
    from velostream_spark.operators import pq
    from velostream_spark.registry import memo_plan

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    return memo_plan(
        spark,
        ("ann_ivf_pq_residual_topk", sf_dir),
        lambda: pq.ivf_pq_residual_topk(
            emb, emb.where(F.col("vec_id") < 5), pq.pq_codebook(emb)
        ),
    )


def _ivf_pq_refine_oracle(n_centroids: int = 16, nprobe: int = 4,
                          r: int = 50, k: int = 10) -> str:
    """Refine oracle: the residual ADC ``ranked`` CTE keeps top-``r`` per
    query, then the exact rounded-cosine re-rank over their RAW vectors —
    the identical CASE/GREATEST/ROUND formula the ivf_topk oracle uses
    (both engines round to 6 digits BEFORE ordering, so summation-order
    ulps can't flip a rank)."""
    return (
        _ivf_pq_res_with_block(n_centroids, nprobe)
        + f""",
refine AS (
  SELECT rk.query_id, rk.neighbor_id,
         ROUND(CASE WHEN sqrt(list_dot_product(nv.v, nv.v))
                         * sqrt(list_dot_product(qq.qvd, qq.qvd)) > 0
                    THEN list_dot_product(nv.v, qq.qvd)
                         / GREATEST(sqrt(list_dot_product(nv.v, nv.v))
                                    * sqrt(list_dot_product(qq.qvd, qq.qvd)),
                                    1e-30)
                    ELSE 0.0 END, 6) AS cos_sim
  FROM ranked rk
  JOIN corpus nv ON nv.vec_id = rk.neighbor_id
  JOIN q qq ON qq.query_id = rk.query_id
  WHERE rk.rank <= {r}
),
refined AS (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id)
              AS INTEGER) AS rank,
         cos_sim
  FROM refine
)
SELECT query_id, neighbor_id, rank, cos_sim
FROM refined WHERE rank <= {k}
"""
    )


@query(
    "ann_ivf_pq_refine_topk",
    oracle=_ivf_pq_refine_oracle(),
    tags=("pipeline", "similarity", "ann", "ivf", "pq", "refine",
          "beyond-reference"),
)
def ann_ivf_pq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ + REFINE (FAISS IndexRefineFlat): residual-ADC keeps the
    top-50 candidates per query, their exact rounded cosines re-rank to
    the final top-10. The refine cosines are computed INSIDE the same
    single Arrow pass (the raw batch rows are already in memory — no
    second corpus scan, no vectors in any exchange; the shuffle carries
    one extra double per candidate row), and both ranking windows share
    the one query_id exchange. This is how production ANN closes the
    PQ-quantization recall gap: ADC does the cheap 8-byte-code scan,
    exact math touches only Q x r survivors. Exact oracle end-to-end —
    the ADC stage composes the residual CTEs, the re-rank uses the
    ivf_topk oracle's rounded-cosine formula."""
    from velostream_spark.operators import pq
    from velostream_spark.registry import memo_plan

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    return memo_plan(
        spark,
        ("ann_ivf_pq_refine_topk", sf_dir),
        lambda: pq.ivf_pq_residual_topk(
            emb, emb.where(F.col("vec_id") < 5), pq.pq_codebook(emb),
            refine_r=50,
        ),
    )
