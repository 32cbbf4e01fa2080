"""Training-data pipeline operators as catalog queries: dedup (exact,
MinHash-LSH, n-gram Jaccard, SimHash), similarity search (brute-force +
LSH ANN), and text analysis (lang-ID, quality, token counts, fingerprints).

These are the SURVEY §7 Phase-4 / north-star operators ("beyond the
reference"). Every oracle is generated from the SAME constants as the Spark
implementation (velostream_spark.operators.*_sql builders), so the DuckDB
side cannot drift — including the md5-based hash families chosen expressly
for cross-engine determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velostream_spark.operators import curation, dedup, sampling, similarity, textops
from velostream_spark.registry import query, tables
from velostream_spark.session import spread

# ---------------------------------------------------------------------------
# Text analysis

_TEXT_ANALYSIS_ORACLE = f"""
SELECT doc_id,
       {textops.token_count_sql("text")}                AS n_tokens,
       {textops.bpe_token_count_sql("text")}            AS n_bpe_tokens,
       ROUND({textops.quality_score_sql("text")}, 6)    AS quality,
       {textops.lang_id_sql("text")}                    AS detected_lang,
       {textops.fingerprint_sql("text")}                AS fingerprint
FROM documents
"""


@query("text_analysis", oracle=_TEXT_ANALYSIS_ORACLE, tags=("pipeline", "text"))
def text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID, quality scoring, token counting, fingerprinting — all
    pure Catalyst expressions (no UDFs), one scan, zero shuffles."""
    t = tables(spark, sf_dir)
    txt = F.col("text")
    # Stage normalize/split once per row; every feature derives from the
    # staged columns (CollapseProject keeps multi-referenced non-cheap
    # expressions un-inlined, so the regex+split runs once, not per feature).
    staged = spread(t["documents"]).select(
        "doc_id",
        txt.alias("text"),
        textops.normalize(txt).alias("_norm"),
        textops.words(txt).alias("_words"),
    )
    return staged.select(
        "doc_id",
        textops.token_count_from(F.col("_norm"), F.col("_words")).alias("n_tokens"),
        textops.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.round(
            textops.quality_score_from(F.col("text"), F.col("_norm"), F.col("_words")), 6
        ).alias("quality"),
        textops.lang_id_from(F.col("_words")).alias("detected_lang"),
        F.md5(F.col("_norm")).alias("fingerprint"),
    )


_ROLLING_FP_ORACLE = f"""
SELECT doc_id,
       {textops.rolling_fingerprint_sql("text")} AS rolling_fp
FROM documents
"""


@query("rolling_fingerprint", oracle=_ROLLING_FP_ORACLE, tags=("pipeline", "text"))
def rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-min-hash document fingerprint (edit-robust, 1-hash MinHash)."""
    t = tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        textops.rolling_fingerprint(F.col("text")).alias("rolling_fp"),
    )


# ---------------------------------------------------------------------------
# Exact dedup

_DEDUP_EXACT_ORACLE = f"""
SELECT {textops.fingerprint_sql("text")} AS fingerprint,
       MIN(doc_id) AS keep_id,
       COUNT(*)    AS group_size
FROM documents
GROUP BY 1
"""


@query("dedup_exact", oracle=_DEDUP_EXACT_ORACLE, tags=("pipeline", "dedup"))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content dedup groups: fingerprint → deterministic survivor +
    group size. Shuffle carries 32-byte fingerprints, not documents."""
    t = tables(spark, sf_dir)
    return dedup.exact_duplicate_groups(t["documents"], "text", "doc_id")


# ---------------------------------------------------------------------------
# MinHash + LSH

# COALESCE(text, '') on BOTH twins: a NULL-text doc signs like an empty
# doc on both engines (Spark's array_join over an all-NULL min array gave
# '' while DuckDB's array_to_string(NULL) gave NULL — the span_dedup
# NULL convention, applied here in round 9).
_MINHASH_SIG_ORACLE = f"""
SELECT doc_id,
       array_to_string({dedup.minhash_signature_sql("COALESCE(text, '')", 8, 3)}, ',') AS minhash_sig
FROM documents
"""


@query("minhash_signature", oracle=_MINHASH_SIG_ORACLE, tags=("pipeline", "dedup", "minhash"))
def minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature (8 hashes over 3-gram shingles),
    computed row-local with array expressions — no shuffle, no UDF."""
    t = tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        F.array_join(
            dedup.minhash_signature(F.coalesce(F.col("text"), F.lit("")), 8, 3), ","
        ).alias("minhash_sig"),
    )


def _minhash_pairs_oracle(num_hashes: int = 8, num_bands: int = 4, threshold: float = 0.5) -> str:
    rows_per_band = num_hashes // num_bands
    sig = dedup.minhash_signature_sql("text", num_hashes, 3)
    bands = dedup.band_hashes_sql(sig, num_bands, rows_per_band)
    sh = textops.shingles_sql("text", 3)
    return f"""
    WITH docs AS (
      SELECT doc_id AS _id, {sh} AS _sh, {bands} AS _bands FROM documents
    ),
    banded AS (SELECT _id, unnest(_bands) AS _band FROM docs),
    cand AS (
      SELECT DISTINCT a._id AS id_a, b._id AS id_b
      FROM banded a JOIN banded b ON a._band = b._band AND a._id < b._id
    )
    SELECT c.id_a, c.id_b,
           ROUND(CAST(len(list_intersect(da._sh, db._sh)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(da._sh, db._sh))) AS DOUBLE), 6) AS jacc
    FROM cand c
    JOIN docs da ON c.id_a = da._id
    JOIN docs db ON c.id_b = db._id
    WHERE ROUND(CAST(len(list_intersect(da._sh, db._sh)) AS DOUBLE)
                / CAST(len(list_distinct(list_concat(da._sh, db._sh))) AS DOUBLE), 6)
          >= {threshold}
    """


#: Per-sf_dir memo of the persisted MinHash stage, so repeated invocations
#: (bench steady-state, driver retries) reuse one cache entry instead of
#: re-persisting identical data.
_MINHASH_STAGE: dict[str, DataFrame] = {}


@query(
    "minhash_lsh_pairs",
    oracle=_minhash_pairs_oracle(8, 4, 0.5),
    tags=("pipeline", "dedup", "minhash", "lsh"),
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (banded candidate join + exact
    Jaccard verification) — the sub-quadratic fuzzy-dedup path."""
    t = tables(spark, sf_dir)
    stage = _MINHASH_STAGE.get(sf_dir)
    if stage is None:
        stage = dedup.minhash_stage(
            t["documents"], "text", "doc_id", num_hashes=8, num_bands=4, shingle_n=3
        )
        _MINHASH_STAGE[sf_dir] = stage
    return dedup.minhash_pairs_from_stage(stage, threshold=0.5)


_NGRAM_JACCARD_ORACLE = f"""
WITH sh AS (
  SELECT doc_id AS _id, unnest({textops.shingles_sql("text", 3)}) AS _s FROM documents
),
counts AS (SELECT _id, COUNT(*) AS _n FROM sh GROUP BY _id),
inter AS (
  SELECT a._id AS id_a, b._id AS id_b, COUNT(*) AS _inter
  FROM sh a JOIN sh b ON a._s = b._s AND a._id < b._id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       ROUND(CAST(_inter AS DOUBLE) / CAST(na._n + nb._n - _inter AS DOUBLE), 6) AS jacc
FROM inter i
JOIN counts na ON i.id_a = na._id
JOIN counts nb ON i.id_b = nb._id
WHERE ROUND(CAST(_inter AS DOUBLE) / CAST(na._n + nb._n - _inter AS DOUBLE), 6) >= 0.3
"""


@query(
    "ngram_jaccard_pairs",
    oracle=_NGRAM_JACCARD_ORACLE,
    tags=("pipeline", "dedup", "jaccard"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via the inverted-index join
    (explode shingles → equi-join → per-pair intersection counts)."""
    t = tables(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(
        t["documents"], "text", "doc_id", threshold=0.3, shingle_n=3
    )


# COALESCE on both twins: Spark's explode(words(NULL)) DROPPED NULL-text
# docs while the oracle emitted an all-zeros row — with '' both engines
# emit the empty-doc signature (round-9 NULL convention).
_SIMHASH_ORACLE = f"""
SELECT doc_id, {dedup.simhash_bits_sql("COALESCE(text, '')", 64)} AS simhash
FROM documents
"""


@query("simhash", oracle=_SIMHASH_ORACLE, tags=("pipeline", "dedup", "simhash"))
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signature per document (term-frequency-weighted
    majority vote over per-word md5 bits) as a portable bit string.
    Plan memoized: the 64 vote aggregates cost ~0.9 s of Catalyst
    analysis per fresh build (see registry.memo_plan)."""
    from velostream_spark.registry import memo_plan

    t = tables(spark, sf_dir)
    return memo_plan(
        spark,
        ("simhash", sf_dir),
        lambda: dedup.simhash_signatures(t["documents"], "text", "doc_id", 64),
    )


_SIMHASH_STAGE: dict[str, DataFrame] = {}


# DuckDB twin of the banded-pairs pipeline: same signatures (bit parity is
# pinned by the `simhash` oracle), same 16-bit banding, Hamming via BIT
# xor + bit_count.  md5s are staged once per word (simhash_bits_sql_staged);
# the inline form recomputes md5 per (word, bit) — 64× the hashing.
_SIMHASH_PAIRS_ORACLE = f"""
WITH ms AS (
  SELECT doc_id, list_transform(({textops.words_sql("text")}), x -> md5(x)) AS m
  FROM documents
),
sig AS (
  SELECT doc_id, {dedup.simhash_bits_sql_staged("m", 64)} AS sh FROM ms
),
banded AS (
  SELECT doc_id,
         CAST(b AS VARCHAR) || ':' || substr(sh, CAST(b AS INTEGER) * 16 + 1, 16) AS band
  FROM sig, range(4) t(b)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (band)
  WHERE a.doc_id < b.doc_id
)
SELECT pairs.id_a, pairs.id_b,
       CAST(bit_count(xor(CAST(sa.sh AS BIT), CAST(sb.sh AS BIT))) AS INTEGER)
           AS hamming
FROM pairs
JOIN sig sa ON sa.doc_id = pairs.id_a
JOIN sig sb ON sb.doc_id = pairs.id_b
WHERE bit_count(xor(CAST(sa.sh AS BIT), CAST(sb.sh AS BIT))) <= 3
"""


@query(
    "simhash_pairs",
    oracle=_SIMHASH_PAIRS_ORACLE,
    tags=("pipeline", "dedup", "simhash"),
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (16-bit banded candidates + Hamming ≤ 3
    verify), value-checked against a full DuckDB reimplementation of the
    banding + BIT-xor Hamming pipeline."""
    t = tables(spark, sf_dir)
    sig = _SIMHASH_STAGE.get(sf_dir)
    if sig is None:
        sig = (
            dedup.simhash_signatures(t["documents"], "text", "doc_id", 64)
            .select(F.col("doc_id").alias("_id"), F.col("simhash").alias("_sh"))
            .persist()
        )
        _SIMHASH_STAGE[sf_dir] = sig
    return dedup.simhash_pairs_from_signatures(sig, 64, num_bands=4, max_hamming=3)


# ---------------------------------------------------------------------------
# Embedding similarity

_BRUTE_TOPK_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)) > 0
              THEN list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
              ELSE 0.0 END AS _cos
  FROM c CROSS JOIN q
  WHERE neighbor_id <> query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY _cos DESC, neighbor_id)
              AS INTEGER) AS rank,
         _cos
  FROM scored
)
SELECT query_id, neighbor_id, rank, ROUND(_cos, 6) AS cos_sim
FROM ranked WHERE rank <= 10
"""


@query(
    "ann_brute_force_topk",
    oracle=_BRUTE_TOPK_ORACLE,
    tags=("pipeline", "similarity", "ann"),
)
def ann_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for a broadcast query set — the ANN
    correctness baseline. Queries broadcast; the corpus is never shuffled."""
    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    return similarity.brute_force_topk(
        emb, emb.where(F.col("vec_id") < 5), "embedding", "vec_id", k=10
    )


def _lsh_bucket_sql(vec_expr: str, planes) -> str:
    bits = []
    for plane in planes:
        terms = " + ".join(
            f"({vec_expr})[{i + 1}] * ({float(w)!r})" for i, w in enumerate(plane)
        )
        bits.append(f"CASE WHEN (0.0 + {terms}) >= 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


def _ann_lsh_oracle(k: int = 10, n_planes: int = 6, dim: int = 64, seed: int = 42) -> str:
    planes = similarity.hyperplanes(dim, n_planes, seed)
    bucket = _lsh_bucket_sql("embedding::DOUBLE[]", planes)
    return f"""
    WITH d AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, {bucket} AS _bucket FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, _bucket FROM d WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, d.vec_id AS neighbor_id,
             CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)) > 0
                  THEN list_dot_product(qv, v)
                       / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
                  ELSE 0.0 END AS _cos
      FROM d JOIN q ON d._bucket = q._bucket
      WHERE d.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY _cos DESC, neighbor_id)
                  AS INTEGER) AS rank,
             _cos
      FROM scored
    )
    SELECT query_id, neighbor_id, rank, ROUND(_cos, 6) AS cos_sim
    FROM ranked WHERE rank <= {k}
    """


@query(
    "ann_lsh_topk",
    oracle=_ann_lsh_oracle(),
    tags=("pipeline", "similarity", "ann", "lsh"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (random-hyperplane sign buckets,
    exact re-rank in bucket) — the 100-TB ANN path. The oracle embeds the
    same seeded hyperplanes, so bucket assignment matches bit-for-bit."""
    from velostream_spark.registry import memo_plan

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    # plan memoized: 6 hyperplanes x 64 literal weights per side make a
    # large expression tree whose analysis rivals execution at bench
    # scale; an LSH index's plan is derived once and queried many times
    return memo_plan(
        spark,
        ("ann_lsh_topk", sf_dir),
        lambda: similarity.lsh_topk(
            emb,
            emb.where(F.col("vec_id") < 5),
            "embedding",
            "vec_id",
            k=10,
            n_planes=6,
            dim=64,
            seed=42,
        ),
    )


def _near_dup_oracle(threshold: float = 0.9, n_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    planes = similarity.hyperplanes(dim, n_planes, seed)
    bucket = _lsh_bucket_sql("embedding::DOUBLE[]", planes)
    return f"""
    WITH d AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, {bucket} AS _bucket FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) > 0
                      THEN list_dot_product(a.v, b.v)
                           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                      ELSE 0.0 END, 6) AS cos_sim
    FROM d a JOIN d b ON a._bucket = b._bucket AND a.vec_id < b.vec_id
    WHERE ROUND(CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) > 0
                     THEN list_dot_product(a.v, b.v)
                          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                     ELSE 0.0 END, 6) >= {threshold}
    """


@query(
    "embedding_near_dup",
    oracle=_near_dup_oracle(threshold=0.35, n_planes=4),
    tags=("pipeline", "dedup", "embedding"),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within LSH buckets —
    semantic dedup at sub-quadratic candidate cost.

    The synthetic test embeddings are near-orthogonal random vectors
    (max pairwise cosine ≈ 0.51 at sf0.01), so the demo threshold is 0.35
    with 4 hyperplanes to exercise a non-empty result; production use with
    real embeddings would run τ ≈ 0.9 and more planes."""
    t = tables(spark, sf_dir)
    return similarity.embedding_near_dup_pairs(
        t["embeddings"], "embedding", "vec_id", threshold=0.35, n_planes=4, dim=64, seed=42
    )


def _closure_oracle(select: str) -> str:
    """Wrap the MinHash-pairs oracle in a recursive transitive closure:
    pairs → undirected edges → per-doc min reachable id (= its near-dup
    component; unpaired docs are their own component). The pairs oracle
    (itself a WITH query) nests verbatim as the `pairs` CTE body."""
    return f"""
    WITH RECURSIVE pairs AS (
      {_minhash_pairs_oracle(8, 4, 0.5)}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(id, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
    ),
    comps AS (SELECT id AS doc_id, MIN(comp) AS component FROM reach GROUP BY id)
    {select}
    """


@query(
    "neardup_components",
    oracle=_closure_oracle("SELECT doc_id, component FROM comps"),
    tags=("pipeline", "dedup", "clustering", "beyond-reference"),
)
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: MinHash-LSH pairs → connected
    components by iterative hash-min label propagation (the stage between
    pair generation and canonical-survivor dedup; O(diameter) shuffle
    rounds, lineage truncated per round)."""
    t = tables(spark, sf_dir)
    stage = _MINHASH_STAGE.get(sf_dir)
    if stage is None:
        stage = dedup.minhash_stage(
            t["documents"], "text", "doc_id", num_hashes=8, num_bands=4, shingle_n=3
        )
        _MINHASH_STAGE[sf_dir] = stage
    pairs = dedup.minhash_pairs_from_stage(stage, threshold=0.5)
    comp = dedup.connected_components(pairs)
    docs = t["documents"].select("doc_id")
    return docs.join(comp, docs["doc_id"] == comp["id"], "left").select(
        "doc_id", F.coalesce("comp", "doc_id").alias("component")
    )


@query(
    "dedup_canonical",
    oracle=_closure_oracle(
        """SELECT d.doc_id, d.lang, d.n_chars
           FROM documents d JOIN comps c ON d.doc_id = c.doc_id
           WHERE c.component = d.doc_id"""
    ),
    tags=("pipeline", "dedup", "clustering", "beyond-reference"),
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup final filter: keep ONE canonical document per near-dup
    cluster (the min doc id — the same deterministic survivor rule as
    dedup_exact) plus every unpaired document."""
    t = tables(spark, sf_dir)
    stage = _MINHASH_STAGE.get(sf_dir)
    if stage is None:
        stage = dedup.minhash_stage(
            t["documents"], "text", "doc_id", num_hashes=8, num_bands=4, shingle_n=3
        )
        _MINHASH_STAGE[sf_dir] = stage
    pairs = dedup.minhash_pairs_from_stage(stage, threshold=0.5)
    return dedup.dedup_canonical(
        t["documents"].select("doc_id", "lang", "n_chars"), pairs
    )


_STRATIFIED_ORACLE = f"""
SELECT doc_id, lang, n_chars
FROM documents
WHERE {sampling.sample_hash_sql("doc_id")} <
      CASE WHEN lang = 'en' THEN 300
           WHEN lang = 'de' THEN 700
           ELSE 1000 END
"""


@query(
    "stratified_sample",
    oracle=_STRATIFIED_ORACLE,
    tags=("pipeline", "sampling", "beyond-reference"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (corpus rebalancing): downsample
    over-represented languages with a reproducible arithmetic hash — the
    same rows survive on every engine and every re-run (rand()/sampleBy
    can promise neither)."""
    t = tables(spark, sf_dir)
    return sampling.stratified_sample(
        t["documents"].select("doc_id", "lang", "n_chars"),
        "doc_id",
        "lang",
        {"en": 0.3, "de": 0.7},
        default_fraction=1.0,
    )


_PACKING_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang,
         len(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')) AS tokens
  FROM documents
),
packed AS (
  SELECT doc_id, lang, tokens,
         CAST(FLOOR((SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - tokens) / 256.0) AS BIGINT) AS pack_id
  FROM toks
)
SELECT lang, pack_id,
       COUNT(*)    AS n_docs,
       CAST(SUM(tokens) AS BIGINT) AS total_tokens
FROM packed
GROUP BY lang, pack_id
"""


@query(
    "sequence_packing",
    oracle=_PACKING_ORACLE,
    tags=("pipeline", "packing", "beyond-reference"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy linear sequence packing: documents (deterministic order, per
    language) packed into 256-token-budget bins — the batch construction
    step before tokenization; one WindowExec pass, shuffle only on the
    stratum key."""
    t = tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id",
        "lang",
        F.size(F.split(F.regexp_replace(F.trim("text"), r"\s+", " "), " ")).alias(
            "tokens"
        ),
    )
    packed = sampling.pack_sequences(toks, "doc_id", "tokens", 256, "lang")
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap against a held-out set)

_DECONTAMINATE_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest(({textops.shingles_sql("text", 5)})) AS s FROM documents
),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
corpus AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
counts AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id),
hits AS (
  SELECT corpus.doc_id, COUNT(*) AS n_hits
  FROM corpus JOIN bench USING (s) GROUP BY corpus.doc_id
)
SELECT c.doc_id, c.n_shingles,
       COALESCE(h.n_hits, 0)      AS n_hits,
       COALESCE(h.n_hits, 0) >= 3 AS contaminated
FROM counts c LEFT JOIN hits h ON c.doc_id = h.doc_id
"""


@query(
    "decontaminate",
    oracle=_DECONTAMINATE_ORACLE,
    tags=("pipeline", "dedup", "decontamination", "beyond-reference"),
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ≥3 distinct
    5-gram shingles with a held-out benchmark set (here: every 50th doc, a
    deterministic stand-in for an eval suite) — the n-gram overlap check
    LLM training pipelines run before training.

    Scale shape: the inverted-index join — explode distinct shingles, build
    the benchmark shingle set (aggregated, so the join side is deduped and
    broadcast-able when the benchmark is small, the common case), equi-join
    on the shingle, per-document count. No pairwise document comparison
    anywhere; shuffle carries (shingle, doc_id) only.

    The explicit broadcast hint on the benchmark side is LOAD-BEARING on
    the 'held-out eval suites are small' assumption (true for every real
    benchmark: thousands of documents, not millions). For an unusually
    large held-out set, drop the hint and let AQE pick the join strategy
    from the deduped side's actual runtime size.
    """
    t = tables(spark, sf_dir)
    sh = t["documents"].select(
        "doc_id", F.explode(textops.shingles(F.col("text"), 5)).alias("s")
    )
    is_bench = F.col("doc_id") % 50 == 0
    bench = sh.where(is_bench).select("s").distinct()
    corpus = sh.where(~is_bench)
    counts = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        corpus.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        counts.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= 3).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus-statistical quality scoring (unigram LM)

_LM_QUALITY_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest(({textops.words_sql("text")})) AS tok
  FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS c FROM w GROUP BY tok),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM vocab),
scored AS (
  SELECT w.doc_id,
         COUNT(*) AS n_tokens,
         ROUND(-AVG(ln(CAST(vocab.c AS DOUBLE) / tot.n)), 6) AS avg_nll
  FROM w JOIN vocab USING (tok) CROSS JOIN tot
  GROUP BY w.doc_id
)
SELECT doc_id, n_tokens, avg_nll,
       CASE WHEN avg_nll <= 8.0 THEN 'keep'
            WHEN avg_nll <= 10.0 THEN 'review'
            ELSE 'drop' END AS band
FROM scored
"""


@query(
    "lm_quality_score",
    oracle=_LM_QUALITY_ORACLE,
    tags=("pipeline", "quality", "lm", "beyond-reference"),
)
def lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram-LM quality score (the CCNet-style perplexity
    filter, distributed): token frequencies are learned from the corpus
    itself in one hash aggregation, then every document is scored by the
    average negative log-likelihood of its tokens and banded keep/review/
    drop.

    Scale shape: two shuffles total — vocab build (groupBy token, map-side
    combined) and the token→frequency equi-join (AQE handles the inherent
    head-word skew) — then a per-document aggregation. The corpus total is
    a broadcast scalar. No UDFs, no collect; vocab is never driver-resident.

    Banding convention: thresholds compare the ROUNDED (6-dp) avg_nll with
    <=, identically in both engines, so a document landing exactly on a
    band edge cannot band differently from float summation order.
    """
    t = tables(spark, sf_dir)
    w = t["documents"].select(
        "doc_id", F.explode(textops.words(F.col("text"))).alias("tok")
    )
    vocab = w.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("n"))
    scored = (
        w.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(-F.avg(F.log(F.col("c").cast("double") / F.col("n"))), 6).alias(
                "avg_nll"
            ),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "avg_nll",
        F.when(F.col("avg_nll") <= 8.0, F.lit("keep"))
        .when(F.col("avg_nll") <= 10.0, F.lit("review"))
        .otherwise(F.lit("drop"))
        .alias("band"),
    )


# ---------------------------------------------------------------------------
# PII / URL scrubbing

#: The synthetic documents contain no PII, so deterministic PII spans are
#: injected FROM doc_id inside the query — both engines build the identical
#: augmented text, and the oracle verifies the SCRUBBING itself (the full
#: cleaned text participates in the value hash).
_PII_AUG_SQL = (
    "('Contact user' || CAST(doc_id AS VARCHAR) || '@example.com or "
    "+1-555-01' || CAST(doc_id AS VARCHAR) || ' via https://ex.com/u/' || "
    "CAST(doc_id AS VARCHAR) || ' -- ' || text)"
)

_PII_SCRUB_ORACLE = f"""
SELECT doc_id,
       {textops.scrub_pii_sql(_PII_AUG_SQL)}         AS clean_text,
       {textops.pii_count_sql(_PII_AUG_SQL)}         AS n_redactions,
       length({textops.scrub_pii_sql(_PII_AUG_SQL)}) AS clean_len
FROM documents
"""


@query("pii_scrub", oracle=_PII_SCRUB_ORACLE, tags=("pipeline", "text", "scrub"))
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data cleanup: redact emails, URLs, and phone-number runs
    (textops.PII_PATTERNS — one shared pattern table drives this plan AND
    the DuckDB oracle). Pure Catalyst regexp_replace/regexp_count chain:
    one scan, no Python — at 100 TB this is embarrassingly parallel
    per-partition text rewriting inside whole-stage codegen. (The
    round-robin repartition spreads the regex CPU over every core — the
    test corpus is one parquet file = one scan partition; a many-file
    production table already has the parallelism.)"""
    t = tables(spark, sf_dir)
    aug = F.concat(
        F.lit("Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-01"),
        F.col("doc_id").cast("string"),
        F.lit(" via https://ex.com/u/"),
        F.col("doc_id").cast("string"),
        F.lit(" -- "),
        F.col("text"),
    )
    clean = textops.scrub_pii(aug)
    return spread(t["documents"]).select(
        "doc_id",
        clean.alias("clean_text"),
        textops.pii_count(aug).cast("long").alias("n_redactions"),
        F.length(clean).cast("long").alias("clean_len"),
    )


# ---------------------------------------------------------------------------
# Within-document repetition features (Gopher §A1.1 repetition signals)

_REPETITION_ORACLE = f"""
SELECT doc_id,
       ROUND({textops.top_word_frac_sql("text")}, 6)    AS top_word_frac,
       ROUND({textops.dup_ngram_frac_sql("text", 2)}, 6) AS dup_2gram_frac,
       ROUND({textops.dup_ngram_frac_sql("text", 3)}, 6) AS dup_3gram_frac
FROM documents
"""


@query("repetition_filter", oracle=_REPETITION_ORACLE, tags=("pipeline", "text"))
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetitious-text signals (Gopher/C4 family): mode-word fraction and
    duplicate 2-/3-gram occurrence fractions, per document.

    Pure per-row array arithmetic — ZERO data shuffle (the repartition
    carries only the scan's rows once, to spread the CPU-bound per-doc
    work over every core; at 100 TB the scan itself has that parallelism
    and the repartition disappears). All three signals are native JVM
    builtins over ONE staged words array: mode frequency = longest run in
    the sorted array (single O(n) fold), dup n-grams = arrays_zip of
    shifted slices (no per-element lambdas — 2-4× over the naive
    transform/filter forms, measured)."""
    t = tables(spark, sf_dir)
    staged = spread(t["documents"]).select(
        "doc_id", textops.words(F.col("text")).alias("_w")
    )
    w = F.col("_w")
    return staged.select(
        "doc_id",
        F.round(textops.top_word_frac_from(w), 6).alias("top_word_frac"),
        F.round(textops.dup_ngram_frac_from(w, 2), 6).alias("dup_2gram_frac"),
        F.round(textops.dup_ngram_frac_from(w, 3), 6).alias("dup_3gram_frac"),
    )


# ---------------------------------------------------------------------------
# Gopher-style composite quality rules

# COALESCE on both twins (round-9 NULL convention): NULL text scores like
# an empty doc — n_words 1, zero-length word, passes=false — identically.
_GF = textops.gopher_features_sql("COALESCE(text, '')")
_GOPHER_ORACLE = f"""
SELECT doc_id,
       {_GF['n_words']}                    AS n_words,
       ROUND({_GF['mean_word_len']}, 6)    AS mean_word_len,
       {_GF['stop_hits']}                  AS stop_hits,
       ({_GF['n_words']} BETWEEN {textops.GOPHER_MIN_WORDS} AND {textops.GOPHER_MAX_WORDS})
           AND ({_GF['mean_word_len']} BETWEEN {textops.GOPHER_MIN_MEAN_WORD_LEN}
                AND {textops.GOPHER_MAX_MEAN_WORD_LEN})
           AND ({_GF['stop_hits']} >= {textops.GOPHER_MIN_STOPWORD_HITS})
           AND ({_GF['symbol_ratio']} <= {textops.GOPHER_MAX_SYMBOL_RATIO})
                                           AS passes
FROM documents
"""


@query("gopher_quality_filter", oracle=_GOPHER_ORACLE, tags=("pipeline", "text"))
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality rules (Rae et al. 2021 §A1.1): word
    count bounds, mean word length band, stop-word probe (≥2 distinct of
    the published set), symbol-to-word ceiling — one boolean verdict plus
    the raw signals (shared constant table with the oracle, textops.GOPHER_*).

    Pure Catalyst: one scan, zero data shuffles, every feature native JVM
    arithmetic over one staged normalize/split (no interpreted lambdas); a
    100-TB filter pass is map-only and the verdict predicate pushes into
    downstream scans when materialized as a partition column."""
    t = tables(spark, sf_dir)
    txt = F.coalesce(F.col("text"), F.lit(""))  # round-9 NULL convention
    staged = t["documents"].select(
        "doc_id",
        txt.alias("text"),
        textops.normalize(txt).alias("_norm"),
        textops.words(txt).alias("_words"),
    )
    f = textops.gopher_features_from(
        F.col("text"), F.col("_norm"), F.col("_words")
    )
    passes = (
        f["n_words"].between(textops.GOPHER_MIN_WORDS, textops.GOPHER_MAX_WORDS)
        & f["mean_word_len"].between(
            textops.GOPHER_MIN_MEAN_WORD_LEN, textops.GOPHER_MAX_MEAN_WORD_LEN
        )
        & (f["stop_hits"] >= textops.GOPHER_MIN_STOPWORD_HITS)
        & (f["symbol_ratio"] <= textops.GOPHER_MAX_SYMBOL_RATIO)
    )
    return staged.select(
        "doc_id",
        f["n_words"].alias("n_words"),
        F.round(f["mean_word_len"], 6).alias("mean_word_len"),
        f["stop_hits"].alias("stop_hits"),
        passes.alias("passes"),
    )


# ---------------------------------------------------------------------------
# Document chunking (context-window prep with overlap)

# COALESCE on both twins (round-9 NULL convention): a NULL doc chunks
# like an empty doc (one empty chunk), with exact token counts not -1.
_CHUNK_W = f"""({textops.words_sql("COALESCE(text, '')")})"""
_CHUNK_ORACLE = f"""
SELECT doc_id,
       CAST((s.start - 1) / {textops.CHUNK_STRIDE} AS BIGINT)  AS chunk_id,
       array_to_string(list_slice({_CHUNK_W}, s.start, s.start + {textops.CHUNK_WORDS} - 1), ' ')
                                                        AS chunk_text,
       CAST(len(list_slice({_CHUNK_W}, s.start, s.start + {textops.CHUNK_WORDS} - 1)) AS BIGINT)
                                                        AS n_chunk_words
FROM documents,
     UNNEST({textops.chunk_starts_sql(f'len{_CHUNK_W}')}) AS s(start)
"""


@query("doc_chunking", oracle=_CHUNK_ORACLE, tags=("pipeline", "text"))
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into {CHUNK_WORDS}-word chunks with {CHUNK_WORDS -
    CHUNK_STRIDE}-word overlap (textops.CHUNK_* constants shared with the
    oracle). posexplode of the per-row start-offset array — map-side
    Generate, zero shuffles; at 100 TB chunking is a pure scan transform
    whose output feeds tokenize/pack stages without a repartition."""
    t = tables(spark, sf_dir)
    w = textops.words(F.coalesce(F.col("text"), F.lit("")))  # NULL convention
    staged = t["documents"].select("doc_id", w.alias("_w"))
    starts = textops.chunk_starts(F.size(F.col("_w")))
    return staged.select(
        "doc_id", "_w", F.posexplode(starts).alias("chunk_id", "_start")
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join(
            F.slice(F.col("_w"), F.col("_start"), textops.CHUNK_WORDS), " "
        ).alias("chunk_text"),
        F.size(F.slice(F.col("_w"), F.col("_start"), textops.CHUNK_WORDS))
        .cast("long")
        .alias("n_chunk_words"),
    )


# ---------------------------------------------------------------------------
# Round-8 corpus-level curation: global span dedup, mixing, global shuffle

_SPAN_DEDUP_ORACLE = curation.span_dedup_sql("documents", "text", "doc_id")


@query("span_dedup", oracle=_SPAN_DEDUP_ORACLE, tags=("pipeline", "dedup", "curation"))
def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-GLOBAL span dedup: every {curation.SPAN_WORDS}-word
    span occurring in >1 document survives only in the min-doc_id document;
    documents come back reassembled with drop counts.

    Scale shape (operators/curation.py): the corpus-wide shuffles carry
    (span_md5, doc_id, span_idx) and the per-doc drop lists — span TEXT
    never crosses a shuffle; texts are rebuilt scan-side from each doc's
    own word array. The repartition below is the bench-scale substitute
    for multi-file scan parallelism (single-file corpus = one scan task)."""
    t = tables(spark, sf_dir)
    return curation.span_dedup(spread(t["documents"]), "text", "doc_id")


_CORPUS_MIX_ORACLE = curation.corpus_mix_sql("documents", "lang", "doc_id")


@query("corpus_mix", oracle=_CORPUS_MIX_ORACLE, tags=("pipeline", "sampling", "curation"))
def corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted corpus mixing (Pile/DoReMi-style epoch weights):
    en 2.4 epochs -> two full copies + a deterministic 40% third; es 0.35
    -> deterministic downsample. Pure scan-side plan — a literal CASE for
    the weight and explode(slice(sequence)) for the copies; ZERO shuffles,
    bit-reproducible across engines (integer milli-weight thresholds vs
    the shared sample hash, never float RNG)."""
    t = tables(spark, sf_dir)
    return curation.corpus_mix(t["documents"], "lang", "doc_id")


_GLOBAL_SHUFFLE_ORACLE = curation.global_shuffle_sql("documents", "doc_id")


@query("global_shuffle", oracle=_GLOBAL_SHUFFLE_ORACLE, tags=("pipeline", "sampling", "curation"))
def global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order permutation WITHOUT a global
    sort: rank by (md5(seed||id), id) computed as per-shard row_number
    (shard = leading byte of the order key, so shard ranges tile the total
    order) + broadcast 256-row shard base offsets. The oracle is the
    single-sort ROW_NUMBER formulation the distributed plan must equal —
    at 100 TB the per-shard sorts parallelize and nothing funnels into one
    partition."""
    t = tables(spark, sf_dir)
    return curation.global_shuffle(t["documents"], "doc_id")


# Composed end-to-end curation pipeline: quality gate -> exact dedup ->
# epoch mixing -> sequence packing -> global shuffle, as ONE lazy plan.

_PIPE_PACK_BUDGET = 512
_PIPE_MIX_FACTOR = curation.MIX_MAX_EPOCHS + 1  # composite (doc, epoch) id


def _pipeline_oracle() -> str:
    gf = textops.gopher_features_sql("text")
    arms = " ".join(
        f"WHEN '{v}' THEN {m}" for v, m in curation.MIX_WEIGHTS_MILLI.items()
    )
    epoch_rows = ", ".join(f"({e})" for e in range(1, curation.MIX_MAX_EPOCHS + 1))
    return f"""
WITH q AS (
  SELECT doc_id, lang, text FROM documents
  WHERE ({gf['n_words']} BETWEEN {textops.GOPHER_MIN_WORDS} AND {textops.GOPHER_MAX_WORDS})
    AND ({gf['mean_word_len']} BETWEEN {textops.GOPHER_MIN_MEAN_WORD_LEN}
         AND {textops.GOPHER_MAX_MEAN_WORD_LEN})
    AND ({gf['stop_hits']} >= {textops.GOPHER_MIN_STOPWORD_HITS})
    AND ({gf['symbol_ratio']} <= {textops.GOPHER_MAX_SYMBOL_RATIO})
), d AS (
  SELECT doc_id, lang, text,
         MIN(doc_id) OVER (PARTITION BY {textops.fingerprint_sql('text')}) AS keep_id
  FROM q
), surv AS (
  SELECT doc_id, lang, {textops.token_count_sql('text')} AS n_tokens
  FROM d WHERE doc_id = keep_id
), copies AS (
  SELECT doc_id, lang, n_tokens,
         (w // 1000) + CASE WHEN ({sampling.sample_hash_sql('doc_id')}) < (w % 1000)
                            THEN 1 ELSE 0 END AS n_copies
  FROM (SELECT *, CASE lang {arms} ELSE {curation.MIX_DEFAULT_MILLI} END AS w FROM surv)
), m AS (
  SELECT doc_id, lang, n_tokens, CAST(e.epoch AS INT) AS epoch
  FROM copies CROSS JOIN (VALUES {epoch_rows}) AS e(epoch)
  WHERE e.epoch <= n_copies
), p AS (
  SELECT *,
         CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang, epoch ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens) / {_PIPE_PACK_BUDGET}.0)
              AS BIGINT) AS pack_id,
         doc_id * {_PIPE_MIX_FACTOR} + epoch AS mix_id
  FROM m
)
SELECT doc_id, lang, epoch, n_tokens, pack_id,
       ROW_NUMBER() OVER (
         ORDER BY md5('{curation.SHUFFLE_SEED}' || CAST(mix_id AS VARCHAR)), mix_id
       ) - 1 AS global_pos
FROM p
"""


@query("curation_pipeline", oracle=_pipeline_oracle(), tags=("pipeline", "curation"))
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation as ONE lazy Catalyst plan:
    Gopher quality gate (scan-side predicate) -> exact-content dedup
    (min-id survivor window over the fingerprint) -> epoch-weighted corpus
    mixing (scan-side explode) -> per-(lang, epoch) sequence packing (one
    WindowExec) -> sort-free global shuffle over the composite (doc,
    epoch) id. Every stage reuses the standalone operator (and its shared
    constants), so this entry proves the operators COMPOSE — the oracle is
    the same chain as DuckDB CTEs. At 100 TB the plan shuffles token
    counts and ids, never document text past the fingerprint stage.

    Cost note (measured): global_shuffle's 256-shard count pass reads a
    column-pruned copy of the upstream lineage (Catalyst drops the pack
    window from it), but that copy still ends in the SAME dedup exchange
    as the main branch — the survivor window's key (_fp, n_tokens) keeps
    the token count alive in both — so AQE reuses the exchange and the
    text stage runs once per execution. Sharing it cut executor run time
    by ~40 % and raised throughput by ~1/3 on 20 000 documents (4 cores,
    perfbench doc_curation); no cache or localCheckpoint is needed. At
    100 TB production would WRITE the packed corpus (it is the
    deliverable) and shuffle over the written table, making the count
    pass a count-only scan."""
    t = tables(spark, sf_dir)
    txt = F.col("text")
    staged = spread(t["documents"]).select(
        "doc_id",
        "lang",
        txt.alias("text"),
        textops.normalize(txt).alias("_norm"),
        textops.words(txt).alias("_words"),
    )
    gf = textops.gopher_features_from(F.col("text"), F.col("_norm"), F.col("_words"))
    # gate_rows, not .where: the predicate would be pushed below the
    # staging projection and re-run the normalize/split regex chain per
    # document (r15-opt; see textops.gate_rows)
    q = textops.gate_rows(
        staged,
        gf["n_words"].between(textops.GOPHER_MIN_WORDS, textops.GOPHER_MAX_WORDS)
        & gf["mean_word_len"].between(
            textops.GOPHER_MIN_MEAN_WORD_LEN, textops.GOPHER_MAX_MEAN_WORD_LEN
        )
        & (gf["stop_hits"] >= textops.GOPHER_MIN_STOPWORD_HITS)
        & (gf["symbol_ratio"] <= textops.GOPHER_MAX_SYMBOL_RATIO),
    )
    from pyspark.sql.window import Window

    # Fingerprint and token count are computed BEFORE the survivor window
    # so the dedup exchange carries only (doc_id, lang, _fp, n_tokens) —
    # ~50 B/row — instead of the text/norm/words payloads (at 100 TB the
    # dedup shuffle volume drops from corpus-sized to id-sized).
    narrow = q.select(
        "doc_id",
        "lang",
        F.md5(F.col("_norm")).alias("_fp"),
        textops.token_count_from(F.col("_norm"), F.col("_words")).alias("n_tokens"),
    )
    # The window key carries n_tokens beside _fp so that global_shuffle's
    # count pass, which needs no token count, cannot prune it: both
    # branches then plan the same dedup exchange and AQE reuses it, so
    # the text stage runs once. Same groups as _fp alone: n_tokens is a
    # function of _norm, and _fp = md5(_norm), so equal _fp means equal
    # n_tokens (barring an md5 collision, where this key is the exact one).
    keep = F.min("doc_id").over(Window.partitionBy("_fp", "n_tokens"))
    surv = (
        narrow.withColumn("_keep", keep)
        .where(F.col("doc_id") == F.col("_keep"))
        .select("doc_id", "lang", "n_tokens")
    )
    mixed = curation.corpus_mix(surv, "lang", "doc_id", keep=("n_tokens",))
    packed = sampling.pack_sequences(
        mixed.withColumn("_stratum", F.concat_ws("#", "lang", "epoch")),
        "doc_id",
        "n_tokens",
        _PIPE_PACK_BUDGET,
        "_stratum",
    ).withColumn(
        "mix_id", F.col("doc_id") * _PIPE_MIX_FACTOR + F.col("epoch")
    )
    return curation.global_shuffle(
        packed, "mix_id", keep=("doc_id", "lang", "epoch", "n_tokens", "pack_id")
    ).select("doc_id", "lang", "epoch", "n_tokens", "pack_id", "global_pos")


# ---------------------------------------------------------------------------
# Tokenizer-vocabulary induction: distributed BPE pair counting

_BPE_PAIRS_TOPN = 50

_BPE_PAIRS_ORACLE = f"""
WITH w AS (
  SELECT unnest(string_split({textops.normalize_sql('text')}, ' ')) AS word
  FROM documents
),
p AS (
  SELECT substr(w.word, CAST(g.i AS INT), 2) AS pair
  FROM w, LATERAL (SELECT unnest(range(1, length(w.word))) AS i) g
)
SELECT pair, COUNT(*) AS n
FROM p
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {_BPE_PAIRS_TOPN}
"""


@query(
    "bpe_pair_counts",
    oracle=_BPE_PAIRS_ORACLE,
    tags=("pipeline", "tokenizer", "vocab", "beyond-reference"),
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge-step statistics (Sennrich et al. 2016): the
    frequency of every adjacent character pair within words across the
    corpus — the quantity one iteration of byte-pair-encoding vocabulary
    training maximizes. Top-N pairs returned (deterministic: count desc,
    pair asc); a driver loop re-invoking this with the previous winner
    merged IS distributed BPE training.

    Scale shape: the pair generation is all map-side (explode words →
    per-word substring pairs, pure codegen — no Python, no data shuffle);
    the only exchange carries (pair, partial_count) — pair cardinality is
    alphabet², thousands of rows regardless of corpus size — followed by
    a TakeOrdered top-N. A 100-TB corpus shuffles kilobytes."""
    t = tables(spark, sf_dir)
    word = F.explode(textops.words(F.col("text"))).alias("word")
    words = t["documents"].select(word)
    pairs = words.select(
        F.explode(
            F.when(
                F.length("word") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.substring(F.col("word"), i, F.lit(2)),
                ),
            ).otherwise(F.array())
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(_BPE_PAIRS_TOPN)
    )


_BPE_TRAIN_N_MERGES = 20

#: bpe_train_merges' validation oracle: DuckDB rebuilds the FIRST merge
#: exactly (the (freq desc, pair asc) argmax over the corpus pair counts —
#: the same statistic the exact-oracle-gated bpe_pair_counts computes) and
#: emits literal TRUE for the BPE monotonicity theorem every later rank
#: must satisfy (each merge creates pairs no more frequent than the pair
#: it consumed, and only shrinks existing counts — so the chosen max never
#: increases).
_BPE_TRAIN_ORACLE = f"""
WITH w AS (
  SELECT unnest(string_split({textops.normalize_sql('text')}, ' ')) AS word
  FROM documents
),
p AS (
  SELECT substr(w.word, CAST(g.i AS INT), 2) AS pair
  FROM w, LATERAL (SELECT unnest(range(1, length(w.word))) AS i) g
),
t1 AS (
  SELECT pair, COUNT(*) AS n FROM p GROUP BY pair
  ORDER BY n DESC, pair LIMIT 1
)
SELECT CAST(g.r AS INT)                                    AS merge_rank,
       CASE WHEN g.r = 1 THEN substr(t1.pair, 1, 1) END    AS first_left,
       CASE WHEN g.r = 1 THEN substr(t1.pair, 2, 1) END    AS first_right,
       CASE WHEN g.r = 1 THEN CAST(t1.n AS BIGINT) END     AS first_freq,
       TRUE                                                AS freq_nonincreasing
FROM (SELECT unnest(range(1, {_BPE_TRAIN_N_MERGES + 1})) AS r) g
CROSS JOIN t1
"""


@query(
    "bpe_train_merges",
    oracle=_BPE_TRAIN_ORACLE,
    tags=("pipeline", "tokenizer", "vocab", "beyond-reference"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer training over the corpus (operators/bpe.py): ONE
    distributed word-count pass (shuffle = (word, partial count), capped
    TopK dictionary), then the exact deterministic merge loop over the
    driver-sized dictionary — the merge TABLE is the training artifact, so
    a driver-sized result is the correct shape, not a collect() smell.

    Driver-checkable validation oracle (r14 verdict task 5): the merge
    loop past rank 1 is iterative state DuckDB cannot replay, but rank 1
    IS SQL — the (freq desc, pair asc) argmax over the corpus pair
    statistics, which DuckDB recomputes exactly — and every later rank
    obeys the BPE monotonicity theorem (the chosen pair frequency never
    increases: a merge only shrinks existing pair counts, and pairs it
    creates inherit at most its own frequency). The entry emits rank-1's
    (left, right, freq) for the exact check plus a per-rank
    ``freq_nonincreasing`` boolean the oracle pins as literal TRUE. The
    FULL merge table stays exact-pinned against the paper example and an
    independent re-derivation in tests/test_bpe.py; the vocab cap (50000)
    never binds on the test corpus (31 distinct words), so the capped
    dictionary's statistics equal the oracle's uncapped ones."""
    from velostream_spark.operators import bpe

    t = tables(spark, sf_dir)
    merges = bpe.bpe_train(
        t["documents"], "text", n_merges=_BPE_TRAIN_N_MERGES
    )
    first = merges[0] if merges else (None, None, None)
    rows = []
    prev = None
    for i, (a, b, n) in enumerate(merges):
        rows.append(
            (
                i + 1,
                first[0] if i == 0 else None,
                first[1] if i == 0 else None,
                first[2] if i == 0 else None,
                prev is None or n <= prev,
            )
        )
        prev = n
    # a corpus exhausting its pairs early yields fewer merges; the oracle
    # always emits the full rank range, so pad the tail (vacuously
    # monotone) instead of presenting a permanent row-count mismatch.
    # EXCEPT when there are no merges at all: the oracle's rank range is
    # a CROSS JOIN against the rank-1 row, so an empty merge list yields
    # 0 oracle rows — padding would invert the mismatch it exists to fix
    if merges:
        for r in range(len(merges) + 1, _BPE_TRAIN_N_MERGES + 1):
            rows.append((r, None, None, None, True))
    return spark.createDataFrame(
        rows,
        "merge_rank int, first_left string, first_right string, "
        "first_freq bigint, freq_nonincreasing boolean",
    )


def _bpe_encode_oracle() -> str:
    from velostream_spark.operators import bpe

    enc = bpe.bpe_encode_sql("text")
    return f"""
WITH e AS (
  SELECT doc_id, {enc} AS enc FROM documents
)
SELECT doc_id,
       CAST(length(replace(COALESCE({textops.normalize_sql('text')}, ''), ' ', ''))
            AS BIGINT) AS n_chars,
       CAST((length(e.enc) - length(replace(e.enc, chr(1), '')))
            - (length(e.enc) - length(replace(e.enc, chr(1) || ' ' || chr(2), ''))) / 3
            AS BIGINT) AS n_tokens,
       md5(e.enc) AS enc_md5
FROM documents JOIN e USING (doc_id)
"""


@query(
    "bpe_encode",
    oracle=_bpe_encode_oracle(),
    tags=("pipeline", "tokenizer", "encode", "beyond-reference"),
)
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE ENCODE: apply a trained merge table to the corpus as
    a scan-side operator (operators/bpe.py::bpe_encode_expr) — the natural
    complement of bpe_train_merges, closing the tokenizer pipeline. For a
    FIXED merge table (ENCODE_MERGES: bpe_train's sf0.01 output, pinned)
    the segmentation is deterministic, so the DuckDB oracle replays the
    identical sentinel-wrap + replace chain generated from the SAME
    constants. Emits per doc: pre-merge char count, encoded token count,
    and md5 of the full encoded string — the hash pins the exact
    segmentation, not just its size.

    Scale shape: zero shuffles — one regexp wrap + 16 string replaces +
    counting arithmetic, all whole-stage codegen (plan-pinned in
    tests/test_bpe.py); the merge table rides in the plan as literals.
    At production vocab sizes (tens of thousands of merges) the same
    greedy walk moves to ONE mapInPandas stage with the rank table
    broadcast — the fixture shape is the oracle-checkable twin."""
    from velostream_spark.operators import bpe

    t = tables(spark, sf_dir)
    txt = F.col("text")
    enc = bpe.bpe_encode_expr(txt)
    n_sym = F.length("enc") - F.length(F.replace(F.col("enc"), F.lit("\x01")))
    n_space = (
        F.length("enc")
        - F.length(F.replace(F.col("enc"), F.lit("\x01 \x02")))
    ) / 3
    return (
        t["documents"]
        .select(
            "doc_id",
            F.length(
                F.replace(
                    F.coalesce(textops.normalize(txt), F.lit("")),
                    F.lit(" "),
                )
            ).cast("long").alias("n_chars"),
            enc.alias("enc"),
        )
        .select(
            "doc_id",
            "n_chars",
            (n_sym - n_space).cast("long").alias("n_tokens"),
            F.md5("enc").alias("enc_md5"),
        )
    )


#: sequence_packing_ffd's per-pack token budget.
_FFD_BUDGET = 256

_FFD_ORACLE = f"""
WITH d AS (
  SELECT lang, COALESCE({textops.token_count_sql('text')}, 0) AS toks
  FROM documents
)
SELECT lang,
       COUNT(*)                                             AS n_docs,
       CAST(SUM(toks) AS BIGINT)                            AS total_tokens,
       CAST(SUM(CASE WHEN toks > {_FFD_BUDGET} THEN 1 ELSE 0 END)
            AS BIGINT)                                      AS n_oversized,
       TRUE AS capacity_ok,
       TRUE AS coverage_ok,
       TRUE AS density_ok
FROM d
GROUP BY lang
"""


@query(
    "sequence_packing_ffd",
    oracle=_FFD_ORACLE,
    tags=("pipeline", "packing", "beyond-reference"),
)
def sequence_packing_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing packing (operators/sampling.py): near-optimal
    (≤ 11/9·OPT + 1 bins) batch construction. Unlike pack_sequences'
    floor form (whose packs may OVERFLOW the budget by one document), FFD
    packs never exceed the budget (oversized singletons aside) — and it
    still uses fewer packs than the budget-respecting sequential split
    (pinned in test_curation.py). Identical shuffle cost: one stratum
    exchange; the bin loop runs inside the stratum's applyInPandas cell.

    Driver-checkable validation oracle (r14 verdict task 5, the
    within_bound pattern): the pack ASSIGNMENT is iterative state DuckDB
    cannot replay, but every FFD GUARANTEE is checkable from exact
    per-stratum aggregates DuckDB rebuilds from ``documents`` directly —
    per lang the exact doc count, token total and oversized count, plus
    three booleans the Spark side computes over the ACTUAL packs and the
    oracle emits as literal TRUE:

    - ``capacity_ok`` — every pack holding >1 document fits the budget
      (single-doc packs may exceed it only for oversized documents);
    - ``coverage_ok`` — every document packed exactly once (pack doc
      counts sum to the stratum count; doc_ids distinct);
    - ``density_ok`` — the first-fit theorem: at most one non-oversized
      pack is ≤ half full, so n_packs ≤ n_oversized +
      floor(2·small_tokens/budget) + 1. A sparse (or overflowing, or
      dropping) packer flips a boolean → driver-caught hash mismatch.
    Exact pack-level parity vs an independent pure-Python FFD stays
    pinned in tests/test_curation.py."""
    t = tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id",
        "lang",
        F.coalesce(textops.token_count(F.col("text")), F.lit(0)).alias(
            "tokens"
        ),
    )
    # r16 (r15 verdict task 8, guide §4): per-pack summaries and the
    # per-stratum distinct-id count come from ONE applyInPandas pass —
    # the old shape consumed the packed frame twice (a per-pack aggregate
    # branch joined to a per-stratum countDistinct branch) and Spark has
    # no CSE across join branches, so the whole tokenize+pack Arrow
    # subtree executed TWICE. Same aggregates, same FFD core
    # (sampling._ffd_assign), one Python subtree in the plan, no join.
    per_pack = sampling.pack_sequences_ffd_summary(
        toks, "doc_id", "tokens", _FFD_BUDGET, "lang"
    )
    half = _FFD_BUDGET / 2
    per_lang = per_pack.groupBy(F.col("_stratum").alias("lang")).agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("pack_tokens").cast("long").alias("total_tokens"),
        F.sum("n_over").cast("long").alias("n_oversized"),
        # capacity: multi-doc packs never exceed the budget; single-doc
        # packs only when the document itself is oversized
        F.min(
            (F.col("pack_tokens") <= F.lit(_FFD_BUDGET))
            | ((F.col("n_docs") == 1) & (F.col("n_over") == 1))
        ).alias("capacity_ok"),
        F.count(F.lit(1)).alias("_n_packs"),
        F.sum(
            F.when(F.col("n_over") == 0, F.col("pack_tokens")).otherwise(0)
        ).alias("_small_tokens"),
        # coverage input: every pack row of a stratum carries the same
        # cell-computed distinct-id count — max() just reads it back
        F.max("stratum_distinct_ids").alias("_n_distinct"),
    )
    return per_lang.select(
        "lang",
        "n_docs",
        "total_tokens",
        "n_oversized",
        "capacity_ok",
        (F.col("_n_distinct") == F.col("n_docs")).alias("coverage_ok"),
        (
            F.col("_n_packs")
            <= F.col("n_oversized")
            + F.floor(F.col("_small_tokens") / F.lit(half))
            + 1
        ).alias("density_ok"),
    )


# ---------------------------------------------------------------------------
# Dataset card: corpus statistics rollup

_CORPUS_STATS_ORACLE = f"""
WITH d AS (
  SELECT lang, source,
         {textops.token_count_sql('text')} AS toks,
         md5({textops.normalize_sql('text')}) AS fp,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 1 ELSE 0 END AS is_empty
  FROM documents
)
SELECT lang, source,
       COUNT(*)                                         AS n_docs,
       CAST(SUM(toks) AS BIGINT)                        AS total_tokens,
       ROUND(AVG(CAST(toks AS DOUBLE)), 6)              AS avg_tokens,
       ROUND(quantile_cont(CAST(toks AS DOUBLE), 0.5), 6)  AS p50_tokens,
       ROUND(quantile_cont(CAST(toks AS DOUBLE), 0.95), 6) AS p95_tokens,
       ROUND(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6) AS dup_rate,
       ROUND(AVG(CAST(is_empty AS DOUBLE)), 6)          AS empty_rate
FROM d
GROUP BY ROLLUP (lang, source)
"""


@query(
    "corpus_stats",
    oracle=_CORPUS_STATS_ORACLE,
    tags=("pipeline", "stats", "dataset-card", "beyond-reference"),
)
def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics rollup: per (lang, source) stratum — and the
    lang and grand-total rollup levels — document counts, token totals,
    mean/median/p95 token lengths, exact-duplicate rate (distinct content
    fingerprints vs docs), and empty-document rate. The report every
    curation run ships next to its corpus.

    Scale shape: ONE corpus scan computing (toks, fp, is_empty) scan-side,
    then a single rollup aggregation — Spark expands the three grouping
    sets map-side. For the plain aggregates the shuffle carries one
    partial-agg row per (grouping set × stratum) — kilobytes at 100 TB —
    but COUNT(DISTINCT fp)'s two-phase expansion shuffles ~one row per
    DISTINCT FINGERPRINT per grouping set, i.e. corpus-scale (the right
    exact plan: partial dedup map-side, keyed on (grouping set, stratum,
    fp), never wider than ~50 B/row). This exact form is the oracle
    entry; at 100 TB run :func:`corpus_stats_approx`, whose HLL sketch
    shuffle is back to kilobytes. No joins, no window, no Python."""
    t = tables(spark, sf_dir)
    txt = F.col("text")
    d = t["documents"].select(
        "lang",
        "source",
        textops.token_count(txt).alias("toks"),
        F.md5(textops.normalize(txt)).alias("fp"),
        F.when(
            txt.isNull() | (F.length(F.trim(txt)) == 0), F.lit(1)
        ).otherwise(F.lit(0)).alias("is_empty"),
    )
    return d.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.round(F.avg(F.col("toks").cast("double")), 6).alias("avg_tokens"),
        F.round(F.percentile(F.col("toks").cast("double"), F.lit(0.5)), 6).alias(
            "p50_tokens"
        ),
        F.round(F.percentile(F.col("toks").cast("double"), F.lit(0.95)), 6).alias(
            "p95_tokens"
        ),
        F.round(
            F.lit(1.0)
            - F.countDistinct("fp").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("dup_rate"),
        F.round(F.avg(F.col("is_empty").cast("double")), 6).alias("empty_rate"),
    )


@query(
    "corpus_stats_approx",
    oracle=f"""
    WITH d AS (
      SELECT lang, source,
             {textops.token_count_sql('text')} AS toks,
             md5({textops.normalize_sql('text')}) AS fp,
             CASE WHEN text IS NULL OR length(trim(text)) = 0
                  THEN 1 ELSE 0 END AS is_empty
      FROM documents
    )
    SELECT lang, source,
           COUNT(*)                                         AS n_docs,
           CAST(SUM(toks) AS BIGINT)                        AS total_tokens,
           ROUND(AVG(CAST(toks AS DOUBLE)), 6)              AS avg_tokens,
           ROUND(quantile_cont(CAST(toks AS DOUBLE), 0.5), 6)  AS p50_tokens,
           ROUND(quantile_cont(CAST(toks AS DOUBLE), 0.95), 6) AS p95_tokens,
           ROUND(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6)
               AS dup_rate,
           ROUND(AVG(CAST(is_empty AS DOUBLE)), 6)          AS empty_rate,
           TRUE AS dup_within_bound
    FROM d
    GROUP BY ROLLUP (lang, source)
    """,
    tags=("pipeline", "stats", "dataset-card", "beyond-reference", "approx"),
)
def corpus_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB production twin of :func:`corpus_stats`: identical
    report, but the duplicate rate uses a HyperLogLog sketch
    (Datasketches ``hll_sketch_agg``, lgConfigK=14 → rsd ≈ 0.81% ≤ the
    0.01 the validation band assumes; r15-opt — the HLL++
    ``approx_count_distinct`` form carried a 1639-long-column fixed
    buffer per sketch through the rollup aggregate, the Datasketches
    form is one growable binary buffer per stratum via
    ObjectHashAggregate, branch measured 0.71 → 0.14 s at sf0.1,
    OPTIMIZATION_r15.md §1) so the distinct shuffle
    carries ONE fixed-size HLL sketch per (grouping set × stratum) —
    kilobytes — instead of the exact form's one row per distinct
    fingerprint per grouping set (corpus-scale). HLL estimates differ
    across engines, so the entry carries the r13-verdict validation
    shape: exact distinct fingerprints recomputed in the same query (the
    emitted dup_rate is the exact one, matching the exact twin) plus an
    all-true ``dup_within_bound`` asserting the HLL distinct within 4x
    rsd of the exact — a bound violation is a driver-caught hash
    mismatch. Production emits the sketch rate alone.

    The HLL runs in its OWN rollup branch, joined back on
    (grouping_id, null-safe keys): mixed into the exact aggregation it
    would sit under the COUNT(DISTINCT fp) Expand grouping — one 16 KB
    sketch buffer per distinct fingerprint (the r15
    approx_count_distinct finding; measured 4.5 → ~1 s at sf0.1)."""
    t = tables(spark, sf_dir)
    txt = F.col("text")
    d = t["documents"].select(
        "lang",
        "source",
        textops.token_count(txt).alias("toks"),
        F.md5(textops.normalize(txt)).alias("fp"),
        F.when(
            txt.isNull() | (F.length(F.trim(txt)) == 0), F.lit(1)
        ).otherwise(F.lit(0)).alias("is_empty"),
    )
    tol = 4 * 0.01
    sketch = (
        d.rollup("lang", "source")
        .agg(
            F.grouping_id().alias("_gid"),
            F.hll_sketch_estimate(F.hll_sketch_agg("fp", F.lit(14))).alias("_afp"),
        )
        .select(
            F.col("lang").alias("_slang"),
            F.col("source").alias("_ssource"),
            "_gid",
            "_afp",
        )
    )
    exact = d.rollup("lang", "source").agg(
        F.grouping_id().alias("_gid"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.round(F.avg(F.col("toks").cast("double")), 6).alias("avg_tokens"),
        F.round(
            F.percentile(F.col("toks").cast("double"), F.lit(0.5)), 6
        ).alias("p50_tokens"),
        F.round(
            F.percentile(F.col("toks").cast("double"), F.lit(0.95)), 6
        ).alias("p95_tokens"),
        F.countDistinct("fp").alias("_nfp"),
        F.round(F.avg(F.col("is_empty").cast("double")), 6).alias(
            "empty_rate"
        ),
    )
    return (
        exact.join(
            F.broadcast(sketch),
            (exact["_gid"] == sketch["_gid"])
            & exact["lang"].eqNullSafe(sketch["_slang"])
            & exact["source"].eqNullSafe(sketch["_ssource"]),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "total_tokens",
            "avg_tokens",
            "p50_tokens",
            "p95_tokens",
            F.round(
                F.lit(1.0)
                - F.col("_nfp").cast("double") / F.col("n_docs"),
                6,
            ).alias("dup_rate"),
            "empty_rate",
            (
                F.abs(F.col("_afp") - F.col("_nfp")).cast("double")
                # +3 absolute slack: at tiny strata (observed: 9 distinct
                # estimated 8) a register collision costs O(1) counts that
                # dwarf any relative band
                <= F.lit(tol) * F.col("_nfp").cast("double") + F.lit(3.0)
            ).alias("dup_within_bound"),
        )
    )


_CROSS_DEDUP_BLOOM_ORACLE = f"""
WITH d AS (
  SELECT doc_id, md5({textops.normalize_sql('text')}) AS fp FROM documents
),
a AS (SELECT doc_id, fp FROM d WHERE doc_id % 7 <> 0),
b AS (SELECT fp FROM d WHERE doc_id % 7 = 0)
SELECT a.doc_id, a.fp
FROM a
WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.fp = a.fp)
"""


@query(
    "cross_dedup_bloom",
    oracle=_CROSS_DEDUP_BLOOM_ORACLE,
    tags=("pipeline", "dedup", "bloom", "beyond-reference"),
)
def cross_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus exact dedup with a Catalyst-native Bloom prefilter:
    keep the documents of corpus A (here doc_id % 7 != 0) whose content
    fingerprint does NOT appear in reference corpus B (doc_id % 7 == 0) —
    the "dedup the crawl against last year's crawl" / "drop benchmark
    docs" operation, where at 100 TB NEITHER side broadcasts and a plain
    anti-join shuffles all of A.

    Scale shape (operators/bloom.py): B's keys build an m-bit bitmap via
    ONE bit_or aggregation whose shuffle is <= m/64 longs regardless of
    |B|; the probe is a pure-codegen literal-bitmap filter on A's scan.
    Bloom-negative rows bypass the join entirely; only |A-intersect-B| +
    fpp*|A| rows reach the exact confirm anti-join. EXACT result (the
    bloom has no false negatives by construction — build and probe
    evaluate the same JVM xxhash64), hence the plain NOT-EXISTS oracle.

    ``stage_a=True`` because the fingerprint is DERIVED here (md5 over a
    regex-normalized text column — expensive to evaluate twice, once per
    output branch): measured 13.90 -> 11.62 s at the 128x spot and
    53.2 -> 49.3 s at 512x (PERF.md Round-11). A STORED fingerprint
    column — the 100-TB shape — beats both (10.29 / 42.70 s) with
    stage_a left False; table in PERF.md."""
    from velostream_spark.operators import bloom
    from velostream_spark.registry import memo_plan

    t = tables(spark, sf_dir)
    d = t["documents"].select(
        "doc_id", F.md5(textops.normalize(F.col("text"))).alias("fp")
    )
    a = d.where(F.col("doc_id") % 7 != 0)
    b = d.where(F.col("doc_id") % 7 == 0)
    # memo_plan: the bitmap build (one count + one bit_or agg over B) is
    # one-time index work, like the PQ codebook / IVF centroid builds
    return memo_plan(
        spark,
        ("cross_dedup_bloom", sf_dir),
        lambda: bloom.bloom_anti_join(a, b, "fp", k=5, stage_a=True),
    )


_TFIDF_ORACLE = f"""
WITH w AS (
  SELECT doc_id, word
  FROM (SELECT doc_id, unnest({textops.words_sql('text')}) AS word
        FROM documents)
  WHERE length(word) > 0
),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
dfq AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY word),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM w),
scored AS (
  SELECT t.doc_id, t.word,
         ROUND(CAST(t.tf AS DOUBLE)
               * ln(CAST(nd.n AS DOUBLE) / CAST(d.df AS DOUBLE)), 6) AS score
  FROM tf t JOIN dfq d USING (word) CROSS JOIN nd
),
ranked AS (
  SELECT doc_id, word,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, word)
              AS INTEGER) AS rank,
         score
  FROM scored
)
SELECT doc_id, word, rank, score FROM ranked WHERE rank <= 3
"""


@query(
    "tfidf_topk_terms",
    oracle=_TFIDF_ORACLE,
    tags=("pipeline", "text", "tfidf", "beyond-reference"),
)
def tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the classic keyword/topic signal
    curation pipelines attach to documents (and the deterministic core of
    quality classifiers). tf = raw in-document term count, idf = ln(N/df)
    over documents with >= 1 token; both engines ROUND the score to 6
    digits BEFORE ranking (the ANN-family convention), so a last-ulp libm
    ln() difference can never flip a rank.

    Scale shape: ONE explode feeding the (doc_id, word) count, then df
    comes FREE from tf's own rows — tf is distinct on (doc_id, word), so
    ``COUNT(*) OVER (PARTITION BY word)`` IS the document frequency,
    replacing the naive distinct + vocab join (two extra corpus-sized
    shuffles; measured 1.7× slower at the 128× spot because the join
    form re-executes the tf subplan). Exchanges: (doc_id, word) partial
    agg -> word window -> doc_id top-3 window (WindowGroupLimit bounds
    it at 3 rows per doc per partition); every one carries
    ids/words/counts, never text. N is a one-row broadcast.

    Known ceiling, documented deliberately: the word window has no
    partial aggregation, so a stopword's full posting (~one 30 B row per
    containing doc) lands in ONE task — fine into the billions of rows,
    but at extreme doc counts switch to ``tfidf_topk_terms_join`` (the
    ``strategy="join"`` twin below: map-side-combined df counts + an
    AQE-skew-handled join — the measured recompute cost buys
    unbounded-skew safety), or pre-drop a stopword list before the
    window — at that corpus size ln(N/df)≈0 makes their scores 0
    anyway. Strategy mechanics: operators/skewagg.py."""
    return _tfidf_topk_terms(spark, sf_dir, strategy="window")


@query(
    "tfidf_topk_terms_join",
    oracle=_TFIDF_ORACLE,
    tags=("pipeline", "text", "tfidf", "beyond-reference", "skew-safe"),
)
def tfidf_topk_terms_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbounded-skew form of ``tfidf_topk_terms`` — identical result
    (same oracle), df attached via a map-side-combined ``groupBy("word")``
    + AQE-skew-splittable join instead of the word window, so a stopword's
    posting never lands in one task. Costs one re-execution of the tf
    subplan (measured 1.7x at the 128x spot) — the regime trade is
    documented in operators/skewagg.py."""
    return _tfidf_topk_terms(spark, sf_dir, strategy="join")


@query(
    "tfidf_topk_terms_auto",
    oracle=_TFIDF_ORACLE,
    tags=("pipeline", "text", "tfidf", "beyond-reference", "auto-regime"),
)
def tfidf_topk_terms_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The self-routing form (r13 verdict task 5): ONE map-side-combined
    probe measures the hottest word posting and picks the measured winner
    — window while every posting fits a task, the AQE-skew-join twin
    beyond (operators/skewagg.choose_group_attach_strategy, boundary
    constants from the PERF.md 128x/512x spots). Identical result and
    oracle either way; the plan-matches-winner pins live in
    tests/test_skewagg.py."""
    return _tfidf_topk_terms(spark, sf_dir, strategy="auto")


def _tfidf_topk_terms(spark: SparkSession, sf_dir: str, strategy: str) -> DataFrame:
    from pyspark.sql.window import Window

    from velostream_spark.operators.skewagg import (
        attach_group_agg,
        choose_group_attach_strategy,
    )

    t = tables(spark, sf_dir)
    w = (
        t["documents"]
        .select("doc_id", F.explode(textops.words(F.col("text"))).alias("word"))
        .where(F.length("word") > 0)
    )
    tf = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    probe_totals = None
    if strategy == "auto":
        # probe the hottest word posting (tf is distinct on (doc, word),
        # so the posting IS the document frequency) and route to the
        # measured winner for this corpus; the probe's per-word counts
        # ARE the df totals, so the join route reuses them instead of
        # recomputing the tf subplan
        strategy, _, per_key = choose_group_attach_strategy(tf, ["word"])
        if strategy == "join":
            probe_totals = per_key.withColumnRenamed("_c", "df")
    if strategy == "window":
        # r16 (guide §2.4 — share one exchange): pre-partition the exploded
        # tokens by word, so ONE hash(word) exchange serves BOTH the
        # (doc_id, word) tf aggregation (hash(word) clusters every
        # (doc_id, word) group — partitioning exprs ⊆ grouping keys) and
        # the df window. The old shape paid hash(doc_id, word) for the agg
        # plus a second full-|tf| hash(word) exchange for the window
        # (plans/r16/tfidf_topk_terms_before.txt nodes 5+7); this trades
        # them for ONE exchange of the un-combined token occurrences
        # (plans/r16/..._after.txt: corpus exchanges 3 → 2). Interleaved
        # A/B at sf0.1: med 0.649 → 0.607 s (OPTIMIZATION_r16.md task 2 —
        # modest here where fixed costs dominate; the win scales with the
        # removed full-|tf| exchange). Skew ceiling unchanged: the df
        # window already put each word's full posting in one task.
        tf = (
            w.repartition("word")
            .groupBy("doc_id", "word")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
    # N = docs with >=1 token, computed SCAN-SIDE — a countDistinct over
    # the exploded words would re-run the explode and add a two-phase
    # distinct for the same number. token_count(text) > 0 reduces to
    # trim(text) != '' (token_count is NULL only for NULL text, 0 only
    # for whitespace-only text, else >= 1), so the count branch needs no
    # normalize/split regex pass at all (r15-opt, guide §1.2 per-task
    # work: same rows, two regex passes over the corpus dropped).
    nd = (
        t["documents"]
        .where(F.trim(F.col("text")) != "")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # df comes FREE from tf's own rows — tf is distinct on (doc_id, word),
    # so counting rows per word IS the document frequency in BOTH
    # strategies (window: COUNT OVER; join: groupBy + equi-join back)
    scored = (
        attach_group_agg(
            tf, ["word"], F.count(F.lit(1)), "df", strategy,
            totals=probe_totals,
        )
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n").cast("double") / F.col("df").cast("double")),
                6,
            ).alias("score"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("word")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= 3)
        .select("doc_id", "word", "rank", "score")
    )


_BIGRAM_LM_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {textops.words_sql('text')} AS ws FROM documents
),
bg AS (
  SELECT doc_id, ws[i] AS prev, ws[i + 1] AS cur
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
        FROM w WHERE len(ws) >= 2)
),
tfb AS (
  SELECT doc_id, prev, cur, COUNT(*) AS cnt FROM bg GROUP BY doc_id, prev, cur
),
v AS (SELECT COUNT(DISTINCT cur) AS v FROM tfb),
counted AS (
  SELECT doc_id, cnt,
         SUM(cnt) OVER (PARTITION BY prev, cur) AS cb,
         SUM(cnt) OVER (PARTITION BY prev) AS cp
  FROM tfb
),
scored AS (
  SELECT c.doc_id, c.cnt,
         ln((CAST(c.cb AS DOUBLE) + 0.5)
            / (CAST(c.cp AS DOUBLE) + 0.5 * CAST(v.v AS DOUBLE))) AS lp
  FROM counted c CROSS JOIN v
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       ROUND(SUM(CAST(cnt AS DOUBLE) * lp) / CAST(SUM(cnt) AS DOUBLE), 6)
           AS logprob
FROM scored GROUP BY doc_id
"""


@query(
    "bigram_lm_score",
    oracle=_BIGRAM_LM_ORACLE,
    tags=("pipeline", "text", "lm", "quality", "beyond-reference"),
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical LM quality score (the CCNet-style signal): each
    document's mean log-probability under an add-0.5-smoothed bigram
    model trained on the corpus itself — p(w|prev) = (c(prev,w) + 0.5)
    / (c(prev) + 0.5·V), V = distinct continuation vocabulary.
    Low-probability documents are gibberish/boilerplate candidates;
    complements the heuristic lm_quality_score ratios with an actual
    probabilistic model.

    Scale shape: ONE explode collapses IMMEDIATELY into per-doc
    (prev, cur) counts — a map-side-combined aggregation, so the windows
    and every later exchange move one row per DISTINCT in-doc bigram,
    not one per occurrence. (On THIS corpus the pre-aggregation measured
    neutral — its bigrams are near-unique within docs; on a real Zipf
    corpus it is the repeat-factor win. The entry's 67.9→10.96 s jump at
    the 128× spot was the separate lambda-CSE fix: staging the words
    array before the bigram lambda.) Corpus counts then come free from
    windows over those rows
    (SUM(cnt) OVER (prev, cur) and OVER (prev)), zero joins — the tfidf
    shape. V is a one-row broadcast. The per-doc mean is the weighted
    form SUM(cnt·lp)/SUM(cnt), written identically in both engines and
    rounded once to 6 digits — summation-order error is ~1e-12, far
    under the rounding grain.

    Regime boundary, MEASURED (PERF.md): the prev window has no partial
    aggregation and the bigram vocabulary grows with the corpus, so this
    form goes superlinear once a stopword's posting outgrows a task
    (512x spot: 5.2x wall for the last 4x data). Past that boundary use
    ``bigram_lm_grouped`` below — the grouped-agg + AQE-skew-join
    production twin with the identical oracle."""
    return _bigram_lm_score(spark, sf_dir, strategy="window")


@query(
    "bigram_lm_grouped",
    oracle=_BIGRAM_LM_ORACLE,
    tags=("pipeline", "text", "lm", "quality", "beyond-reference", "skew-safe"),
)
def bigram_lm_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production (unbounded-skew) form of ``bigram_lm_score`` —
    identical result, identical oracle, grouped-agg model build instead
    of corpus windows:

    1. ``cbd = tfb.groupBy(prev, cur).agg(sum(cnt))`` — map-side combined
       (the shuffle carries one row per distinct corpus bigram per map
       task), localCheckpointed ONCE because three consumers read it;
    2. ``cpd = cbd.groupBy(prev).agg(sum(cb))`` and
       ``V = cbd.agg(countDistinct(cur))`` — both derived from the
       checkpointed MODEL rows (vocabulary-sized), never re-scanning the
       corpus;
    3. ``model = cbd JOIN cpd ON prev`` (vocabulary-sized join) attaches
       cb AND cp in ONE AQE-skew-splittable equi-join back to tfb on
       (prev, cur) — a hot prev spreads across its distinct curs, and no
       window ever owns a stopword's whole posting.

    Exchanges on the corpus-sized path: tfb partial agg -> one (prev,cur)
    join -> final doc_id agg; every one map-side combined or
    skew-splittable. Costs one re-execution of the tfb subplan (the model
    branch) — the skewagg.py trade, measured vs the window form at
    1x/128x/512x in PERF.md."""
    return _bigram_lm_score(spark, sf_dir, strategy="join")


@query(
    "bigram_lm_auto",
    oracle=_BIGRAM_LM_ORACLE,
    tags=("pipeline", "text", "lm", "quality", "beyond-reference", "auto-regime"),
)
def bigram_lm_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The self-routing form (r13 verdict task 5): the probe measures the
    hottest CONTEXT (prev) posting — the window form's documented killer
    — and routes to the window twin below the task budget, the
    grouped+AQE twin past it (the measured 512x switch, now automatic).
    Identical result and oracle either way."""
    return _bigram_lm_score(spark, sf_dir, strategy="auto")


def _bigram_lm_score(spark: SparkSession, sf_dir: str, strategy: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: F401  (window strategy)

    from velostream_spark.operators.skewagg import attach_group_agg

    t = tables(spark, sf_dir)
    # STAGE the words array before the lambda: an expression inside a
    # higher-order function's lambda is re-evaluated per element (no CSE
    # across the lambda boundary), so element_at(split(text), i) would
    # re-split the whole text once per bigram — O(len²) per document.
    # r15-opt: there is NO >=2-token filter operator at all — a
    # token_count(text) >= 2 pre-filter made every document tokenize
    # TWICE (the filter's count + the projection's ws; and a size(ws)
    # filter over the staged array gets pushed below the projection by
    # Catalyst, re-deriving the split — see
    # plans/r15/bigram_lm_score_before.txt). Instead the sequence is
    # GUARDED: size(ws) < 2 (and NULL text, where the when-condition is
    # NULL) yields an empty bigram array that explode simply drops, so
    # each document is tokenized exactly once and short docs produce the
    # identical zero output rows the filter produced.
    staged = t["documents"].select(
        "doc_id", textops.words(F.col("text")).alias("ws")
    )
    bg = staged.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("ws") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("ws"), i).alias("prev"),
                        F.element_at(F.col("ws"), i + 1).alias("cur"),
                    ),
                ),
            )  # no otherwise: NULL array, which explode drops like empty
        ).alias("p"),
    ).select("doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
    tfb = bg.groupBy("doc_id", "prev", "cur").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    if strategy == "auto":
        # the window form's killer is the hottest CONTEXT posting (every
        # row sharing one stopword prev lands in the cp window's task) —
        # probe it and route to the measured winner
        from velostream_spark.operators.skewagg import (
            choose_group_attach_strategy,
        )

        strategy, _, _per_key = choose_group_attach_strategy(tfb, ["prev"])
    if strategy == "join":
        # Corpus bigram model, built ONCE: cbd is vocabulary-sized and has
        # three consumers (cpd, V, the model join), so localCheckpoint
        # severs the lineage — without it each consumer re-runs the whole
        # explode + two aggregations. cp derives from cbd's own rows
        # (sum of cb over prev == sum of cnt over prev), never re-reading
        # the corpus; the merged model attaches cb AND cp in one join.
        cbd = (
            tfb.groupBy("prev", "cur")
            .agg(F.sum("cnt").alias("cb"))
            .localCheckpoint(eager=False)
        )
        cpd = cbd.groupBy("prev").agg(F.sum("cb").alias("cp"))
        v = cbd.agg(F.countDistinct("cur").alias("v"))
        model = cbd.join(cpd, "prev")
        counted = attach_group_agg(
            tfb, ["prev", "cur"], F.sum("cnt"), "cb", "join", totals=model
        )
    else:
        # r16 (guide §2.4 — share one exchange): pre-partition the exploded
        # bigrams by prev, so ONE hash(prev) exchange serves the
        # (doc, prev, cur) tfb aggregation AND both corpus windows
        # (hash(prev) clusters (prev, cur) groups and prev groups alike —
        # partitioning exprs ⊆ both window partition specs). The old shape
        # paid three full-|tfb| exchanges here: hash(doc, prev, cur) for
        # the agg, hash(prev, cur) for the cb window, hash(prev) for the
        # cp window (plans/r16/bigram_lm_score_before.txt; after: corpus
        # exchanges 4 → 2 counting the final doc agg). Interleaved A/B at
        # sf0.1 incl. the V-branch change below: med 1.013 → 0.893 s
        # (OPTIMIZATION_r16.md task 4). Skew ceiling unchanged — the cp window
        # already put each prev's full posting in one task (that boundary
        # is what routes to the join twin).
        tfb = bg.repartition("prev").groupBy("doc_id", "prev", "cur").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # V from the tokens directly (r15 verdict task 4's intent): the
        # old branch re-ran the WHOLE tfb subplan (explode + corpus-sized
        # hash(doc, prev, cur) exchange + dedup) only to count distinct
        # continuations. distinct cur over tfb ≡ distinct over every
        # token at positions 2..len of docs with ≥2 tokens — one re-scan
        # with a plain slice-explode and a map-side-combined two-phase
        # distinct whose exchange is vocabulary-sized, no corpus exchange.
        v = (
            staged.select(
                F.explode(
                    F.when(
                        F.size("ws") >= 2,
                        F.slice(F.col("ws"), 2, F.size("ws") - 1),
                    )
                ).alias("cur")
            )
            .agg(F.countDistinct("cur").alias("v"))
        )
        counted = attach_group_agg(
            tfb, ["prev", "cur"], F.sum("cnt"), "cb", strategy
        )
        counted = attach_group_agg(counted, ["prev"], F.sum("cnt"), "cp", strategy)
    scored = counted.crossJoin(F.broadcast(v)).select(
        "doc_id",
        "cnt",
        F.log(
            (F.col("cb").cast("double") + F.lit(0.5))
            / (F.col("cp").cast("double") + F.lit(0.5) * F.col("v").cast("double"))
        ).alias("lp"),
    )
    return scored.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_bigrams"),
        F.round(
            F.sum(F.col("cnt").cast("double") * F.col("lp"))
            / F.sum("cnt").cast("double"),
            6,
        ).alias("logprob"),
    )


_HEAVY_HITTERS_ORACLE = f"""
WITH w AS (
  SELECT unnest({textops.words_sql('text')}) AS word FROM documents
),
counted AS (
  SELECT word, COUNT(*) AS cnt FROM w WHERE length(word) > 0 GROUP BY word
)
SELECT word, CAST(cnt AS BIGINT) AS cnt,
       CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS INTEGER) AS rank
FROM counted
ORDER BY cnt DESC, word
LIMIT 20
"""


@query(
    "heavy_hitters",
    oracle=_HEAVY_HITTERS_ORACLE,
    tags=("pipeline", "text", "stats", "beyond-reference"),
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 most frequent words, EXACT — the vocabulary
    head every tokenizer/stopword/quality decision starts from. Scale
    shape: one explode into a map-side-combined ``groupBy(word)`` (the
    shuffle carries one row per distinct word per map task), then a
    TakeOrderedAndProject — the driver sees 20 rows, never the
    vocabulary. Ties break lexicographically in both engines so ranks
    hash-match. The sketch twin (heavy_hitters_cms) replaces the exact
    count table with a fixed 5x8192 count-min grid for the 100-TB
    continuous form."""
    from pyspark.sql.window import Window

    t = tables(spark, sf_dir)
    counted = (
        t["documents"]
        .select(F.explode(textops.words(F.col("text"))).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counted.orderBy(F.col("cnt").desc(), "word")
        .limit(20)
        .select(
            "word",
            F.col("cnt").cast("long").alias("cnt"),
            F.row_number()
            .over(Window.orderBy(F.col("cnt").desc(), "word"))
            .alias("rank"),
        )
    )


def _heavy_hitters_cms_oracle() -> str:
    """DuckDB REBUILDS the identical md5-position count-min grid and
    estimates in plain SQL (the streaming_cms_gate pattern — the
    strongest oracle a sketch can have: collisions are covered, not just
    the happy path), plus the in-row 2N/w overestimate-bound check the
    r13 verdict asked the sketch twins to carry."""
    from velostream_spark.operators.cms import pos_md5_sql

    p = lambda expr, d: pos_md5_sql(expr, d, 4096)  # noqa: E731
    return f"""
WITH w AS (
  SELECT unnest({textops.words_sql('text')}) AS word FROM documents
),
cnt AS (
  SELECT word, COUNT(*) AS c FROM w WHERE length(word) > 0 GROUP BY word
),
total AS (SELECT SUM(c) AS n FROM cnt),
cells AS (
  SELECT 0 AS depth, {p('word', 0)} AS pos, SUM(c) AS cc FROM cnt GROUP BY 2
  UNION ALL
  SELECT 1, {p('word', 1)}, SUM(c) FROM cnt GROUP BY 2
  UNION ALL
  SELECT 2, {p('word', 2)}, SUM(c) FROM cnt GROUP BY 2
),
est AS (
  SELECT k.word, k.c, LEAST(c0.cc, c1.cc, c2.cc) AS e
  FROM cnt k
  JOIN cells c0 ON c0.depth = 0 AND c0.pos = {p('k.word', 0)}
  JOIN cells c1 ON c1.depth = 1 AND c1.pos = {p('k.word', 1)}
  JOIN cells c2 ON c2.depth = 2 AND c2.pos = {p('k.word', 2)}
)
SELECT word,
       CAST(e AS BIGINT) AS cnt_est,
       CAST(c AS BIGINT) AS cnt,
       (e >= c AND e <= c + CAST(floor(2.0 * (SELECT n FROM total) / 4096)
                                 AS BIGINT)) AS within_bound,
       CAST(ROW_NUMBER() OVER (ORDER BY e DESC, word) AS INTEGER) AS rank
FROM est
ORDER BY e DESC, word
LIMIT 20
"""


@query(
    "heavy_hitters_cms",
    oracle=_heavy_hitters_cms_oracle(),
    tags=("pipeline", "text", "stats", "sketch", "beyond-reference", "approx"),
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch form of :func:`heavy_hitters`: word frequencies from a
    Catalyst-native count-min sketch (operators/cms.py md5 twin — d=3 x
    w=4096 longs, 96 KB) instead of the exact count table. The grid
    build's only corpus-scale shuffle is the same map-side-combined
    distinct-word pass; the per-candidate estimate is a pure-codegen
    literal lookup (MIN of 3 element_at's), so scoring costs a
    projection, not a join. CMS estimates are guaranteed OVERESTIMATES
    (collisions only add) with error <= 2N/w whp; the entry emits the
    in-row ``within_bound`` validation (exact count recomputed in the
    same query — r13 verdict task 6) and its oracle REBUILDS the
    identical grid in DuckDB, so the driver's hash check covers the
    sketch's actual collision behavior. The exact-count column is the
    validation harness; production scoring uses the estimate alone. At
    100 TB the grid replaces vocabulary-sized state with a fixed-size
    mergeable aggregate — the same exact-vs-sketch trade as
    corpus_stats_approx (HLL) and cross_dedup_bloom (Bloom)."""
    from pyspark.sql.window import Window

    from velostream_spark.operators import cms
    from velostream_spark.registry import memo_plan

    t = tables(spark, sf_dir)
    words = (
        t["documents"]
        .select(F.explode(textops.words(F.col("text"))).alias("word"))
        .where(F.length("word") > 0)
    )

    def build() -> DataFrame:
        # The one-time grid build tokenizes the corpus in ITS OWN eager
        # job — spread() the build-side scan so a single-file input does
        # not run that regex pass in one task (r16, guide §2/§6: this was
        # most of the entry's ~5 s untimed derive wall, which stretched
        # every full bench and pytest session). The TIMED estimate path
        # below keeps the plain scan — its plan is unchanged.
        words_build = (
            spread(t["documents"])
            .select(F.explode(textops.words(F.col("text"))).alias("word"))
            .where(F.length("word") > 0)
        )
        grid = cms.cms_build_md5(words_build, "word", w=4096, d=3)
        # every occurrence lands in exactly one depth-0 cell, so the
        # depth-0 row sum IS the corpus total N — the bound needs no
        # extra pass
        bound = int(2 * sum(grid[0]) / 4096)
        counted = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
        est = counted.select(
            "word",
            cms.cms_estimate_md5(F.col("word"), grid, 4096).alias("cnt_est"),
            F.col("cnt").cast("long").alias("cnt"),
        )
        return (
            est.orderBy(F.col("cnt_est").desc(), "word")
            .limit(20)
            .select(
                "word",
                F.col("cnt_est").cast("long").alias("cnt_est"),
                "cnt",
                (
                    (F.col("cnt_est") >= F.col("cnt"))
                    & (F.col("cnt_est") <= F.col("cnt") + F.lit(bound))
                ).alias("within_bound"),
                F.row_number()
                .over(Window.orderBy(F.col("cnt_est").desc(), "word"))
                .alias("rank"),
            )
        )

    # memo_plan: the grid build is one-time index work (bloom pattern)
    return memo_plan(spark, ("heavy_hitters_cms", sf_dir), build)


def _fixture_weights(n: int = 4096) -> list[float]:
    """Deterministic model weights both engines can re-derive EXACTLY:
    w[j] = ((j * 2654435761) % 1000) / 1000 - 0.5 — multiples of 1e-3 in
    [-0.5, 0.499], Knuth's multiplicative constant for spread. A real
    deployment passes trained weights; the fixture makes the oracle an
    exact value check instead of a tolerance."""
    return [((j * 2654435761) % 1000) / 1000.0 - 0.5 for j in range(n)]


def _classifier_oracle() -> str:
    from velostream_spark.operators.classify import bucket_of_sql

    bucket = bucket_of_sql("x", 4096)
    w_of = f"((({bucket}) * 2654435761) % 1000) / 1000.0 - 0.5"
    ws = textops.words_sql("text")
    return f"""
WITH staged AS (
  SELECT doc_id, {ws} AS ws FROM documents
  WHERE {textops.token_count_sql('text')} > 0
),
scored AS (
  SELECT doc_id,
         len(ws) AS n_tokens,
         list_sum(list_transform(ws, x -> {w_of})) / len(ws) AS m
  FROM staged
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(1.0 / (1.0 + exp(-m)), 6) AS score,
       ROUND(1.0 / (1.0 + exp(-m)), 6) >= 0.5 AS keep
FROM scored
"""


@query(
    "quality_classifier_score",
    oracle=_classifier_oracle(),
    tags=("pipeline", "text", "quality", "classifier", "beyond-reference"),
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText/VW-style linear quality classifier INFERENCE over the
    corpus (operators/classify.py): hash each word into a 4096-bucket
    feature space (first 3 md5 nibbles), look up the bucket weight in the
    model vector shipped as a 32 KB literal, score = sigmoid(mean
    weight), keep = score >= 0.5 — the model-based curation gate that
    complements the heuristic lm_quality_score / gopher filters.

    THE PLAN IS THE POINT: featurize + lookup + mean run inside ONE
    scan-side F.aggregate over the staged words array — no explode, no
    join, no exchange, zero Python; scoring N documents is exactly one
    embarrassingly-parallel projection pass however large N is
    (plan-pinned zero-shuffle in tests/test_plans.py). The fixture
    weights are re-derived identically in the DuckDB oracle, so the
    check is exact-value, not tolerance."""
    from velostream_spark.operators.classify import linear_text_score

    t = tables(spark, sf_dir)
    # trim(text) != '' ⟺ token_count(text) > 0 (NULL text → NULL count,
    # whitespace-only → 0, else ≥ 1): the gate predicate costs a trim,
    # not a second normalize/split regex pass per document (r15-opt).
    staged = (
        t["documents"]
        .where(F.trim(F.col("text")) != "")
        .select("doc_id", textops.words(F.col("text")).alias("ws"))
    )
    scored = staged.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_tokens"),
        linear_text_score(F.col("ws"), _fixture_weights(4096), "score"),
    )
    return scored.withColumn("keep", F.col("score") >= 0.5)


_SPLIT_SALT = "vs-split-2026"


def _split_oracle() -> str:
    from velostream_spark.operators.classify import bucket_of_sql

    key = f"'{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)"
    pct = f"({bucket_of_sql(key, 16 ** 7)} % 100)"
    return f"""
SELECT doc_id,
       CAST({pct} AS INTEGER) AS pct,
       CASE WHEN {pct} < 80 THEN 'train'
            WHEN {pct} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


@query(
    "dataset_split",
    oracle=_split_oracle(),
    tags=("pipeline", "sampling", "split", "beyond-reference"),
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment — the split every
    training pipeline needs to be REPRODUCIBLE and LEAK-FREE: the bucket
    is a pure function of (salt, doc_id), so re-running over a grown or
    re-partitioned corpus never migrates an old document across splits
    (the property a row_number()-based split fatally lacks), and a new
    salt draws an independent split. pct = first 7 md5 nibbles mod 100
    (modulo bias ~4e-7 — negligible; both engines derive the identical
    integer, so the oracle is exact). Plan: one scan-side projection —
    zero shuffle, zero Python; splitting 100 TB costs one pass, and the
    predicate ``split = 'train'`` pushes down to any downstream scan."""
    from velostream_spark.operators.classify import bucket_of

    t = tables(spark, sf_dir)
    key = F.concat(F.lit(_SPLIT_SALT), F.col("doc_id").cast("string"))
    pct = (bucket_of(key, 16**7) % 100).cast("int")
    return t["documents"].select(
        "doc_id",
        pct.alias("pct"),
        F.when(F.col("pct") < 80, "train")
        .when(F.col("pct") < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
