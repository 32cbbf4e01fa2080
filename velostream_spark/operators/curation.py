"""Corpus-level curation operators for pretraining pipelines: global span
dedup (C4-style), deterministic corpus mixing with epoch weights, and a
sort-free global shuffle.

Beyond the reference's operator set (its pipelines stop at SQL analytics);
these are the corpus-wide stages between dedup and tokenization that only
make sense at cluster scale, designed so the 100-TB plan shape is the SAME
plan the tests pin at sf0.001:

- **Span dedup** (the C4 "three-sentence span" rule re-expressed over fixed
  word windows): a span that occurs in more than one document is kept only
  in the lexicographically-first document and removed everywhere else. The
  corpus-wide shuffle carries ``(span_md5, doc_id, span_idx)`` — 32-byte
  hashes and two ints, never span text; documents are reassembled from
  their own scan-side word arrays using only the dropped-index list.
- **Corpus mixing**: per-language epoch weights (e.g. en 2.4 epochs, es
  0.35) applied as ``floor(w)`` full copies plus one extra copy decided by
  the deterministic sample hash (operators/sampling.py) — the standard
  mixture-weighting construction (Pile/DoReMi family). Entirely scan-side:
  a literal CASE for the weight and an ``explode(slice(sequence))`` for the
  copies; zero shuffles, reproducible across engines and reruns.
- **Global shuffle**: a deterministic global permutation (training order)
  WITHOUT a global sort. Shard = first byte of ``md5(seed || id)`` (the
  leading prefix of the order key, so shard ranges tile the global order);
  per-shard ``row_number`` after a hash exchange on shard; shard base
  offsets from a 256-row count aggregate joined back by broadcast.
  ``global_pos`` equals the rank in one total order by ``(md5, id)`` — the
  oracle computes it with a single ROW_NUMBER — but the distributed plan
  never materializes a single-partition sort of the corpus.

Each helper has a ``*_sql`` twin producing the equivalent DuckDB SQL from
the SAME constants, so catalog oracles cannot drift from the Spark
implementation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from velostream_spark.operators import textops
from velostream_spark.operators.sampling import sample_hash, sample_hash_sql

__all__ = [
    "SPAN_WORDS",
    "MIX_WEIGHTS_MILLI",
    "MIX_MAX_EPOCHS",
    "SHUFFLE_SEED",
    "span_dedup",
    "span_dedup_sql",
    "corpus_mix",
    "corpus_mix_sql",
    "global_shuffle",
    "global_shuffle_sql",
]

# ---------------------------------------------------------------------------
# Span dedup (C4-style, fixed word windows)

#: Non-overlapping span width in words. C4 used three-sentence spans; the
#: test corpus has no sentence punctuation, so a fixed word window is the
#: deterministic analog.
SPAN_WORDS = 10


def span_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-global span dedup: every ``SPAN_WORDS``-word span that occurs
    in >1 document survives only in the MIN-id document.

    Returns one row per document: ``(id, clean_text, n_spans, n_removed)``.

    Scale shape: the only corpus-wide shuffles carry ``(span_md5, id,
    span_idx)`` for the occurrence count and ``(id, span_idx)`` for the
    per-document drop lists; span TEXT never crosses a shuffle — documents
    are rebuilt scan-side from their own span arrays plus the drop list.
    The span array is staged ONCE per branch and every downstream
    expression reuses it (keeps the analyzed tree small and the per-row
    HOF work to a single slice/join pass).

    Survivor adjudication is a window over the span hash rather than
    groupBy+self-join: same single shuffle key and volume, one fewer
    corpus scan (measured 20% faster). The window's per-partition sort is
    external (spills, never OOMs); if a pathological boilerplate span ever
    dominated one hash partition at 100 TB, the groupBy+join twin (which
    map-side-combines duplicate spans before the shuffle) is the
    drop-in fallback — both shapes shuffle only (hash, id, idx) triples.
    """
    s = SPAN_WORDS
    # NULL text coalesces to '' in BOTH twins: words('') is [''] under
    # Spark's split and DuckDB's string_split alike, so a NULL-text doc
    # flows through as a one-empty-span doc on both engines. Without
    # this, Spark's left join emitted the doc with NULL clean_text while
    # the oracle's generate_series-over-NULL dropped it entirely.
    ws = textops.words(F.coalesce(F.col(text_col), F.lit("")))
    # STAGE the words array into a column BEFORE the span lambda slices
    # it: a lambda body's outer expressions are inlined per element (no
    # CSE across the lambda boundary), so slicing the un-staged split
    # re-split the whole text once per span — O(len²/SPAN_WORDS) per doc
    # (the round-10 shingles/bigram finding; measured 1.9× on this entry)
    worded = docs.select(F.col(id_col).alias(id_col), ws.alias("_ws"))
    n = F.ceil(F.size("_ws") / s).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(F.col("_ws"), i * s + 1, s), " "),
    )
    staged = worded.select(id_col, spans.alias("_spans"))

    occurrences = staged.select(
        id_col,
        F.posexplode(F.transform(F.col("_spans"), F.md5)).alias("span_idx", "_h"),
    )
    # Survivor adjudication as ONE hash-partitioned window pass (min-id +
    # occurrence count over the span hash) rather than groupBy+self-join:
    # same single shuffle key, but the occurrence branch — and its
    # scan+span-HOF subtree — is evaluated once instead of twice.
    wh = Window.partitionBy("_h")
    drops = (
        occurrences.withColumn("_keep_id", F.min(id_col).over(wh))
        .withColumn("_n_occur", F.count("*").over(wh))
        .where((F.col("_n_occur") > 1) & (F.col(id_col) != F.col("_keep_id")))
        .groupBy(id_col)
        .agg(
            F.collect_list("span_idx").alias("_dropped"),
            F.count("*").alias("n_removed"),
        )
    )
    kept = F.filter(
        F.col("_spans"),
        lambda sp, i: F.coalesce(
            ~F.array_contains(F.col("_dropped"), i), F.lit(True)
        ),
    )
    return (
        staged.join(drops, id_col, "left")
        .select(
            id_col,
            F.array_join(kept, " ").alias("clean_text"),
            F.size("_spans").alias("n_spans"),
            F.coalesce(F.col("n_removed"), F.lit(0).cast("long")).alias("n_removed"),
        )
    )


def span_dedup_sql(table: str = "documents", text: str = "text", id_: str = "doc_id") -> str:
    """DuckDB twin of :func:`span_dedup` (same constants, same md5 keys)."""
    s = SPAN_WORDS
    return f"""
WITH ws AS (
  SELECT {id_}, {textops.words_sql(f"COALESCE({text}, '')")} AS w FROM {table}
), sized AS (
  SELECT {id_}, w, CAST(ceil(len(w) / {s}.0) AS INT) AS n_spans FROM ws
), idx AS (
  SELECT {id_}, w, n_spans,
         unnest(generate_series(0, n_spans - 1)) AS i
  FROM sized
), spans AS (
  SELECT {id_}, n_spans, i,
         array_to_string(w[i*{s}+1 : i*{s}+{s}], ' ') AS span,
         md5(array_to_string(w[i*{s}+1 : i*{s}+{s}], ' ')) AS h
  FROM idx
), agg AS (
  SELECT h, MIN({id_}) AS keep_id, COUNT(*) AS n_occur FROM spans GROUP BY h
), dec AS (
  SELECT s.{id_}, s.n_spans, s.i, s.span,
         (a.n_occur > 1 AND s.{id_} <> a.keep_id) AS is_dropped
  FROM spans s JOIN agg a USING (h)
)
SELECT {id_},
       COALESCE(string_agg(CASE WHEN NOT is_dropped THEN span END, ' ' ORDER BY i), '') AS clean_text,
       CAST(MAX(n_spans) AS INT) AS n_spans,
       CAST(SUM(CASE WHEN is_dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM dec
GROUP BY {id_}
"""


# ---------------------------------------------------------------------------
# Corpus mixing (epoch weights per language/source)

#: Epoch weight × 1000 per language (integer milli-weights: the fractional
#: part compares against the integer sample hash, so the keep decision is
#: identical modular arithmetic on every engine — no float thresholds).
MIX_WEIGHTS_MILLI: dict[str, int] = {
    "en": 2400,  # 2.4 epochs: 2 full copies + 40% of docs a third
    "zh": 1500,
    "de": 1000,
    "fr": 600,  # <1 epoch: deterministic downsample
    "es": 350,
}
MIX_DEFAULT_MILLI = 1000
#: Upper bound on copies = max(floor(w)+1); bounds the literal epochs array.
MIX_MAX_EPOCHS = max(MIX_WEIGHTS_MILLI.values()) // 1000 + 1


def corpus_mix(
    docs: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Source-weighted corpus mixing: emit ``(id, stratum, epoch)`` with
    ``floor(w)`` guaranteed copies per document plus one extra copy for a
    deterministic ``frac(w)`` share of documents (sample-hash decided, so
    the mixture is reproducible run-to-run and engine-to-engine).

    Entirely scan-side: weight is a literal CASE, copies come from
    ``explode(slice(sequence(1, MAX), 1, n_copies))`` — an empty slice drops
    the row (downsampled strata), and no shuffle or join ever runs.
    """
    w = F.lit(MIX_DEFAULT_MILLI)
    for value, milli in MIX_WEIGHTS_MILLI.items():
        w = F.when(F.col(strata_col) == value, F.lit(milli)).otherwise(w)
    n_full = F.floor(w / 1000).cast("int")
    extra = F.when(sample_hash(F.col(id_col)) < w % 1000, 1).otherwise(0)
    n_copies = n_full + extra
    epochs = F.slice(F.sequence(F.lit(1), F.lit(MIX_MAX_EPOCHS)), 1, n_copies)
    return docs.select(
        id_col, strata_col, *keep, F.explode(epochs).alias("epoch")
    )


def corpus_mix_sql(
    table: str = "documents", strata: str = "lang", id_: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`corpus_mix` (same milli-weights + hash)."""
    arms = " ".join(
        f"WHEN '{v}' THEN {m}" for v, m in MIX_WEIGHTS_MILLI.items()
    )
    epoch_rows = ", ".join(f"({e})" for e in range(1, MIX_MAX_EPOCHS + 1))
    return f"""
WITH weighted AS (
  SELECT {id_}, {strata},
         CASE {strata} {arms} ELSE {MIX_DEFAULT_MILLI} END AS w
  FROM {table}
), copies AS (
  SELECT {id_}, {strata},
         (w // 1000) + CASE WHEN ({sample_hash_sql(id_)}) < (w % 1000)
                            THEN 1 ELSE 0 END AS n_copies
  FROM weighted
)
SELECT {id_}, {strata}, CAST(e.epoch AS INT) AS epoch
FROM copies CROSS JOIN (VALUES {epoch_rows}) AS e(epoch)
WHERE e.epoch <= n_copies
"""


# ---------------------------------------------------------------------------
# Global shuffle (deterministic permutation, no global sort)

SHUFFLE_SEED = "s42:"


def _shuffle_key(id_col: Column) -> Column:
    return F.md5(F.concat(F.lit(SHUFFLE_SEED), id_col.cast("string")))


def global_shuffle(
    docs: DataFrame, id_col: str = "doc_id", keep: tuple[str, ...] = ()
) -> DataFrame:
    """Deterministic global training-order permutation ``(id, shard,
    global_pos)`` equal to the rank in one total order by ``(md5(seed||id),
    id)`` — computed WITHOUT a global sort.

    Because the shard is the leading byte of the order key, shard ranges
    tile the total order: ``global_pos = shard_base_offset + rank within
    shard``. The plan is one hash exchange on the 256-way shard key plus a
    256-row count aggregate broadcast back — at 100 TB the per-shard sorts
    run in parallel and nothing ever funnels into one partition.
    """
    h = _shuffle_key(F.col(id_col))
    # shard is non-nullable by construction (coalesce with a literal) so
    # the inner offsets join can't inject useless isnotnull filters.
    # Two-phase design (the zipWithIndex shape): the offsets branch is a
    # column-pruned count-only pass whose shuffle is 256 PARTIAL COUNTS
    # (map-side combined), the main branch shuffles the rows once. At
    # 100 TB the count pass reads one column. Over a composed input the
    # count pass plans its own copy of the lineage, yet it reads the
    # input's exchanges rather than re-running what lies below them: AQE
    # reuses an exchange whose subtree canonicalizes equal in both
    # branches. That holds only while the count pass still needs every
    # column the exchange carries — otherwise pruning narrows its copy
    # and the two no longer match (curation_pipeline keys its dedup
    # window on (_fp, n_tokens) for this). A count(struct(...))
    # keep-alive does not work: Spark rewrites it back to count(1).
    base = docs.select(
        F.col(id_col), *keep, F.coalesce(h, F.lit("")).alias("_h")
    ).withColumn("shard", F.substring("_h", 1, 2))
    # 256-row dimension: per-shard row counts -> cumulative base offsets.
    offsets = (
        base.groupBy("shard")
        .count()
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("count").over(
                    Window.orderBy("shard").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0).cast("long"),
            ),
        )
        .select("shard", "_offset")
    )
    rank = F.row_number().over(
        Window.partitionBy("shard").orderBy("_h", id_col)
    )
    return (
        base.join(F.broadcast(offsets), "shard")
        .select(
            id_col,
            *keep,
            "shard",
            (F.col("_offset") + rank - 1).alias("global_pos"),
        )
    )


def global_shuffle_sql(table: str = "documents", id_: str = "doc_id") -> str:
    """DuckDB twin: the same permutation as ONE total-order ROW_NUMBER
    (the single-sort formulation the distributed plan must equal)."""
    key = f"md5('{SHUFFLE_SEED}' || CAST({id_} AS VARCHAR))"
    return f"""
SELECT {id_},
       substring({key}, 1, 2) AS shard,
       ROW_NUMBER() OVER (ORDER BY {key}, {id_}) - 1 AS global_pos
FROM {table}
"""
