"""Text-analysis operators for training-data pipelines.

All operators are pure Catalyst expressions (split/transform/filter/aggregate
over arrays) — no Python UDFs — so they run inside whole-stage codegen and
scale linearly with no shuffle: at 100 TB each document is scored
independently in its scan task.

Each helper has a ``*_sql`` twin producing the equivalent DuckDB SQL snippet
from the SAME constants, so catalog oracles can never drift from the Spark
implementation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def gate_rows(df: DataFrame, cond: Column) -> DataFrame:
    """Keep rows where ``cond`` is TRUE without the predicate being pushed
    below the current projection.

    A plain ``.where`` over staged expression columns gets substituted
    through the Project by PushDownPredicate: the Filter lands BELOW the
    projection and re-derives every staged expression it references — for
    text pipelines that re-runs the normalize/split regex chain once in
    the Filter and again in the Project, per document.  Here the row
    rides a 1-element array that ``explode`` drops when the condition is
    false or NULL (exactly ``.where`` semantics); generators are not
    pushed through, so every staged column evaluates once.  Measured on
    the curation gopher gate at sf0.1: 0.69 s → 0.195 s for the
    staged-scan subplan, identical rows (r15-opt, guide §1.2/§4.4 —
    the duplicated-evaluation disease, fixed without a non-determinism
    marker).

    Columns resolve by name, so each name is backtick-quoted (any
    backtick inside it doubled): unquoted, ``df["a.b"]`` reads a dotted
    column name as a nested-field reference and fails to resolve. The
    wrapper alias is collision-checked against the input columns."""
    kept = "_kept"
    while kept in df.columns:
        kept += "_"
    cols = [df["`" + c.replace("`", "``") + "`"] for c in df.columns]
    return df.select(
        F.explode(F.when(cond, F.array(F.struct(*cols)))).alias(kept)
    ).select(f"{kept}.*")

# ---------------------------------------------------------------------------
# Normalization & tokenization

def normalize(col: Column) -> Column:
    """Lowercase, trim, collapse internal whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def normalize_sql(expr: str) -> str:
    return f"regexp_replace(lower(trim({expr})), '\\s+', ' ', 'g')"


def words(col: Column) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(normalize(col), " ")


def words_sql(expr: str) -> str:
    return f"string_split({normalize_sql(expr)}, ' ')"


#: BPE-ish subword token pattern: runs of letters, runs of digits, or a single
#: non-space symbol — approximates byte-pair tokenizer granularity closely
#: enough for budget/counting purposes.
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(col: Column) -> Column:
    """Whitespace token count (LongType)."""
    return token_count_from(normalize(col), words(col))


def token_count_from(norm: Column, w: Column) -> Column:
    """token_count from pre-staged normalized-text / words columns.

    NULL text → NULL count, explicitly: Spark's ``size(NULL)`` is -1 with
    ANSI off (``spark.sql.legacy.sizeOfNull``, the tuned-session default)
    and NULL with ANSI on, while DuckDB's ``len(NULL)`` is always NULL —
    the guard makes the twins agree in EVERY session."""
    return (
        F.when(norm.isNull(), F.lit(None))
        .when(F.length(norm) == 0, F.lit(0))
        .otherwise(F.size(w))
        .cast("long")
    )


def token_count_sql(expr: str) -> str:
    return (
        f"CAST(CASE WHEN length({normalize_sql(expr)}) = 0 THEN 0 "
        f"ELSE len({words_sql(expr)}) END AS BIGINT)"
    )


def bpe_token_count(col: Column) -> Column:
    """Regex-token count approximating BPE granularity (LongType).

    NULL text → NULL, explicitly (size(NULL) is -1 with ANSI off;
    DuckDB's len(regexp_extract_all(NULL)) is NULL — see token_count_from)."""
    return (
        F.when(col.isNull(), F.lit(None))
        .otherwise(F.size(F.regexp_extract_all(col, F.lit(_BPE_RE), F.lit(0))))
        .cast("long")
    )


def bpe_token_count_sql(expr: str) -> str:
    return f"CAST(len(regexp_extract_all({expr}, '{_BPE_RE}')) AS BIGINT)"


# ---------------------------------------------------------------------------
# Quality scoring

_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "from",
)


def quality_features(col: Column) -> dict[str, Column]:
    """Raw quality signals: char length, token count, mean word length,
    punctuation ratio, stopword ratio, digit ratio, uppercase ratio."""
    return quality_features_from(col, normalize(col), words(col))


def quality_features_from(col: Column, norm: Column, w: Column) -> dict[str, Column]:
    """quality_features from pre-staged normalized-text / words columns —
    use when computing several text features over one scan so the
    normalize/split work happens once per row, not once per feature."""
    n_chars = F.length(col).cast("double")
    n_tokens = F.size(w).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x))).cast("double")
    n_punct = (F.length(col) - F.length(F.regexp_replace(col, r"[^\w\s]", ""))).cast("double")
    n_digit = (F.length(col) - F.length(F.regexp_replace(col, r"[0-9]", ""))).cast("double")
    n_upper = (F.length(col) - F.length(F.regexp_replace(col, r"[A-Z]", ""))).cast("double")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_word_len": F.length(F.regexp_replace(norm, " ", "")).cast("double")
        / F.greatest(n_tokens, F.lit(1.0)),
        "punct_ratio": n_punct / F.greatest(n_chars, F.lit(1.0)),
        "stopword_ratio": n_stop / F.greatest(n_tokens, F.lit(1.0)),
        "digit_ratio": n_digit / F.greatest(n_chars, F.lit(1.0)),
        "upper_ratio": n_upper / F.greatest(n_chars, F.lit(1.0)),
    }


def quality_score(col: Column) -> Column:
    """Composite quality score in [0,1]: rewards mid-length documents with a
    natural stopword ratio; penalizes punctuation/digit soup.

    score = 0.25·len_score + 0.25·stop_score + 0.25·(1-punct) + 0.25·(1-digit)
    with len_score = min(n_tokens/100, 1), stop_score = min(stop_ratio/0.3, 1).
    """
    return quality_score_from(col, normalize(col), words(col))


def quality_score_from(col: Column, norm: Column, w: Column) -> Column:
    """quality_score from pre-staged normalized-text / words columns."""
    f = quality_features_from(col, norm, w)
    len_score = F.least(f["n_tokens"] / 100.0, F.lit(1.0))
    stop_score = F.least(f["stopword_ratio"] / 0.3, F.lit(1.0))
    return (
        0.25 * len_score
        + 0.25 * stop_score
        + 0.25 * (1.0 - f["punct_ratio"])
        + 0.25 * (1.0 - f["digit_ratio"])
    )


def quality_score_sql(expr: str) -> str:
    w = words_sql(expr)
    stop_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    n_chars = f"CAST(length({expr}) AS DOUBLE)"
    n_tokens = f"CAST(len({w}) AS DOUBLE)"
    n_stop = f"CAST(len(list_filter({w}, x -> list_contains([{stop_list}], x))) AS DOUBLE)"
    n_punct = f"CAST(length({expr}) - length(regexp_replace({expr}, '[^\\w\\s]', '', 'g')) AS DOUBLE)"
    n_digit = f"CAST(length({expr}) - length(regexp_replace({expr}, '[0-9]', '', 'g')) AS DOUBLE)"
    return (
        f"(0.25 * LEAST({n_tokens} / 100.0, 1.0)"
        f" + 0.25 * LEAST(({n_stop} / GREATEST({n_tokens}, 1.0)) / 0.3, 1.0)"
        f" + 0.25 * (1.0 - {n_punct} / GREATEST({n_chars}, 1.0))"
        f" + 0.25 * (1.0 - {n_digit} / GREATEST({n_chars}, 1.0)))"
    )


# ---------------------------------------------------------------------------
# Language identification (marker-word heuristic)

#: Marker words per language; scoring counts marker hits among the document's
#: tokens. Deterministic tie-break: earlier list wins, then 'und' order below.
LANG_MARKERS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "and", "of", "to", "in", "is", "that", "for")),
    ("de", ("der", "die", "und", "ist", "das", "nicht", "ein", "zu")),
    ("es", ("el", "la", "de", "que", "y", "los", "una", "por")),
    ("fr", ("le", "la", "les", "et", "des", "une", "est", "dans")),
)


def lang_scores(col: Column) -> dict[str, Column]:
    """Marker-hit count per language (token-weighted, duplicates count)."""
    return lang_scores_from(words(col))


def lang_scores_from(w: Column) -> dict[str, Column]:
    out = {}
    for lang, markers in LANG_MARKERS:
        arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(w, lambda x: F.array_contains(arr, x))).cast("long")
    return out


def lang_id(col: Column) -> Column:
    """Best-scoring language code, or 'und' when no marker hits at all.

    Argmax with deterministic preference order = declaration order in
    LANG_MARKERS (expressed as a strict > comparison chain).
    """
    return lang_id_from(words(col))


def lang_id_from(w: Column) -> Column:
    """lang_id from a pre-staged words column."""
    scores = lang_scores_from(w)
    best_lang = F.lit("und")
    best_score = F.lit(0)  # 'und' unless some language scores > 0
    # Forward fold with strict >: on ties the earlier declaration wins.
    for lang, _ in LANG_MARKERS:
        s = scores[lang]
        take = s > best_score
        best_lang, best_score = (
            F.when(take, F.lit(lang)).otherwise(best_lang),
            F.when(take, s).otherwise(best_score),
        )
    return best_lang


def lang_id_sql(expr: str) -> str:
    w = words_sql(expr)

    def score(markers: tuple[str, ...]) -> str:
        lst = ", ".join(f"'{m}'" for m in markers)
        return f"CAST(len(list_filter({w}, x -> list_contains([{lst}], x))) AS BIGINT)"

    # Same forward fold with strict > as lang_id(), over identical score
    # expressions, so the oracle can never rank differently.
    best_lang, best_score = "'und'", "0"
    for lang, markers in LANG_MARKERS:
        s = score(markers)
        cond = f"{s} > {best_score}"
        best_lang = f"CASE WHEN {cond} THEN '{lang}' ELSE {best_lang} END"
        best_score = f"CASE WHEN {cond} THEN {s} ELSE {best_score} END"
    return best_lang


# ---------------------------------------------------------------------------
# Fingerprinting

def fingerprint(col: Column) -> Column:
    """Exact-content fingerprint: md5 of the normalized text."""
    return F.md5(normalize(col))


def fingerprint_sql(expr: str) -> str:
    return f"md5({normalize_sql(expr)})"


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (ArrayType[str]).

    Documents shorter than n words yield a single shingle of the whole text,
    so every non-empty document has at least one shingle.

    The words array is BOUND as a lambda variable (a 1-element transform)
    before the per-shingle lambda uses it: expressions inside a
    higher-order function's lambda are inlined and re-evaluated PER
    ELEMENT (no CSE across the lambda boundary), so the previous direct
    form re-split the whole text once per shingle — O(len²) per document
    (measured 2.6× on ngram_jaccard_pairs at sf0.1).
    """

    def build(w: Column) -> Column:
        k = F.size(w)
        grams = F.transform(
            F.sequence(F.lit(1), k - (n - 1)),
            lambda i: F.array_join(F.slice(w, i, n), " "),
        )
        return F.array_distinct(
            F.when(k >= n, grams).otherwise(F.array(F.array_join(w, " ")))
        )

    return F.element_at(F.transform(F.array(words(col)), build), 1)


def shingles_sql(expr: str, n: int = 3) -> str:
    w = f"({words_sql(expr)})"
    joined = " || ' ' || ".join(f"{w}[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({w}) >= {n} "
        f"THEN list_distinct(list_transform(range(1, len({w}) - {n} + 2), i -> {joined})) "
        f"ELSE [array_to_string({w}, ' ')] END"
    )


def rolling_fingerprint(col: Column, n: int = 3) -> Column:
    """Content-defined fingerprint robust to local edits: the lexicographic
    minimum of the md5 hashes of the document's n-gram shingles (a 1-hash
    MinHash — identical for documents sharing their minimal shingle)."""
    return F.array_min(F.transform(shingles(col, n), F.md5))


def rolling_fingerprint_sql(expr: str, n: int = 3) -> str:
    return f"list_min(list_transform({shingles_sql(expr, n)}, s -> md5(s)))"


# ---------------------------------------------------------------------------
# PII / URL scrubbing (training-data cleanup).
#
# Pattern, replacement pairs applied IN ORDER (emails before URLs before
# phone runs, so a scrubbed token never re-matches a later pattern). The
# same tuple drives the Spark Column builder and the DuckDB oracle SQL, so
# the two sides cannot drift. Patterns deliberately use only syntax with
# identical semantics in Java regex (Spark) and RE2 (DuckDB): character
# classes, + / {m,} quantifiers, no backreferences or lookaround.

PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\+?\d[\d-]{7,}\d", "<PHONE>"),
)


def scrub_pii(col: Column) -> Column:
    """Redact emails, URLs, and phone-number runs — pure Catalyst
    regexp_replace chain, whole-stage-codegen'd, no Python."""
    for pat, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    return col


def scrub_pii_sql(expr: str) -> str:
    for pat, repl in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return expr


def pii_count(col: Column) -> Column:
    """Number of redactions scrub_pii would make (pre-scrub match count)."""
    out = F.lit(0)
    for pat, _ in PII_PATTERNS:
        out = out + F.regexp_count(col, F.lit(pat))
    return out


def pii_count_sql(expr: str) -> str:
    return " + ".join(
        f"len(regexp_extract_all({expr}, '{pat}'))" for pat, _ in PII_PATTERNS
    )


# ---------------------------------------------------------------------------
# Within-document repetition features (Gopher-style "repetitious text"
# signals — Rae et al. 2021 §A1.1, public thresholds). All PER-ROW array
# arithmetic: at 100 TB these run inside whole-stage codegen with ZERO
# shuffle — document length is bounded, so the O(distinct·n) per-row mode
# scan beats an explode + (doc_id, gram) shuffle by the width of the data.


def dup_ngram_frac(col: Column, n: int) -> Column:
    """Fraction of n-gram occurrences that are redundant repeats:
    1 - distinct/total. 0.0 for unique text, → 1.0 for degenerate loops."""
    return dup_ngram_frac_from(words(col), n)


def dup_ngram_frac_from(w: Column, n: int) -> Column:
    """dup_ngram_frac from a pre-staged words column.

    The n-grams are ``arrays_zip`` of n shifted slices — structs, not
    joined strings — because arrays_zip/slice/array_distinct are all
    native JVM builtins while a transform(...array_join(slice...)) lambda
    is interpreted per element (measured 1.7× slower). The struct and the
    joined-string gram have identical distinct-ness (words contain no
    spaces), so the oracle's string form computes the same value."""
    k = F.size(w)
    g = F.arrays_zip(*[F.slice(w, i + 1, k - (n - 1)) for i in range(n)])
    return F.when(
        k >= n, F.lit(1.0) - F.size(F.array_distinct(g)) / F.size(g)
    ).otherwise(F.lit(0.0))


def dup_ngram_frac_sql(expr: str, n: int) -> str:
    w = f"({words_sql(expr)})"
    joined = " || ' ' || ".join(f"{w}[i + {j}]" for j in range(n))
    g = (
        f"(list_transform(range(1, len({w}) - {n} + 2), i -> {joined}))"
    )
    return (
        f"CASE WHEN len({w}) >= {n} "
        f"THEN 1.0 - len(list_distinct({g})) / CAST(len({g}) AS DOUBLE) "
        f"ELSE 0.0 END"
    )


def top_word_frac(col: Column) -> Column:
    """Mode word frequency / word count (Gopher flags > 0.2 as repetitious
    for the top 2-gram; the unigram form is the classic C4 signal)."""
    return top_word_frac_from(words(col))


def top_word_frac_from(w: Column) -> Column:
    """top_word_frac from a pre-staged words column.

    Mode frequency = longest equal-run in the SORTED words array, computed
    by a single O(n) aggregate fold — 4× faster than the naive
    distinct×filter scan (O(distinct·n) interpreted lambda steps), and
    length-robust: cost doesn't grow with vocabulary. The oracle keeps the
    naive form (DuckDB executes its lambdas natively); both compute the
    same value."""
    s = F.array_sort(w)
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, x):
        run = F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc.best, run).alias("best")
        )

    return F.aggregate(s, acc0, step, lambda a: a.best) / F.size(w)


def top_word_frac_sql(expr: str) -> str:
    w = f"({words_sql(expr)})"
    return (
        f"list_max(list_transform(list_distinct{w}, "
        f"x -> len(list_filter({w}, y -> y = x)))) / CAST(len{w} AS DOUBLE)"
    )


# ---------------------------------------------------------------------------
# Gopher-style composite quality rules (Rae et al. 2021 §A1.1; the word-
# count floor is scaled to this corpus' 10-110-word synthetic documents —
# the published floor of 50 is a constant swap). One shared constant table
# drives the Spark plan AND the DuckDB oracle.

GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
#: ≥ 2 distinct members of the published stop-word probe set must appear.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a")
GOPHER_MIN_STOPWORD_HITS = 2
#: symbol-to-word ratio ceiling (hash marks + ellipses per word).
GOPHER_MAX_SYMBOL_RATIO = 0.1


def gopher_features(col: Column) -> dict[str, Column]:
    return gopher_features_from(col, normalize(col), words(col))


def gopher_features_from(col: Column, norm: Column, w: Column) -> dict[str, Column]:
    """gopher_features from pre-staged normalized-text / words columns.

    mean_word_len exploits the staging invariant that ``norm`` is the
    single-space join of ``w``: sum(word lengths) = length(norm) - (k-1),
    avoiding a per-word interpreted fold entirely — every feature here is
    native JVM expression arithmetic."""
    k = F.size(w)
    mean_len = (F.length(norm) - (k - 1)) / k.cast("double")
    stop_hits = F.size(
        F.array_intersect(w, F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))
    )
    symbols = F.regexp_count(col, F.lit(r"#|\.\.\.")) / k.cast("double")
    return {
        "n_words": k.cast("long"),
        "mean_word_len": mean_len,
        "stop_hits": stop_hits.cast("long"),
        "symbol_ratio": symbols,
    }


def gopher_features_sql(expr: str) -> dict[str, str]:
    w = f"({words_sql(expr)})"
    norm = f"({normalize_sql(expr)})"
    stoplist = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return {
        "n_words": f"CAST(len{w} AS BIGINT)",
        "mean_word_len": (
            f"(length({norm}) - (len{w} - 1)) / CAST(len{w} AS DOUBLE)"
        ),
        "stop_hits": f"CAST(len(list_intersect({w}, [{stoplist}])) AS BIGINT)",
        "symbol_ratio": (
            f"len(regexp_extract_all({expr}, '#|\\.\\.\\.')) / CAST(len{w} AS DOUBLE)"
        ),
    }


# ---------------------------------------------------------------------------
# Document chunking: fixed word windows with overlap (context-window prep
# for tokenize/pack stages; the overlap preserves cross-boundary n-grams).

CHUNK_WORDS = 32
CHUNK_STRIDE = 24  # 8-word overlap


def chunk_starts(n_words: Column, chunk: int = CHUNK_WORDS, stride: int = CHUNK_STRIDE) -> Column:
    """1-based word offsets of each chunk: 1, 1+stride, ... — the last
    start is the smallest covering the final word (ceil((n-chunk)/stride)
    steps); a document at most `chunk` words long is a single chunk."""
    steps = F.ceil((F.greatest(n_words, F.lit(chunk)) - chunk) / F.lit(stride))
    return F.transform(F.sequence(F.lit(0), steps), lambda i: i * stride + 1)


def chunk_starts_sql(n_expr: str, chunk: int = CHUNK_WORDS, stride: int = CHUNK_STRIDE) -> str:
    return (
        f"list_transform(range(0, CAST(ceil((greatest({n_expr}, {chunk}) - {chunk}) "
        f"/ {stride}.0) AS BIGINT) + 1), i -> i * {stride} + 1)"
    )
