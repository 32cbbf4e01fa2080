"""Catalyst-native Bloom filter: distributed build, codegen probe.

The cross-corpus dedup / decontamination shuffle problem: ``A ANTI JOIN B``
on a fingerprint shuffles ALL of A when B is too big to broadcast — at
100 TB that is the pipeline's dominant exchange. A Bloom filter of B's
keys splits A scan-side instead (the classic runtime-filter pattern,
which Spark applies to equi-joins but NOT to the anti-joins dedup needs —
pruning an anti-join's left side would prune exactly the kept rows):

- **bloom-negative rows are definitely not in B** — they bypass the join
  entirely (pure whole-stage-codegen filter over the pushdown scan);
- **bloom-positive rows** (true matches + fpp false positives) take the
  exact confirm anti-join, whose shuffle is now ``|A∩B| + fpp·|A|``
  instead of ``|A|``.

The result is EXACTLY ``A \\ B`` — our bloom cannot have false negatives
by construction (every B key sets its k bits through the same JVM
``xxhash64`` the probe evaluates), so correctness never depends on the
sketch and the DuckDB oracle is a plain ``NOT EXISTS``.

Spark-first mechanics (no JVM sketch API needed, everything is columnar):

- **build**: k ``xxhash64(key, seed_i) mod m`` positions per key,
  ``bit_or`` of ``1 << (pos % 64)`` grouped by word index — ONE tiny
  aggregation whose shuffle is ≤ m/64 longs regardless of |B|; only the
  bitmap words reach the driver (m = 2^20 bits → 16 KB).
- **probe**: the bitmap is an ``array<long>`` LITERAL in the filter
  expression — it ships with the task closure like a broadcast and the
  k membership tests are pure codegen (element_at + bitwiseAND), zero
  Python, zero extra scan. For multi-GB bitmaps (≥ ~10^9 keys) swap the
  literal for the same bitmap in a mapInPandas closure with the hash
  columns computed JVM-side — the build stays identical.

Sizing: fpp ≈ (1 - e^(-k·n/m))^k; the defaults (k=5) want m ≈ 10 bits
per distinct key for fpp ≈ 0.9%.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["bloom_build", "bloom_might_contain", "bloom_anti_join"]


def _positions(key: Column, m_bits: int, k: int) -> list[Column]:
    """The k bit positions of ``key``: pmod(xxhash64(key, i), m). Seeding
    with a literal second column gives k independent 64-bit hashes from
    the one JVM implementation, so build and probe can never drift."""
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)) for i in range(k)
    ]


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int | None = None, k: int = 5
) -> list[int]:
    """Build the bitmap distributed and return its ``m_bits/64`` words.

    One explode (k positions per key, map-side) + one groupBy(word) with
    a ``bit_or`` partial aggregate: the only shuffle carries at most
    m/64 (word, partial_bits) rows per map task — independent of |B|.

    ``m_bits=None`` AUTO-SIZES at ~10 bits per build-side row (one count
    aggregate, rounded up to a power of two) — a fixed m silently
    degenerates as B grows (at 1 bit/key every probe is positive and the
    confirm join is back to full size), so sizing belongs to build time,
    exactly like choosing a broadcast threshold. The sizing count IS a
    second pass over B's source — but a cheap one: ``count()`` needs no
    columns, so Catalyst prunes every projection (including a derived
    key expression like md5(normalize(text))) out of that scan; pass an
    explicit ``m_bits`` (or an upstream-known row count via
    ``1 << ceil(log2(10*n))``) to make the build strictly single-pass."""
    import math

    if m_bits is None:
        n = df.count()
        m_bits = 1 << max(6, math.ceil(math.log2(10 * n + 1)))
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    pos = df.select(
        F.explode(F.array(*_positions(F.col(key_col), m_bits, k))).alias("pos")
    )
    rows = (
        pos.select(
            F.shiftright(F.col("pos"), 6).cast("int").alias("w"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod(F.col("pos"), F.lit(64)).cast("int"),
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in rows:
        words[r["w"]] = r["bits"]
    return words


def bloom_might_contain(
    key: Column, words: list[int], m_bits: int, k: int = 5
) -> Column:
    """Pure-codegen membership test against the literal bitmap: true iff
    ALL k bits are set (possibly-in-B); false means definitely-not-in-B.

    The bitmap ships as ONE array<long> Literal node (bulk-transferred —
    functions/litarray.py), not a CreateArray with m/64 child literals:
    the k probe sites each reference the bitmap, so the list form planted
    k·(m/64) expression nodes in the filter — ~80K at m=2^20 — and
    Catalyst analysis of that tree dominated plan build (r16, guide §5)."""
    from velostream_spark.functions.litarray import long_array_lit

    bitmap = long_array_lit(words)
    conds = []
    for p in _positions(key, m_bits, k):
        word = F.element_at(bitmap, (F.shiftright(p, 6) + 1).cast("int"))
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(64)).cast("int")
        )
        conds.append(word.bitwiseAND(mask) != 0)
    return reduce(lambda a, b: a & b, conds)


def bloom_anti_join(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    m_bits: int | None = None,
    k: int = 5,
    stage_a: bool = False,
) -> DataFrame:
    """EXACT ``A \\ B`` on ``key_col`` (NOT EXISTS semantics: NULL keys in
    A are kept, like a regular anti-join) with the bloom prefilter
    bounding the confirm join. Bloom-negative rows flow straight from the
    scan; bloom-positive rows anti-join B's keys (the anti join's own
    hash build dedupes them). The two
    branches are scans of the same source with complementary pushable
    filters — two cheap columnar reads in place of shuffling all of A.

    ``stage_a`` is the fast path for a DERIVED key column (e.g.
    md5(normalize(text))): the two output branches each re-evaluate A's
    projection from the scan, so an expensive key expression is computed
    twice. ``stage_a=True`` materializes A's rows once (localCheckpoint)
    and both branches read the staged partitions. Leave False when the
    key is a STORED column (the 100-TB shape — fingerprints land in the
    table) or A's projection is cheap: two pushdown scans of stored
    columns beat a checkpoint write. Measured (PERF.md Round-11, 128x/
    512x): derived keys 13.90/53.2 s -> staged 11.62/49.3 s -> stored
    column 10.29/42.7 s; full table in PERF.md."""
    from velostream_spark.operators.textops import gate_rows

    if stage_a:
        a = a.localCheckpoint(eager=False)
    words = bloom_build(b, key_col, m_bits, k)
    hit = bloom_might_contain(F.col(key_col), words, len(words) * 64, k)
    # no .distinct() on the build side: LEFT ANTI is a membership test, so
    # the join's own hash build dedupes — an explicit distinct would add a
    # full |B| exchange for nothing
    keys = b.select(key_col)
    # gate_rows, not .where (r15-opt): a plain filter is pushed below A's
    # projection, so a DERIVED key (md5(normalize(text))) is re-inlined
    # into every one of the k xxhash64 probe sites in the Filter AND
    # recomputed in the projection; gate_rows keeps the probe referencing
    # the once-computed key attribute (CollapseProject declines to
    # duplicate the non-cheap alias). Measured on the documents corpus at
    # sf0.1: 0.60 -> 0.29 s for the full anti-join, identical rows —
    # and it applies to the STREAMING left side too, where stage_a's
    # localCheckpoint is unavailable.
    kept_neg = gate_rows(a, ~hit | F.col(key_col).isNull())
    confirmed = gate_rows(a, hit & F.col(key_col).isNotNull()).join(
        keys, key_col, "left_anti"
    )
    return kept_neg.unionByName(confirmed)
