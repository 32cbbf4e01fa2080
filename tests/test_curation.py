"""Round-8 corpus-curation operators: span dedup, mixing, global shuffle.

Correctness vs DuckDB is covered by the parity mirror (test_oracle_parity);
these tests pin the operator CONTRACTS — permutation totality, epoch-weight
arithmetic, reassembly fidelity — and the 100-TB plan shapes.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from velostream_spark.operators import curation, textops
from velostream_spark.registry import all_queries


def _run(spark, name):
    return all_queries()[name].fn(spark, SF_SMOKE)


# ---------------------------------------------------------------------------
# global_shuffle


def test_global_shuffle_is_total_permutation(spark):
    """global_pos must be exactly 0..N-1, each once (a permutation, not
    just a rank-ish ordering)."""
    df = _run(spark, "global_shuffle").cache()
    try:
        n = df.count()
        agg = df.agg(
            F.min("global_pos").alias("lo"),
            F.max("global_pos").alias("hi"),
            F.countDistinct("global_pos").alias("d"),
        ).first()
        assert (agg["lo"], agg["hi"], agg["d"]) == (0, n - 1, n)
    finally:
        df.unpersist()


def test_global_shuffle_deterministic(spark):
    a = {r["doc_id"]: r["global_pos"] for r in _run(spark, "global_shuffle").collect()}
    b = {r["doc_id"]: r["global_pos"] for r in _run(spark, "global_shuffle").collect()}
    assert a == b


def test_global_shuffle_shard_tiles_global_order(spark):
    """Shard = leading byte of the order key, so per-shard pos ranges must
    be contiguous and non-overlapping in shard order — the invariant that
    makes the sort-free construction equal one total-order ROW_NUMBER."""
    rows = (
        _run(spark, "global_shuffle")
        .groupBy("shard")
        .agg(F.min("global_pos").alias("lo"), F.max("global_pos").alias("hi"), F.count("*").alias("n"))
        .orderBy("shard")
        .collect()
    )
    expect_lo = 0
    for r in rows:
        assert r["lo"] == expect_lo, rows
        assert r["hi"] == r["lo"] + r["n"] - 1
        expect_lo = r["hi"] + 1


# ---------------------------------------------------------------------------
# corpus_mix


def test_corpus_mix_epoch_counts_match_weights(spark):
    df = _run(spark, "corpus_mix")
    per_doc = df.groupBy("doc_id", "lang").agg(F.count("*").alias("n"), F.max("epoch").alias("me"))
    rows = per_doc.collect()
    for r in rows:
        milli = curation.MIX_WEIGHTS_MILLI.get(r["lang"], curation.MIX_DEFAULT_MILLI)
        full = milli // 1000
        assert r["n"] in (full, full + 1), r
        # epochs are the contiguous prefix 1..n
        assert r["me"] == r["n"], r


def test_corpus_mix_fraction_share_is_hash_exact(spark):
    """The extra-copy share is not approximate: it is exactly the set of
    docs whose sample hash clears the milli-weight remainder."""
    from velostream_spark.operators.sampling import sample_hash
    from velostream_spark.session import load_tables

    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    expected = (
        docs.where(F.col("lang") == "en")
        .select(
            F.sum(
                F.when(
                    sample_hash(F.col("doc_id"))
                    < curation.MIX_WEIGHTS_MILLI["en"] % 1000,
                    1,
                ).otherwise(0)
            ).alias("extra"),
            F.count("*").alias("n"),
        )
        .first()
    )
    got = (
        _run(spark, "corpus_mix")
        .where(F.col("lang") == "en")
        .groupBy("doc_id")
        .count()
        .where(F.col("count") == curation.MIX_WEIGHTS_MILLI["en"] // 1000 + 1)
        .count()
    )
    assert got == expected["extra"]


# ---------------------------------------------------------------------------
# span_dedup


def test_span_dedup_untouched_docs_roundtrip(spark):
    """Documents with no removed spans must reassemble to their normalized
    text exactly (split/rejoin is lossless)."""
    from velostream_spark.session import load_tables

    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    joined = (
        _run(spark, "span_dedup")
        .join(docs.select("doc_id", textops.normalize(F.col("text")).alias("norm")), "doc_id")
    )
    bad = joined.where(
        (F.col("n_removed") == 0) & (F.col("clean_text") != F.col("norm"))
    ).count()
    assert bad == 0
    assert joined.where(F.col("n_removed") == 0).count() > 0


def test_span_dedup_survivor_rule(spark):
    """A span occurring in k>1 docs survives in exactly one (the min id):
    total removals == sum over duplicated spans of (occurrences - 1)."""
    from velostream_spark.session import load_tables

    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    s = curation.SPAN_WORDS
    ws = textops.words(F.col("text"))
    staged = docs.select(
        "doc_id", ws.alias("w"), F.ceil(F.size(ws) / s).cast("int").alias("n")
    )
    spans = staged.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - 1),
                lambda i: F.md5(F.array_join(F.slice(F.col("w"), i * s + 1, s), " ")),
            )
        ).alias("h"),
    )
    dup_excess = (
        spans.groupBy("h").count().where(F.col("count") > 1)
        .agg(F.sum(F.col("count") - 1)).first()[0]
    ) or 0
    removed = _run(spark, "span_dedup").agg(F.sum("n_removed")).first()[0]
    assert removed == dup_excess


def test_span_dedup_null_and_empty_text_match_oracle(spark):
    """NULL text coalesces to '' in BOTH twins (round-8 advice): a NULL or
    empty doc flows through as one empty span on Spark AND DuckDB — neither
    engine drops the row, and duplicate empty docs dedup like any span."""
    import duckdb
    import pandas as pd

    from velostream_spark.operators.curation import span_dedup, span_dedup_sql

    rows = [
        (1, "a b c d e f g h i j k l"),
        (2, "a b c d e f g h i j x y"),  # shares first span with doc 1
        (3, None),
        (4, None),  # duplicate NULL doc → its empty span is removed
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in span_dedup(df).collect())
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = sorted(tuple(r) for r in con.execute(span_dedup_sql()).fetchall())
    assert got == want
    assert (3, "", 1, 0) in got  # NULL doc present, not dropped


# ---------------------------------------------------------------------------
# Plan pins (100-TB shapes)


def _plan(spark, name):
    import contextlib
    import io

    df = _run(spark, name)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_corpus_mix_zero_shuffle_scan_side(spark):
    plan = _plan(spark, "corpus_mix")
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan  # explode of the epochs slice


def test_global_shuffle_no_global_sort(spark):
    plan = _plan(spark, "global_shuffle")
    assert "CartesianProduct" not in plan
    # per-shard ranking after a hash exchange on the 256-way shard key
    assert "hashpartitioning(shard" in plan, plan
    # shard base offsets join back by broadcast
    assert "BroadcastHashJoin" in plan, plan
    # the only single-partition window is the 256-row offsets dimension:
    # the corpus-side window partitions by shard
    assert "Window" in plan, plan


def test_span_dedup_shuffles_hashes_not_text(spark):
    plan = _plan(spark, "span_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # occurrence counting exchanges on the span hash
    assert "hashpartitioning(_h" in plan, plan
    # reassembly groups by doc id
    assert "hashpartitioning(doc_id" in plan, plan


# ---------------------------------------------------------------------------
# curation_pipeline (composed end-to-end)


def test_curation_pipeline_is_one_lazy_plan_no_text_after_fingerprint(spark):
    plan = _plan(spark, "curation_pipeline")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # packing + shuffle stages exchange on stratum/shard keys
    assert "hashpartitioning" in plan, plan
    # the only broadcast is the 256-row shard-offset dimension
    assert "BroadcastHashJoin" in plan, plan


def test_curation_pipeline_composes_stage_contracts(spark):
    """Pipeline output must agree with the standalone stages: every output
    doc survives the standalone gopher gate and exact-dedup survivor rule,
    epochs respect the mix weights, and global_pos is a permutation."""
    from pyspark.sql import functions as F

    out = _run(spark, "curation_pipeline").cache()
    try:
        n = out.count()
        perm = out.agg(
            F.min("global_pos"), F.max("global_pos"), F.countDistinct("global_pos")
        ).first()
        assert tuple(perm) == (0, n - 1, n)
        gate = _run(spark, "gopher_quality_filter").where(~F.col("passes"))
        leaked = out.join(gate, "doc_id", "left_semi").count()
        assert leaked == 0
        per_doc = out.groupBy("doc_id", "lang").count().collect()
        for r in per_doc:
            milli = curation.MIX_WEIGHTS_MILLI.get(
                r["lang"], curation.MIX_DEFAULT_MILLI
            )
            assert r["count"] in (milli // 1000, milli // 1000 + 1), r
        # packs never exceed budget by more than one document's tokens
        from velostream_spark.queries.pipeline import _PIPE_PACK_BUDGET

        over = (
            out.groupBy("lang", "epoch", "pack_id")
            .agg(F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx"))
            .where(F.col("tot") - F.col("mx") >= _PIPE_PACK_BUDGET)
            .count()
        )
        assert over == 0
    finally:
        out.unpersist()


def test_ffd_packing_exact_and_beats_greedy(spark):
    """pack_sequences_ffd == an independent pure-Python FFD on the same
    rows (bit-equal assignment), every pack within budget (except
    oversized singletons), and pack COUNT ≤ greedy's on the same corpus —
    the padding win that justifies the operator."""
    import random

    from velostream_spark.operators import sampling

    rng = random.Random(11)
    rows = [(i, rng.choice(["en", "de"]), rng.randint(10, 300)) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, tokens long")
    budget = 256
    got = {
        (r["lang"], r["doc_id"]): r["pack_id"]
        for r in sampling.pack_sequences_ffd(
            df, "doc_id", "tokens", budget, "lang"
        ).withColumnRenamed("_stratum", "lang").collect()
    }

    def ffd_ref(items):  # independent reference: (id, tokens) -> pack ids
        items = sorted(items, key=lambda x: (-x[1], x[0]))
        rem, out = [], {}
        for i, t in items:
            for j, r in enumerate(rem):
                if r >= t:
                    rem[j] -= t
                    out[i] = j
                    break
            else:
                rem.append(budget - t)
                out[i] = len(rem) - 1
        return out, len(rem)

    greedy_packs = 0
    for lang in ("en", "de"):
        items = [(i, t) for i, lg, t in rows if lg == lang]
        want, n_ffd = ffd_ref(items)
        assert {i: got[(lang, i)] for i, _ in items} == want, lang
        # budget invariant: only single-document oversized packs may exceed
        fill: dict = {}
        members: dict = {}
        for i, t in items:
            fill[want[i]] = fill.get(want[i], 0) + t
            members.setdefault(want[i], []).append(t)
        for p, v in fill.items():
            assert v <= budget or (
                len(members[p]) == 1 and members[p][0] > budget
            ), (p, v, members[p])
        # greedy pack count on the same stratum (id order, cumulative)
        items_id = sorted(items)
        acc = packs = 0
        for _i, t in items_id:
            if acc + t > budget:
                packs += 1
                acc = t
            else:
                acc += t
        packs += 1 if acc else 0
        assert n_ffd <= packs, (lang, n_ffd, packs)
        greedy_packs += packs
    ffd_total = len({(lg, p) for (lg, _i), p in got.items()})
    assert ffd_total < greedy_packs  # strict win on this corpus


def test_ffd_packing_string_ids(spark):
    """Non-integral id columns (string/uuid doc ids) pass through the Arrow
    boundary unchanged — the output schema derives the id type from the
    input instead of hardcoding long (round-8 advice)."""
    from velostream_spark.operators import sampling

    rows = [(f"doc-{i:03d}", (i * 37) % 90 + 10) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, tokens long")
    out = sampling.pack_sequences_ffd(df, "doc_id", "tokens", 128)
    assert out.schema["doc_id"].dataType.simpleString() == "string"
    got = out.collect()
    assert sorted(r["doc_id"] for r in got) == sorted(i for i, _ in rows)
    fill: dict = {}
    for r in got:
        fill[r["pack_id"]] = fill.get(r["pack_id"], 0) + r["tokens"]
    assert all(v <= 128 for v in fill.values())


def test_gate_rows_dotted_and_backticked_names_match_where(spark):
    # gate_rows resolves each column by name; a dot or a backtick in the
    # name must not turn it into a nested-field reference or a parse error
    df = spark.createDataFrame(
        [(1, "a", 5), (2, None, -1), (3, "c", None), (4, "d", 9)],
        "`a.b` INT, `x``y` STRING, n INT",
    )
    cond = (F.col("n") > 0) & F.col("`x``y`").isNotNull()
    gated = textops.gate_rows(df, cond)
    assert gated.columns == df.columns
    assert sorted(gated.collect()) == sorted(df.where(cond).collect())
    assert sorted(gated.collect()) == [(1, "a", 5), (4, "d", 9)]


def test_corpus_stats_null_and_empty_text_parity(spark):
    """corpus_stats' empty_rate / token arithmetic handles NULL and
    empty-string docs identically on both engines (the bundled corpus has
    neither, so the mirror can't exercise this arm)."""
    import duckdb
    import pandas as pd

    from velostream_spark.queries import pipeline
    from velostream_spark.queries.pipeline import _CORPUS_STATS_ORACLE, corpus_stats

    rows = [
        (1, "en", "web", "alpha beta gamma"),
        (2, "en", "web", None),
        (3, "de", "book", ""),
        (4, "de", "book", "   "),  # whitespace-only = empty after trim
        (5, "en", "book", "alpha beta gamma"),  # dup of doc 1's content
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "lang", "source", "text"])
    df = spark.createDataFrame(pdf)
    # swap the module-level table loader for a toy-frame stand-in
    # (pipeline.py binds `tables` at import, so patch ITS binding)
    orig = pipeline.tables
    try:
        pipeline.tables = lambda _s, _d: {"documents": df}
        key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
        got = sorted(
            (tuple(r) for r in corpus_stats(spark, "unused").collect()), key=key
        )
    finally:
        pipeline.tables = orig
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(
        (tuple(r) for r in con.execute(_CORPUS_STATS_ORACLE).fetchall()), key=key
    )
    assert got == want, (got, want)


def test_text_entries_null_text_parity_under_tuned_session(spark):
    """Round-9 NULL convention: every per-document text entry agrees with
    its oracle on NULL/empty text IN ANY SESSION. Before this pin, Spark's
    size(NULL)=-1 (ANSI off) leaked -1 token counts, explode(words(NULL))
    silently DROPPED the simhash row, and array_join over an all-NULL
    minhash array emitted '' where the oracle gave NULL."""
    import duckdb
    import pandas as pd

    from velostream_spark.queries import pipeline

    rows = [
        (1, "en", "web", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "en", "web", None),
        (3, "de", "book", ""),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "lang", "source", "text"])
    df = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("documents", pdf)
    key = lambda t: tuple((x is None, str(x)) for x in t)  # noqa: E731
    orig = pipeline.tables
    try:
        pipeline.tables = lambda _s, _d: {"documents": df}
        for name in (
            "text_analysis",
            "minhash_signature",
            "simhash",
            "gopher_quality_filter",
            "doc_chunking",
            "rolling_fingerprint",
            "dedup_exact",
            "pii_scrub",
            "lm_quality_score",
            "bpe_encode",
        ):
            e = all_queries()[name]
            got = sorted((tuple(r) for r in e.fn(spark, "x").collect()), key=key)
            want = sorted(
                (tuple(r) for r in con.execute(e.oracle).fetchall()), key=key
            )
            assert got == want, (name, got, want)
    finally:
        pipeline.tables = orig


def test_corpus_stats_approx_within_hll_tolerance(spark):
    """The HLL twin must agree with the exact dataset card: identical
    plain aggregates (they share the plan scan-side), and dup_rate_approx
    within the rsd=0.01 sketch's error band of the exact dup_rate on
    every rollup row (loose 5-sigma bound on the distinct count, mapped
    through the rate formula)."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from velostream_spark.registry import all_queries

    qs = all_queries()
    exact = {
        (r["lang"], r["source"]): r.asDict()
        for r in qs["corpus_stats"].fn(spark, SF_SMOKE).collect()
    }
    approx = {
        (r["lang"], r["source"]): r.asDict()
        for r in qs["corpus_stats_approx"].fn(spark, SF_SMOKE).collect()
    }
    assert set(exact) == set(approx) and len(exact) > 0
    for key, e in exact.items():
        a = approx[key]
        # r14: the twin recomputes the exact rate in-query (dup_rate now
        # matches the exact twin bit-for-bit) and carries the in-row HLL
        # within_bound validation the driver's oracle checks
        for col in ("n_docs", "total_tokens", "avg_tokens", "p50_tokens",
                    "p95_tokens", "empty_rate", "dup_rate"):
            assert a[col] == e[col], (key, col, a[col], e[col])
        assert a["dup_within_bound"] is True, key
