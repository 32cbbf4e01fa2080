"""Physical-plan audits: the plans Catalyst picks must stay the plans we
want at 100 TB — filters reaching the parquet scan, projections pruned,
dimension joins broadcast, aggregations map-side-combined, top-k not a full
sort. A regression here (e.g. a broadcast silently becoming a sort-merge
join after a refactor) is a scale bug the row-level oracle can't see.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from tests.conftest import SF_SMOKE

from velostream_spark.registry import all_queries


def plan_of(spark, name: str) -> str:
    # Memoized entries (semdedup, ann_ivf_*) hand back the SAME DataFrame
    # a previous test may have executed; an executed AQE plan explains as
    # Final Plan + Initial Plan, doubling every node string. Clear the
    # memo so these audits always pin the freshly-constructed shape.
    from velostream_spark.registry import _PLAN_MEMO

    _PLAN_MEMO.clear()
    df = all_queries()[name].fn(spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_select_where_pushes_filters_and_prunes(spark):
    plan = plan_of(spark, "select_where")
    assert "PushedFilters: [" in plan and "IsNotNull" in plan, plan
    # projection pruning: the scan must not read every lineitem column
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_comment" not in scan, f"unpruned scan: {scan}"


def test_stream_table_join_broadcasts_dimension(spark):
    plan = plan_of(spark, "stream_table_join")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_group_by_agg_has_partial_aggregation(spark):
    plan = plan_of(spark, "group_by_agg")
    # map-side combine: a partial HashAggregate before the exchange and a
    # final one after — the pattern that keeps 100-TB groupBys shuffle-light
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_sum" in plan, plan
    assert "hashpartitioning" in plan, plan


def test_order_by_limit_is_topk_not_full_sort(spark):
    plan = plan_of(spark, "order_by_limit")
    assert "TakeOrderedAndProject" in plan, plan


def test_exists_subquery_is_semi_join(spark):
    plan = plan_of(spark, "exists_subquery")
    assert "LeftSemi" in plan, plan


def test_not_in_handles_null_semantics_without_cartesian(spark):
    plan = plan_of(spark, "not_in_subquery")
    # NOT IN with nullable key requires null-aware anti join — fine if
    # broadcast; a plain CartesianProduct would be a scale bug
    assert "CartesianProduct" not in plan, plan


def test_minhash_band_join_is_key_join_without_arrays(spark):
    plan = plan_of(spark, "minhash_lsh_pairs")
    # the candidate-generation join keys on the band hash only; shingle
    # arrays rejoin after pair dedup, never riding the band join's
    # build/stream sides (at tiny SF AQE broadcasts; at scale the same
    # plan shape becomes an exchange on _band — either way no array
    # payload in the join input)
    assert "_band" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_whole_stage_codegen_everywhere_cheap(spark):
    # scalar-function batteries must stay entirely inside codegen: no
    # BatchEvalPython / row-at-a-time UDF nodes in any catalog plan that
    # doesn't explicitly opt into pandas (multimodal/audio only); codegen
    # stars (*(n)) only show in simple explain mode
    import contextlib
    import io

    for name in ("math_functions", "string_functions", "text_analysis",
                 "date_functions", "decimal_arithmetic"):
        df = all_queries()[name].fn(spark, SF_SMOKE)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("simple")
        plan = buf.getvalue()
        assert "BatchEvalPython" not in plan, name
        # codegen stars are elided until AQE finalizes a plan; either a
        # codegen span or an (unexecuted) AdaptiveSparkPlan wrapper is fine
        assert "*(" in plan or "AdaptiveSparkPlan" in plan, (
            f"{name} has no whole-stage-codegen span: {plan}"
        )


def test_tumbling_window_partial_agg(spark):
    plan = plan_of(spark, "tumbling_window")
    assert plan.count("HashAggregate") >= 2, plan


def test_in_subquery_is_broadcast_semi_join(spark):
    # the bench's closest-to-the-bar query (VERDICT r2: exactly 0.50x):
    # pin the broadcast semi-join shape so a silent fallback to
    # shuffle/sort-merge can't push it under the bar unnoticed
    plan = plan_of(spark, "in_subquery")
    assert "BroadcastHashJoin LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_exists_subquery_is_broadcast_semi_join(spark):
    plan = plan_of(spark, "exists_subquery")
    assert "BroadcastHashJoin LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_not_exists_subquery_is_broadcast_anti_join(spark):
    plan = plan_of(spark, "not_exists_subquery")
    assert "BroadcastHashJoin LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_stratified_sample_is_pure_scan_filter(spark):
    # deterministic sampling must stay a pushed filter over the scan —
    # a shuffle or UDF here would be a 100-TB bug in the cheapest stage
    plan = plan_of(spark, "stratified_sample")
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_sequence_packing_single_window_pass(spark):
    # one shuffle (stratum key) feeding WindowExec, partial agg after;
    # no sort-per-row, no extra exchanges
    plan = plan_of(spark, "sequence_packing")
    assert plan.count("Window") >= 1, plan
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("Exchange") <= 3, plan  # window + agg (+AQE reuse)


def test_lm_quality_score_plan_shape(spark):
    """Vocab build and doc scoring must both be map-side-combined aggs; the
    corpus-total scalar joins as a 1-row broadcast, never a cartesian; the
    documents scan reads only (doc_id, text)."""
    plan = plan_of(spark, "lm_quality_score")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final × vocab/doc
    assert "partial_count" in plan, plan
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "lang" not in scan and "n_chars" not in scan, f"unpruned scan: {scan}"


def test_decontaminate_is_broadcast_index_join(spark):
    """The benchmark shingle set must broadcast (it is small by construction)
    and no pairwise document comparison may appear anywhere in the plan."""
    plan = plan_of(spark, "decontaminate")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def _nodes(plan: str, op: str) -> int:
    """Physical nodes of type ``op`` (formatted explain lists each node
    twice — once in the tree, once as a "(n) Op" detail header)."""
    import re

    return len(re.findall(rf"\(\d+\) {op}\b", plan))


def test_value_distribution_single_window_exchange(spark):
    """Both window families in the merged gate entry share one user_id
    hash-partitioning — WindowExec must reuse a single exchange, not add
    one per OVER spec (the claim that keeps this shape parallel at 100 TB)."""
    plan = plan_of(spark, "value_distribution_functions")
    assert _nodes(plan, "Exchange") == 1, plan
    assert _nodes(plan, "Window") == 2, plan
    assert "SinglePartition" not in plan, plan  # no global-window serialization


def test_merged_subquery_entries_keep_broadcast_shapes(spark):
    """The combined gate entries must preserve the standalone entries'
    broadcast semi/anti plans on each UNION branch."""
    plan = plan_of(spark, "exists_not_exists_subquery")
    assert "BroadcastHashJoin LeftSemi" in plan, plan
    assert "BroadcastHashJoin LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    plan = plan_of(spark, "in_not_in_subquery")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_codec_roundtrips_fused_single_python_stage(spark):
    """Codec entries must run encode→decode in ONE Arrow stage (one
    mapInPandas node), after one round-robin repartition — two Python
    stages or a missing repartition re-opens the r3 bottleneck."""
    for name in ("protobuf_roundtrip", "avro_roundtrip"):
        plan = plan_of(spark, name)
        assert _nodes(plan, "MapInPandas") == 1, (name, plan)
        assert "RoundRobinPartitioning" in plan, (name, plan)


def test_streaming_avro_source_decodes_in_one_arrow_stage(spark, tmp_path):
    """A streaming avro file_source decodes through the vectorised Avro
    kernel: the executed micro-batch plan has exactly one MapInArrow node
    and no MapInPandas (the per-record pandas path)."""
    import json
    import re

    import pandas as pd

    from velostream_spark.sources.avro_binary import AvroBinaryCodec
    from velostream_spark.sources.schema_registry import FileSchemaRegistry
    from velostream_spark.sql.engine import SqlEngine

    schema = json.dumps(
        {
            "type": "record",
            "name": "Reading",
            "fields": [
                {"name": "sensor", "type": "string"},
                {"name": "temp", "type": "double"},
            ],
        }
    )
    FileSchemaRegistry(tmp_path / "reg").register("readings-value", schema)
    codec = AvroBinaryCodec(schema)
    (tmp_path / "in").mkdir()
    pd.DataFrame(
        {"value": [codec.encode({"sensor": s, "temp": 1.5}) for s in "abc"]}
    ).to_parquet(tmp_path / "in" / "part-0.parquet", index=False)
    eng = SqlEngine(spark)
    job = eng.execute_streaming(
        f"""
        CREATE STREAM avro_plan_pin AS
        SELECT sensor, temp FROM readings WHERE temp > 0
        WITH ('readings.type' = 'file_source',
              'readings.path' = '{tmp_path / "in"}',
              'readings.format' = 'avro',
              'readings.avro.schema.registry.path' = '{tmp_path / "reg"}',
              'readings.avro.schema.subject' = 'readings-value',
              'avro_plan_pin.type' = 'file_sink',
              'avro_plan_pin.path' = '{tmp_path / "out"}',
              'avro_plan_pin.format' = 'parquet')
        """
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        job.query.explain()
    eng.jobs.stop("avro_plan_pin")
    plan = buf.getvalue()
    assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, plan
    assert "MapInPandas" not in plan, plan
    assert spark.read.parquet(str(tmp_path / "out")).count() == 3


def test_union_all_distinct_prunes_scans(spark):
    plan = plan_of(spark, "union_all_distinct")
    assert "Union" in plan, plan
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "n_name" not in scan and "n_comment" not in scan, scan


def test_prometheus_metrics_plan_is_codegen_aggregation(spark):
    """FR-073 metric computation must be pure Catalyst: map-side-combined
    HashAggregate for the histogram's conditional bucket sums, no Python
    on the data path, filter pushed into the scan side for the
    conditional counter."""
    plan = plan_of(spark, "prometheus_metrics")
    assert "HashAggregate" in plan, plan
    assert "partial_" in plan.lower() or "partial" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "mapInPandas" not in plan.lower(), plan


def test_scalar_exists_fused_single_lineitem_scan(spark):
    """The scalar-SUM + EXISTS pair fuses into ONE lineitem aggregation
    pass (Catalyst would otherwise scan lineitem twice: agg + semi join),
    joined to orders with a shuffled hash join — not a broadcast (both
    sides are ~|orders| rows; broadcasting collects millions of rows to
    the driver at scale) and not a sort-merge (1:1 key join needs no
    sort)."""
    plan = plan_of(spark, "scalar_exists_subquery")
    assert plan.count("lineitem.parquet") == 1, plan
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the long-cents SUM must be map-side combined
    assert plan.count("HashAggregate") >= 2, plan


# --------------------------------------------------------------------------
# Round-6 rotation batch 3: every newly gated batch entry carries a plan pin
# --------------------------------------------------------------------------


def test_ngram_jaccard_is_keyed_shingle_join(spark):
    # inverted-index join on shingle: candidate generation must stay a
    # keyed equi-join (explode → join on shingle), never an all-pairs plan
    plan = plan_of(spark, "ngram_jaccard_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "Generate" in plan, plan  # shingle explode
    assert "BroadcastHashJoin" in plan or "hashpartitioning" in plan, plan


def test_dedup_canonical_no_cartesian(spark):
    # canonical filter = documents ⋈ components on doc_id. Both sides are
    # corpus-sized at 100 TB, so a keyed shuffle join (SMJ/shuffled-hash)
    # is the CORRECT scale plan here — forbid only all-pairs shapes.
    plan = plan_of(spark, "dedup_canonical")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "hashpartitioning" in plan, plan


def test_rolling_fingerprint_pure_codegen(spark):
    # rolling hash is Catalyst expression arithmetic — no Python stage,
    # no shuffle (per-row computation over one scan)
    df = all_queries()["rolling_fingerprint"].fn(spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan and "EvalPython" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "*(" in plan or "AdaptiveSparkPlan" in plan, plan


def test_multimodal_frame_sample_pure_catalyst(spark):
    # frame sampling = sequence/explode/substring — no Python in the plan
    plan = plan_of(spark, "multimodal_frame_sample")
    assert "Generate" in plan, plan  # per-frame explode
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan


def test_dialect_functions_select_no_python_no_shuffle(spark):
    # the dialect's function rewrite must land on built-in Catalyst
    # expressions: a SELECT of scalar functions is one scan, zero
    # exchanges, zero Python
    df = all_queries()["dialect_functions_select"].fn(spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan and "EvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_dialect_rows_window_over_routes_bounded_to_windowexec(spark):
    # bounded ROWS WINDOW input routes to native WindowExec (one window
    # exchange), not the stateful streaming op
    plan = plan_of(spark, "dialect_rows_window_over")
    assert "Window" in plan, plan
    assert plan.count("Exchange") <= 2, plan
    for node in ("FlatMapGroupsInPandas", "MapInPandas"):
        assert node not in plan, plan


def test_ann_brute_force_is_broadcast_not_shuffled_cartesian(spark):
    # the intentional exact all-pairs baseline: the tiny query side must
    # BROADCAST into the corpus scan (BroadcastNestedLoopJoin), never a
    # shuffled cartesian; top-k per query stays a bounded Window
    plan = plan_of(spark, "ann_brute_force_topk")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan


def test_ann_ivf_is_equi_join_on_cells_not_cartesian(spark):
    # IVF probe = BROADCAST equi-join on cell id (queries are tiny), cell
    # assignment one MapInPandas (BLAS matmul per Arrow batch), re-rank one
    # FlatMapGroupsInPandas per query group — never an all-pairs join.
    # ann_ivf_trained_topk is the validation harness (r15): its plan ALSO
    # carries the in-query exact brute-force baseline (the broadcast
    # nested-loop the recall_ok oracle needs), so the no-BNLJ pin applies
    # to the bare probe entry only; a shuffled cartesian stays banned on
    # both.
    for name in ("ann_ivf_topk", "ann_ivf_trained_topk"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "MapInPandas" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan_of(spark, "ann_ivf_topk")


def test_simhash_signature_pure_codegen_no_python(spark):
    # 64-lane vote counters are codegen bit-arithmetic over shingles —
    # Generate (explode) + partial/final HashAggregate; no Python anywhere
    plan = plan_of(spark, "simhash")
    assert "HashAggregate" in plan, plan
    for bad in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, plan


def test_minhash_signature_single_scan_no_shuffle_no_python(spark):
    # expression-level minhash: one documents scan, projections only —
    # the signature itself needs no Exchange and no Python worker
    plan = plan_of(spark, "minhash_signature")
    assert "Scan" in plan, plan
    for bad in ("Exchange", "MapInPandas", "ArrowEvalPython", "Join"):
        assert bad not in plan, plan


def test_multimodal_audio_energy_single_arrow_stage(spark):
    # binary audio decode = exactly ONE Arrow-batched Python stage over
    # the scan; no shuffle (per-document decode is embarrassingly parallel)
    import re

    plan = plan_of(spark, "multimodal_audio_energy")
    # one physical node (formatted output mentions it in tree + detail)
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    assert "Exchange" not in plan, plan


def test_quantified_comparisons_broadcast_not_shuffled_cartesian(spark):
    # op ANY/ALL (subq) rewrites to correlated EXISTS; the non-equi
    # correlation decorrelates to a BROADCAST nested-loop against the
    # tiny subquery side — a shuffled CartesianProduct would be the
    # 100-TB failure mode
    plan = plan_of(spark, "dialect_quantified_comparisons")
    assert "CartesianProduct" not in plan, plan


def test_dialect_cast_multiformat_stays_jvm_side(spark):
    """The multi-format cast trial chain must stay pure Catalyst: a
    coalesce of try_cast/try_to_date arms compiles into codegen — no
    Python worker, no extra exchange beyond the one aggregate shuffle,
    scan pruned to the two orders columns it needs."""
    plan = plan_of(spark, "dialect_cast_multiformat")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # map-side partials
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "o_comment" not in scan and "o_totalprice" not in scan, scan


def test_pii_scrub_stays_jvm_side(spark):
    """PII scrubbing is a regexp_replace/regexp_count chain — must stay in
    whole-stage codegen: no Python workers, no KEYED exchange (the only
    exchange allowed is the round-robin spread of the regex CPU over the
    cores — the test corpus is a single scan partition), scan pruned to
    doc_id + text."""
    plan = plan_of(spark, "pii_scrub")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "hashpartitioning" not in plan, plan
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "lang" not in scan and "source" not in scan, scan


def test_repetition_and_gopher_zero_shuffle_pure_codegen(spark):
    # round-8 quality ops: per-row array arithmetic only — no Python
    # stage, no KEYED shuffle (each document scored independently; the
    # repetition entry's only exchange is the round-robin spread of the
    # CPU-bound per-doc work, which a many-file 100-TB scan wouldn't need)
    for name in ("repetition_filter", "gopher_quality_filter"):
        plan = plan_of(spark, name)
        assert "hashpartitioning" not in plan, (name, plan)
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in plan, (name, plan)
    assert "Exchange" not in plan_of(spark, "gopher_quality_filter")


def test_doc_chunking_map_side_generate(spark):
    # chunking = posexplode of per-row start offsets: a Generate with no
    # Exchange and no Python — a pure scan transform at 100 TB
    plan = plan_of(spark, "doc_chunking")
    assert "Generate" in plan, plan
    assert "Exchange" not in plan, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan


def test_semdedup_one_shuffle_grouped_blas(spark):
    # cluster bounds the candidate set (the whole point of SemDeDup): one
    # MapInPandas assignment pass (shared with IVF), ONE shuffle on the
    # cell id, one grouped-Arrow BLAS pass per cell — never a pair join,
    # never an all-pairs shape
    plan = plan_of(spark, "semdedup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" not in plan, plan
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert plan.count("+- Exchange") == 1, plan


def test_curation_pipeline_shuffles_never_carry_text(spark):
    # the dedup/pack/shuffle KEYED exchanges must move only ids,
    # fingerprints and token counts — at 100 TB a keyed shuffle carrying
    # text/_norm/_words would be corpus-sized. (The round-robin exchange is
    # exempt: it is the declared CPU-spread of the bench's single-file
    # scan, which a many-file 100-TB layout wouldn't need.)
    plan = plan_of(spark, "curation_pipeline")
    for seg in plan.split("\n\n"):
        first = seg.lstrip().splitlines()[0] if seg.strip() else ""
        if (
            first.startswith("(")
            and "Exchange" in first
            and "RoundRobinPartitioning" not in seg
        ):
            for payload in ("text#", "_norm#", "_words#"):
                assert payload not in seg, (first, seg)


def test_bpe_pair_counts_tiny_shuffle_topn(spark):
    # pair generation is map-side (explode + substring codegen, no Python);
    # the only exchange carries (pair, partial_count) — alphabet²-bounded
    # regardless of corpus size — and the final N come via TakeOrdered
    plan = plan_of(spark, "bpe_pair_counts")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # map-side partial count
    assert "partial_count" in plan, plan
    # exactly one keyed exchange (the pair-count agg); no doc-payload columns
    for seg in plan.split("\n\n"):
        first = seg.lstrip().splitlines()[0] if seg.strip() else ""
        if first.startswith("(") and "Exchange" in first and "hashpartitioning" in seg:
            assert "text#" not in seg and "word#" not in seg, seg


def test_ffd_packing_single_stratum_exchange(spark):
    # one keyed exchange (the stratum), the FFD loop inside the grouped
    # cell — no cartesian, no extra shuffles
    plan = plan_of(spark, "sequence_packing_ffd")
    assert "FlatMapGroupsInPandas" in plan, plan
    assert plan.count("hashpartitioning(_stratum") >= 1, plan
    assert "CartesianProduct" not in plan, plan


def test_corpus_stats_single_scan_rollup_no_join(spark):
    # dataset-card rollup: one corpus scan, Expand + partial agg map-side,
    # no join, no window, no Python; the only exchanges are the rollup
    # aggregation's (incl. the COUNT DISTINCT two-phase expansion)
    plan = plan_of(spark, "corpus_stats")
    assert "Expand" in plan, plan  # grouping-sets expansion
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan
    assert plan.count("Scan parquet") == 2, plan  # ONE node (tree + detail)


def test_ann_topk_windows_keep_partial_group_limit(spark):
    # The four window-based ANN top-k entries rely on Spark's
    # InferWindowGroupLimit rule: a `WindowGroupLimit ... Partial` BEFORE
    # the query_id exchange caps the shuffle at <=k rows per query per
    # partition. The rule only fires for a literal-k row_number rank
    # filter directly over the window — an innocent refactor (filtering a
    # derived rank column, non-literal k, a changed window spec) silently
    # drops it and the top-k shuffle becomes corpus-sized. Pin both the
    # Partial (pre-exchange) and Final (post-exchange) nodes.
    for name in (
        "ann_brute_force_topk",
        "ann_lsh_topk",
        "ann_pq_adc_topk",
        "ann_ivf_pq_topk",
        "ann_ivf_pq_residual_topk",
    ):
        plan = plan_of(spark, name)
        assert plan.count("WindowGroupLimit") >= 2, (name, plan)
        assert "row_number(), 10, Partial" in plan, (name, plan)
        assert "row_number(), 10, Final" in plan, (name, plan)


def test_tfidf_plan_codegen_partial_aggs_group_limit(spark):
    # explode + three aggregations, all with map-side partials; no Python
    # anywhere; the final top-3 window keeps its WindowGroupLimit pair so
    # the last exchange carries <=3 rows per doc per partition
    plan = plan_of(spark, "tfidf_topk_terms")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final per agg
    assert "row_number(), 3, Partial" in plan, plan
    assert "row_number(), 3, Final" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the doc-term shuffles carry ids/words/counts, never the text column
    for seg in plan.split("\n\n"):
        first = seg.lstrip().splitlines()[0] if seg.strip() else ""
        if first.startswith("(") and "Exchange" in first:
            assert "text#" not in seg, seg


def test_bigram_lm_plan_zero_joins_three_keyed_exchanges(spark):
    # the tfidf shape: windows over the exploded bigram rows replace the
    # count-table joins — no keyed join nodes (the one BNLJ is the
    # intended 1-row broadcast of V), no Python, exchanges carry
    # (doc_id, prev, cur) (+window counts), never the text column
    plan = plan_of(spark, "bigram_lm_score")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert node not in plan, plan
    assert "CartesianProduct" not in plan, plan
    for seg in plan.split("\n\n"):
        first = seg.lstrip().splitlines()[0] if seg.strip() else ""
        if first.startswith("(") and "Exchange" in first:
            assert "text#" not in seg, seg


def test_asof_join_one_exchange_no_nested_loop(spark):
    # as-of = union + fill-forward window: ONE keyed exchange + sort,
    # never a range-condition BroadcastNestedLoop/cartesian
    plan = plan_of(spark, "asof_join")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan
    # exchanges: the union's window key + the snapshot dedup agg — both
    # hash exchanges, no range join anywhere
    for seg in plan.split("\n\n"):
        first = seg.lstrip().splitlines()[0] if seg.strip() else ""
        if first.startswith("(") and "Exchange" in first:
            assert "hashpartitioning" in seg, seg


def test_range_join_is_bucketed_equi_join(spark):
    # the BETWEEN predicate must ride an EQUI-join on the bucket id (here
    # broadcast-hash since the bands side is tiny; shuffled-hash/SMJ at
    # scale) — never the nested-loop scan Spark plans for a raw BETWEEN
    plan = plan_of(spark, "range_join")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hypertable_rollup_expand_partial_agg(spark):
    # one scan, map-side Expand for the grouping sets, partial aggs, no
    # join/window/Python (the corpus_stats shape on the events table)
    plan = plan_of(spark, "hypertable_rollup")
    assert "Expand" in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan
    assert plan.count("Scan parquet") == 2, plan  # ONE node (tree + detail)


def test_bigram_grouped_plan_partial_aggs_no_corpus_window(spark):
    # the skew-safe production twin (skewagg.py join strategy): the model
    # counts are map-side combined (partial_sum before every count
    # exchange), attached via equi-joins — NO corpus window anywhere, so
    # a stopword's posting never lands in one task; still zero Python and
    # text never in a shuffle
    plan = plan_of(spark, "bigram_lm_grouped")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan
    assert "Window" not in plan, plan
    assert "partial_sum" in plan, plan  # map-side combine on the model aggs
    assert "CartesianProduct" not in plan, plan
    for seg in plan.split("\n\n"):
        first = seg.lstrip().splitlines()[0] if seg.strip() else ""
        if first.startswith("(") and "Exchange" in first:
            assert "text#" not in seg, seg


def test_tfidf_join_plan_partial_aggs_df_join(spark):
    # join-strategy tfidf: df counts are map-side combined and attached
    # by an equi-join; the only Window left is the per-doc top-3 ranking
    # (which keeps its WindowGroupLimit pair)
    plan = plan_of(spark, "tfidf_topk_terms_join")
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "row_number(), 3, Partial" in plan, plan
    # exactly one Window spec family: the doc ranking — the word-df
    # window is GONE (count it via the Window node's partition key)
    win_segs = [
        seg for seg in plan.split("\n\n")
        if seg.lstrip().splitlines() and "Window" in seg.lstrip().splitlines()[0]
    ]
    assert all("word#" not in seg.splitlines()[0] for seg in win_segs), win_segs


def test_heavy_hitters_plan_takeordered_partial_agg(spark):
    # exact top-20: map-side-combined word counts into a TakeOrdered —
    # the driver sees 20 rows, never the vocabulary; the rank window runs
    # AFTER the limit (20-row frame), so the global window is bounded
    plan = plan_of(spark, "heavy_hitters")
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan


def test_heavy_hitters_cms_plan_literal_lookup_no_join(spark):
    # the sketch twin scores candidates with a pure-codegen literal-grid
    # lookup: NO join between candidates and counts anywhere, no Python
    plan = plan_of(spark, "heavy_hitters_cms")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_quality_classifier_plan_zero_shuffle_pure_codegen(spark):
    # model inference is ONE scan-side projection: the 32 KB weight
    # literal rides the closure, featurize+lookup+mean run in codegen —
    # no exchange, no join, no explode-generated rows, no Python
    plan = plan_of(spark, "quality_classifier_score")
    assert ") Exchange" not in plan, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "Generate", "Join"):
        assert node not in plan, plan


def test_sketch_twins_hll_branch_is_object_hash_binary_buffer(spark):
    # r15-opt: the HLL branch of the three sketch twins must be the
    # Datasketches TypedImperativeAggregate (ONE growable binary buffer
    # per group, ObjectHashAggregate) — never HLL++'s fixed 1639-long-
    # column buffer inlined into HashAggregate rows ("Aggregate
    # Attributes [3278]" in plans/r15/approx_count_distinct_before.txt,
    # 26 KB-wide shuffle rows; branch measured 1.62 s -> 0.245 s at
    # sf0.1, tools/hll_spot.py)
    for name in (
        "approx_count_distinct",
        "hypertable_rollup_approx",
        "corpus_stats_approx",
    ):
        plan = plan_of(spark, name)
        assert "hll_sketch_agg" in plan, (name, plan)
        assert "ObjectHashAggregate" in plan, (name, plan)
        assert "approx_count_distinct" not in plan, (name, plan)
        assert "MS[0]" not in plan, (name, plan)
