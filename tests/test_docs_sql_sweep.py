"""Every SQL statement embedded in the reference's docs (all 342 markdown
files) must parse through the dialect — the user-facing doc examples are
the de-facto surface contract (the sweep that surfaced FR-047 URI sources
in r6 and, in r8: unquoted INTERVAL counts, ADVANCE BY, aggregate DELTA,
bare WITH values, WINDOW-before-INTO ordering).

Known-invalid doc examples are skip-listed explicitly WITH the reason the
reference's own parser/tokenizer rejects them too — the gate is zero
failures outside that list.
"""

from __future__ import annotations

import glob
import os
import re

import pytest

from velostream_spark.sql.dialect import parse_statement, split_statements

DOCS = sorted(glob.glob("/root/reference/docs/**/*.md", recursive=True))

STATEMENT_HEADS = {
    "SELECT", "CREATE", "INSERT", "UPDATE", "DELETE", "SHOW", "START",
    "STOP", "PAUSE", "RESUME", "DEPLOY", "ROLLBACK", "DESCRIBE", "LIST",
}

#: (file suffix, snippet-in-statement) — why the reference rejects it too
KNOWN_INVALID = {
    # one-arg SLIDING: clauses.rs:126-131 — "SLIDING window requires at
    # least two parameters (size, advance)"
    ("sql/advanced-query-features.md", "WINDOW SLIDING (INTERVAL '5' MINUTE)"),
    # multi-statement doc blocks with no `;` separator — not one parseable
    # statement in any dialect
    ("sql/by-task/group-by-dual-mode.md", "WINDOW TUMBLING(1h)"),
    ("claude/SQL_GRAMMAR_RULES.md", "WINDOW TUMBLING(INTERVAL '5' MINUTE)"),
    ("feature/FR-081-sql-engine-perf/FR-081-04-ARCHITECTURAL-BLUEPRINT.md",
     "WINDOW TUMBLING(5m)"),
    # literal `...` placeholders
    ("feature/FR-082-perf-part-2/SCENARIO-BASELINE-COMPARISON.md",
     "WINDOW TUMBLING (...)"),
    ("feature/FR-090-header-prop/README.md", "METADATA FROM"),
    # FR-090/094 blocks are FLINK SQL shown for comparison (METADATA
    # FROM / PRIMARY KEY NOT ENFORCED column DDL — not velostream grammar)
    ("feature/FR-094-primary-key-semantics/README.md", "NOT ENFORCED"),
    # design/roadmap-proposed syntax never implemented (no SIZE/ADVANCE
    # keywords in clauses.rs; no FILTER(WHERE)/IS_OUTLIER in functions.rs)
    ("feature/FR-091-stream-stream-join/DESIGN.md", "SIZE INTERVAL"),
    ("feature/fr-070-outlier-roadmap.md", "SIZE 1 MINUTE"),
    # `# comment` inside a WITH clause: the reference tokenizer only knows
    # `--` and `/* */` comments (tokenizer.rs:135+), so this fails there too
    ("data-sources/multi-source-sink-guide.md", "# Override YAML value"),
    # round 8 (exposed when the CREATE fallthrough-to-select mis-parse was
    # replaced by real structural errors):
    # INSERT INTO <uri> — parser expects an identifier target
    ("developer/ADDING_SOURCES_AND_SINKS.md", "INSERT INTO redis://"),
    # doc typo: missing comma between WITH pairs (clauses.rs:524 expects
    # Comma between properties) — the reference rejects it too
    (
        "feature/fr-048-file-source-sink-demo.md",
        "sink_config='configs/kafka_aggregated_sink.yaml'\n    'partitions'",
    ),
    # roadmap-only resource types never in the grammar (commands.rs:22:
    # CREATE dispatches on STREAM|TABLE only)
    ("feature/fr-073-unified-observability.md", "CREATE FORECAST MODEL"),
    ("sql/ops/multi-server-coordination-guide.md", "CREATE SINK"),
    # literal `STREAM|TABLE <name>` placeholder syntax
    ("sql/COPY_PASTE_EXAMPLES.md", "CREATE STREAM|TABLE <name>"),
}


def _doc_statements():
    out = []
    for f in DOCS:
        text = open(f, encoding="utf-8", errors="replace").read()
        rel = f.split("docs/")[-1]
        for m in re.finditer(r"```sql\n(.*?)```", text, re.S):
            try:
                parts = split_statements(m.group(1))
            except Exception:
                continue
            for p in parts:
                head = p.strip().split(None, 1)[0].upper() if p.strip() else ""
                if head in STATEMENT_HEADS:
                    out.append((rel, p))
    return out


@pytest.mark.skipif(
    not os.path.isdir("/root/reference/docs"),
    reason="reference docs not present (/root/reference/docs)",
)
def test_docs_sql_statements_parse():
    stmts = _doc_statements()
    assert len(stmts) > 2000, f"doc sweep found only {len(stmts)} statements"
    failures = []
    skipped = set()
    for rel, p in stmts:
        try:
            parse_statement(p)
        except Exception as e:
            hit = next(
                ((f, s) for f, s in KNOWN_INVALID if rel == f and s in p), None
            )
            if hit:
                skipped.add(hit)
                continue
            failures.append((rel, str(e)[:100], p[:120]))
    assert not failures, failures[:10]
    # the skip-list must stay honest: every entry still present & failing
    assert skipped == KNOWN_INVALID


def test_doc_sugar_forms_execute(spark):
    """The r8 doc-mined forms run end-to-end, not just parse."""
    from velostream_spark.session import load_tables
    from velostream_spark.sql.engine import SqlEngine

    eng = SqlEngine(spark, time_col="ts")
    for name, df in load_tables(
        spark, "/root/testdata/sf0.001", register_views=False
    ).items():
        eng.register_stream(name, df)
    # aggregate DELTA = max - min (aggregation/functions.rs:320-331)
    rows = eng.execute(
        "SELECT o_orderstatus, DELTA(o_totalprice) AS price_range "
        "FROM orders GROUP BY o_orderstatus"
    ).collect()
    assert rows and all(r["price_range"] >= 0 for r in rows)
    import pyspark.sql.functions as F

    exp = (
        eng.streams["orders"]
        .groupBy("o_orderstatus")
        .agg((F.max("o_totalprice") - F.min("o_totalprice")).alias("pr"))
        .collect()
    )
    assert {r["o_orderstatus"]: r["price_range"] for r in rows} == {
        r["o_orderstatus"]: r["pr"] for r in exp
    }
    # per-record DELTA with no grouping: typed zero, NULL stays NULL
    # (functions.rs:1809-1828)
    r = eng.execute(
        "SELECT o_orderkey, DELTA(o_totalprice) AS d FROM orders LIMIT 3"
    ).collect()
    assert all(v["d"] == 0.0 for v in r)
    # unquoted INTERVAL + ADVANCE BY sugar in WINDOW specs
    df = eng.execute(
        "SELECT COUNT(*) AS n FROM events "
        "WINDOW SLIDING(INTERVAL 10 MINUTES, ADVANCE BY INTERVAL 5 MINUTES)"
    )
    assert df.count() > 0


def test_bare_with_values(spark):
    """Bare (unquoted) WITH values — with_clause_parser.rs:296-308 takes
    the raw text after '=' and :406 validates booleans as bare
    true/false; the degradation guide writes "skip.reason.logging" = true."""
    from velostream_spark.sql.dialect import parse_statement

    st = parse_statement(
        "CREATE STREAM s AS SELECT * FROM t "
        "WITH ('source.type' = 'file_source', \"skip.reason.logging\" = true, "
        "'retry.count' = 3)"
    )
    assert st.with_props["skip.reason.logging"] == "true"
    assert st.with_props["retry.count"] == "3"
