"""Reference results and output checks for the streaming-SQL benchmark.

Every reference is computed by DuckDB over the generator's plain values,
never by the engine under test. Comparisons ignore row order and are exact:
integers and decimals compare as integers (decimals by their unscaled
value), so any difference is a wrong result; the curation result follows
the repo's oracle compare rules.

A check returns ``(attempted, failed)``: ``attempted`` counts reference rows
plus output rows that match none of them, ``failed`` counts reference rows
not matched exactly plus those unmatched output rows.
"""

from __future__ import annotations

import collections
import glob
import os
import re
from collections.abc import Iterable, Sequence

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

def multiset_diff(expected: Iterable[tuple], got: Iterable[tuple]) -> tuple[int, int]:
    """Order-insensitive compare of two row multisets -> (attempted, failed)."""
    exp = collections.Counter(expected)
    out = collections.Counter(got)
    missing = sum((exp - out).values())
    extra = sum((out - exp).values())
    return sum(exp.values()) + extra, missing + extra


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolation percentile (``q`` in 0..100) of ``values``."""
    if not len(values):
        raise ValueError("percentile of no samples")
    return float(np.percentile(np.asarray(values, dtype=float), q))


def read_parquet_dir(path: str) -> pa.Table:
    """All visible parquet files under ``path`` (names starting with ``_``
    or ``.`` are metadata or uncommitted and are skipped, as Spark does)."""
    files = sorted(
        f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if not any(p.startswith(("_", ".")) for p in os.path.relpath(f, path).split(os.sep))
    )
    if not files:
        return pa.table({})
    return pa.concat_tables([pq.read_table(f) for f in files], promote_options="default")


def changelog_batches(sink: str) -> dict[int, pa.Table]:
    """The committed ``b<id>/`` directories of a changelog file sink."""
    out = {}
    for name in os.listdir(sink):
        m = re.fullmatch(r"b(\d+)", name)
        if m:
            out[int(m.group(1))] = read_parquet_dir(os.path.join(sink, name))
    return out


def last_update_per_key(batches: dict[int, pa.Table], key: str) -> dict:
    """key -> row dict of the highest batch that emitted the key."""
    last: dict = {}
    for b in sorted(batches):
        for row in batches[b].to_pylist():
            last[row[key]] = row
    return last


# -- avro_decode_agg -----------------------------------------------------------


def avro_reference(trades: pa.Table) -> list[tuple]:
    """Per-symbol count and exact notional in 1e-4 units (HUGEINT)."""
    con = duckdb.connect()
    try:
        con.register("trades", trades)
        rows = con.execute(
            "SELECT symbol, COUNT(*)::BIGINT, "
            "SUM(price_units::HUGEINT * qty::HUGEINT) FROM trades GROUP BY symbol"
        ).fetchall()
        return [(s, n, int(v)) for s, n, v in rows]
    finally:
        con.close()


def avro_rows(last: dict) -> list[tuple]:
    """Sink rows with the decimal notional as its unscaled 1e-4 integer."""
    return [
        (r["symbol"], r["n"], int(r["notional"].scaleb(4)))
        for r in last.values()
    ]


# -- doc_curation ----------------------------------------------------------------


def curation_reference(oracle_sql: str, docs_dir: str):
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{os.path.join(docs_dir, 'documents.parquet')}')"
        )
        return con.execute(oracle_sql).df()
    finally:
        con.close()


def check_frames(got, ref, compare_frames) -> tuple[int, int]:
    """Pandas result vs oracle frame under the repo's oracle compare rules
    (``compare_frames``). When they report a problem, the failed count is
    the row multiset difference, at least 1."""
    if not compare_frames(got, ref):
        return len(ref), 0
    cols = sorted(ref.columns)
    if sorted(got.columns) != cols:
        return len(ref), len(ref)

    def rows(df):
        return [tuple(r) for r in df[cols].astype(object).itertuples(index=False)]

    attempted, failed = multiset_diff(rows(ref), rows(got))
    return attempted, max(failed, 1)
