"""ROWS WINDOW BUFFER — the reference's per-record streaming analytic
window (WindowSpec::Rows, ast.rs:617-652; strategy
window_v2/strategies/rows.rs:30-45; grammar docs/sql/PARSER_GRAMMAR.md:100-226)
as a custom stateful Spark op.

Semantics: per partition key, a bounded ring buffer of the last ``n`` rows;
for EVERY incoming record the analytic functions are evaluated over the
buffer and a row is emitted (EmitMode::EveryRecord, ast.rs:567-575), or only
once the buffer is full (EmitMode::BufferFull). Multiple analytic functions
may target different columns of the same buffer (as in one reference OVER
clause list). Each emitted row carries its input record's columns
unchanged, followed by the analytic columns.

Spark has no built-in per-record streaming window-function operator, so this
is ``applyInPandasWithState`` with bucketed state: the physical state key is
``pmod(hash(partition cols), buckets)``, and each bucket keeps every resident
key's ring buffer (``n <= buffer`` rows × referenced columns, plus the key's
lifetime row count) inside one pickled dict. Python is entered once per
bucket per micro-batch, not once per key, and the per-key work is vectorised
numpy across all keys of the bucket: rows are sorted by (key, order), keys
are factorized to dense int codes (so null keys are just another code), and
every rolling aggregate is computed over a masked ``sliding_window_view`` /
prefix arithmetic — no per-row or per-key Python loop.
Emission cadence is per-record within each micro-batch, which converges to
the reference's per-record stream when batches are small.

Scale: state per key is O(buffer_size × n_cols) doubles — independent of
stream length; the shuffle is the one exchange on the bucket column.
Skewed keys bound their cost by the same O(buffer) state. ``rows_window_batch``
is the bounded twin (native window functions, no Python).
"""

from __future__ import annotations

import pickle
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

#: fn name -> output Spark type
SUPPORTED_FNS = {
    "avg": DoubleType(),
    "sum": DoubleType(),
    "min": DoubleType(),
    "max": DoubleType(),
    "count": LongType(),
    "first": DoubleType(),   # oldest value in the buffer
    "last": DoubleType(),    # current value
    "lag": DoubleType(),     # previous value (offset 1), NULL at partition start
    "row_number": LongType(),  # lifetime position within the partition
}

#: agg spec: (out_col, fn) using the default value column, or
#: (out_col, fn, col) targeting an explicit column
AggSpec = "tuple[str, str] | tuple[str, str, str]"


def _normalize_aggs(aggs, value_col: str) -> list[tuple[str, str, str]]:
    out = []
    for spec in aggs:
        if len(spec) == 2:
            out.append((spec[0], spec[1], value_col))
        else:
            out.append((spec[0], spec[1], spec[2]))
        if out[-1][1] not in SUPPORTED_FNS:
            raise ValueError(f"unsupported rows-window fn: {out[-1][1]}")
    return out


def rows_window_stream(
    sdf: DataFrame,
    partition_by: list[str],
    order_by: str,
    value_col: str,
    buffer_size: int,
    aggs: list,
    emit: str = "every_record",
    buckets: int | None = None,
) -> DataFrame:
    """Streaming ROWS WINDOW over ``sdf``.

    ``aggs``: ``[(out_col, fn), ...]`` (over ``value_col``) or
    ``[(out_col, fn, col), ...]`` (per-agg column) with fn ∈ SUPPORTED_FNS.
    Output = every column of ``sdf``, unchanged, then the agg columns: one
    row per input record (``emit='every_record'``) or per record once its
    key's buffer is full (``emit='buffer_full'``). Every input column rides
    the shuffle and the Arrow transfer to Python, so project ``sdf`` to the
    columns the caller needs first.

    ``buckets`` defaults to 2× the session's shuffle partitions: enough
    buckets that hash collisions over partitions stay balanced (~2 buckets
    per task), few enough that per-bucket Python entry overhead stays
    amortized (measured: 64 buckets beats both 32 and 128 at 1.6M rows /
    24K keys on 32 cores). Each bucket's state is one pickled dict of
    per-key ring buffers, rewritten per touched bucket per batch, so at very
    high key cardinality raise ``buckets`` until a bucket's resident keys
    fit executor memory comfortably.
    """
    if emit not in ("every_record", "buffer_full"):
        raise ValueError(f"unknown emit mode: {emit}")
    specs = _normalize_aggs(aggs, value_col)
    cols = list(dict.fromkeys(c for _, _, c in specs))  # buffered columns
    carry = list(sdf.columns)
    missing = [c for c in [*partition_by, order_by, *cols] if c not in carry]
    if missing:
        raise ValueError(f"rows window: input has no column(s) {missing}")
    clash = [out for out, _, _ in specs if out in carry]
    if clash:
        raise ValueError(f"rows window: output column(s) {clash} already in input")

    if buckets is None:
        buckets = 2 * int(sdf.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    out_schema = StructType(
        [*sdf.schema.fields]
        + [StructField(out, SUPPORTED_FNS[fn]) for out, fn, _ in specs]
    )
    state_schema = "blob binary"
    buffer = buffer_size
    emit_full = emit == "buffer_full"
    pcols = list(partition_by)
    # Above this frame length the (n_rows × buffer) window view gets big;
    # fall back to pandas rolling over int group codes.
    VECTOR_BUFFER_MAX = 128

    # Arrow hands the bucket's micro-batch to Python as ~10K-row chunks;
    # coalesce them up to this many rows so the sort/factorize/window math
    # below runs once per bucket, not once per chunk. Bounded so a huge
    # bucket batch still streams through in capped slices.
    COALESCE_ROWS_MAX = 1 << 20

    def _coalesced(pdfs: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        pending: list[pd.DataFrame] = []
        n = 0
        for pdf in pdfs:
            if pdf.empty:
                continue
            pending.append(pdf)
            n += len(pdf)
            if n >= COALESCE_ROWS_MAX:
                yield pd.concat(pending, ignore_index=True) if len(pending) > 1 else pending[0]
                pending, n = [], 0
        if pending:
            yield pd.concat(pending, ignore_index=True) if len(pending) > 1 else pending[0]

    def func(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        # state: {key: (np.ndarray[n<=buffer, n_cols] buffer, cnt)}
        # null partition keys are normalized to None (hashable, stable
        # across batches — float NaN is not).
        st: dict = pickle.loads(state.get[0]) if state.exists else {}
        n_cols = len(cols)
        for pdf in _coalesced(pdfs):
            # Stable sort groups equal keys contiguously (nulls last) with
            # batch arrival order preserved within (key, order) ties.
            pdf = pdf.sort_values(
                [*pcols, order_by], kind="mergesort"
            ).reset_index(drop=True)
            n = len(pdf)
            if len(pcols) == 1:
                codes, uniques = pd.factorize(
                    pdf[pcols[0]], use_na_sentinel=False
                )
                uniq_keys = [
                    None if pd.isna(u) else u for u in uniques
                ]
            else:
                key_series = pd.Series(
                    list(
                        zip(
                            *[
                                [None if pd.isna(x) else x for x in pdf[c]]
                                for c in pcols
                            ]
                        )
                    ),
                    index=pdf.index,
                    dtype=object,
                )
                codes, uniques = pd.factorize(key_series)
                uniq_keys = list(uniques)
            n_groups = len(uniq_keys)
            # sorted input → contiguous groups → codes nondecreasing
            counts = np.bincount(codes, minlength=n_groups)

            ents = [st.get(k) for k in uniq_keys]
            pre_lens = np.array(
                [len(e[0]) if e is not None else 0 for e in ents], dtype=np.int64
            )
            base_cnt = np.array(
                [e[1] - len(e[0]) if e is not None else 0 for e in ents],
                dtype=np.int64,
            )
            total = counts + pre_lens
            offsets = np.concatenate(([0], np.cumsum(total[:-1])))
            n_all = int(total.sum())

            batch_vals = np.column_stack(
                [pdf[c].to_numpy(dtype=float) for c in cols]
            )
            # global row index of each batch row in the combined layout
            # (prefix rows occupy the head of each group's range)
            batch_group_start = np.concatenate(([0], np.cumsum(counts[:-1])))
            within = np.arange(n) - batch_group_start[codes]
            bidx = (offsets + pre_lens)[codes] + within
            all_vals = np.empty((n_all, n_cols), dtype=float)
            all_vals[bidx] = batch_vals
            for gi, e in enumerate(ents):
                if e is not None and len(e[0]):
                    all_vals[offsets[gi] : offsets[gi] + pre_lens[gi]] = e[0]

            codes_all = np.repeat(np.arange(n_groups), total)
            key_start = offsets[codes_all]
            pos = np.arange(n_all) - key_start
            lifetime = base_cnt[codes_all] + pos + 1
            is_batch = pos >= pre_lens[codes_all]
            src = np.empty(n_all, dtype=np.int64)
            src[bidx] = np.arange(n)

            col_idx = {c: i for i, c in enumerate(cols)}
            # masked sliding-window cache per referenced column
            win_cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}
            roll_cache: dict[str, object] = {}
            grid_valid: np.ndarray | None = None

            def window(c: str) -> tuple[np.ndarray, np.ndarray]:
                """(window values (n_all, buffer), valid&non-nan mask)."""
                nonlocal grid_valid
                if c not in win_cache:
                    if grid_valid is None:
                        idx = (
                            np.arange(buffer)
                            + (np.arange(n_all) - buffer + 1)[:, None]
                        )
                        grid_valid = idx >= key_start[:, None]
                    v = all_vals[:, col_idx[c]]
                    padded = np.concatenate(
                        (np.full(buffer - 1, np.nan), v)
                    )
                    w = np.lib.stride_tricks.sliding_window_view(padded, buffer)
                    win_cache[c] = (w, grid_valid & ~np.isnan(w))
                return win_cache[c]

            def roll(c: str):
                if c not in roll_cache:
                    roll_cache[c] = (
                        pd.Series(all_vals[:, col_idx[c]])
                        .groupby(codes_all)
                        .rolling(buffer, min_periods=1)
                    )
                return roll_cache[c]

            vectorized = buffer <= VECTOR_BUFFER_MAX
            out_cols: dict[str, np.ndarray] = {}
            for out_col, fn, c in specs:
                v = all_vals[:, col_idx[c]]
                if fn == "last":
                    r = v
                elif fn == "lag":
                    shifted = np.concatenate(([np.nan], v[:-1]))
                    r = np.where(pos > 0, shifted, np.nan)
                elif fn == "first":
                    tgt = np.maximum(np.arange(n_all) - buffer + 1, key_start)
                    r = v[tgt]
                elif fn == "row_number":
                    r = lifetime
                elif vectorized:
                    w, m = window(c)
                    cnt = m.sum(axis=1)
                    if fn == "count":
                        r = cnt.astype("int64")
                    elif fn in ("sum", "avg"):
                        s = np.where(m, w, 0.0).sum(axis=1)
                        if fn == "avg":
                            s = s / np.maximum(cnt, 1)
                        r = np.where(cnt > 0, s, np.nan)
                    elif fn == "min":
                        r = np.where(m, w, np.inf).min(axis=1)
                        r = np.where(cnt > 0, r, np.nan)
                    elif fn == "max":
                        r = np.where(m, w, -np.inf).max(axis=1)
                        r = np.where(cnt > 0, r, np.nan)
                    else:  # pragma: no cover
                        raise ValueError(f"unsupported rows-window fn: {fn}")
                else:
                    agg = {
                        "avg": "mean",
                        "sum": "sum",
                        "min": "min",
                        "max": "max",
                        "count": "count",
                    }[fn]
                    r = getattr(roll(c), agg)().to_numpy()
                    if fn == "count":
                        r = r.astype("int64")
                out_cols[out_col] = r

            mask = is_batch
            if emit_full:
                mask = mask & (lifetime >= buffer)
            rows = src[mask]  # pdf row index per emitted row (dtypes intact)
            out = pd.DataFrame(
                {
                    **{c: pdf[c].to_numpy()[rows] for c in carry},
                    **{oc: r[mask] for oc, r in out_cols.items()},
                }
            )
            # state update: per-key tail (last ≤buffer rows) of the combined
            # layout, one boolean mask + np.split — no per-key pandas ops
            tail_mask = pos >= (total - buffer)[codes_all]
            tail_vals = all_vals[tail_mask]
            tail_counts = np.minimum(total, buffer)
            splits = np.cumsum(tail_counts[:-1])
            chunks = np.split(tail_vals, splits)
            new_cnt = base_cnt + total
            for gi, k in enumerate(uniq_keys):
                st[k] = (chunks[gi], int(new_cnt[gi]))
            if not out.empty:
                yield out
        if st:
            state.update((pickle.dumps(st, protocol=pickle.HIGHEST_PROTOCOL),))
        else:
            state.remove()

    # hash(NULL) is a valid bucket too — null keys flow through like any key
    bucket_expr = F.pmod(
        F.hash(*[F.col(c) for c in pcols]), F.lit(buckets)
    ).alias("__velo_bucket")
    return (
        sdf.withColumn("__velo_bucket", bucket_expr)
        .groupBy("__velo_bucket")
        .applyInPandasWithState(func, out_schema, state_schema, "append", "NoTimeout")
    )


def rows_window_batch(
    df: DataFrame,
    partition_by: list[str],
    order_by: str | list[str],
    value_col: str,
    buffer_size: int,
    aggs: list,
    emit: str = "every_record",
) -> DataFrame:
    """Batch twin of ``rows_window_stream`` — the same output (every input
    column, then the agg columns) via native window functions (``ROWS
    BETWEEN buffer-1 PRECEDING AND CURRENT ROW``), fully Catalyst-planned
    (WindowExec, no Python). Use this form whenever the input is bounded;
    the streaming form exists for unbounded per-record emission."""
    from pyspark.sql.window import Window

    specs = _normalize_aggs(aggs, value_col)
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    w = Window.partitionBy(*partition_by).orderBy(*order_cols)
    frame = w.rowsBetween(-(buffer_size - 1), 0)

    def expr(fn: str, col: str) -> Column:
        v = F.col(col).cast("double")
        if fn == "avg":
            return F.avg(v).over(frame)
        if fn == "sum":
            return F.sum(v).over(frame)
        if fn == "min":
            return F.min(v).over(frame)
        if fn == "max":
            return F.max(v).over(frame)
        if fn == "count":
            return F.count(v).over(frame)
        if fn == "first":
            return F.first(v).over(frame)
        if fn == "last":
            return v
        if fn == "lag":
            return F.lag(v, 1).over(w)
        if fn == "row_number":
            return F.row_number().over(w).cast("long")
        raise ValueError(f"unsupported rows-window fn: {fn}")

    agg_cols = [expr(fn, c).alias(out_col) for out_col, fn, c in specs]
    if emit == "buffer_full":
        return (
            df.select("*", F.row_number().over(w).alias("_rn"), *agg_cols)
            .where(F.col("_rn") >= buffer_size)
            .drop("_rn")
        )
    return df.select("*", *agg_cols)
