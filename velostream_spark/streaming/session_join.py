"""True streaming session-windowed stream-stream join — the unbounded form
of ``queries/joins.py::session_join`` (reference JoinMode session
co-windowing, ``sql/execution/join/coordinator.rs:101-102``).

Semantics: two event kinds of one key match iff they fall in the same
gap-separated session (a left event and right event extend each other's
session — merged-session semantics, exactly the batch twin's
co-sessionization).

Spark has no built-in session-windowed stream-stream join (session windows
exist only for aggregations), so this is a custom stateful operator
(SURVEY §2 option (b)): ``applyInPandasWithState`` with bucketed state. The
physical state key is ``pmod(hash(key), buckets)``: Python is entered once
per bucket per micro-batch (not once per join key, ~0.5 ms each), each
bucket holds every resident key's open sessions in one pickled dict, and
the per-key session walk runs in-process over contiguous per-key slices of
the key-sorted batch.

State per key = the list of OPEN sessions, each ``[start, last, lefts,
rights]``.  Multiple sessions stay open simultaneously (like Spark's own
session-window aggregation state) so an out-of-order event arriving WITHIN
the allowed lateness but AFTER a newer event still lands in the session it
belongs to — extending it, or BRIDGING two open sessions into one (the
merge emits the cross pairs between the two member sets).  The reference's
session strategy has the same late-extension contract
(window_v2/strategies/session.rs "merge + late extension").

Pairs are emitted EAGERLY — when the later element of a pair arrives:

- every pair is emitted exactly once (new element × opposite members of the
  session it joins; merges emit the cross pairs between the merged
  sessions' opposite sides);
- a bounded availableNow run therefore emits the complete pair set and
  hash-matches the batch composition (no watermark-cutoff asymmetry);
- ``session_start`` on an emitted pair is the session's start AS OF
  emission (a later out-of-order event may retroactively extend the start
  the batch twin reports — hindsight an online operator doesn't have).

Scale: sessions are garbage-collected inside the bucket against the
bucket's own event clock — a session is retired once ``last + gap +
late_slack`` falls behind the newest event time the bucket has seen, and a
key with no open session leaves the dict — so state is bounded by the
lateness horizon, not the stream's lifetime.  The pair generation is
inherently |L|×|R| per session — the session cap is the data's own session
size, the same bound the reference's in-memory session buffer carries.
"""

from __future__ import annotations

import pickle
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StructField,
    StructType,
    TimestampType,
)

__all__ = ["session_pair_join_stream"]


def _walk_event(
    sessions: list[list],
    t: int,
    ev_id: int,
    is_left: bool,
    gap_us: int,
    emit: Callable[[int, int, int], None],
) -> None:
    """Route one event into the key's open sessions (mutating them), emitting
    each new pair exactly once via ``emit(left_id, right_id, session_start)``.

    An event extends every session whose span it falls within ``gap`` of;
    two such sessions (one earlier, one later) are BRIDGED: their member
    sets merge and the cross pairs between the two are emitted.
    """
    matched = [s for s in sessions if s[0] - gap_us <= t <= s[1] + gap_us]
    if not matched:
        cur = [t, t, [], []]
        sessions.append(cur)
    else:
        cur = matched[0]
        for other in matched[1:]:
            merged_start = min(cur[0], other[0])
            for left in cur[2]:
                for right in other[3]:
                    emit(left, right, merged_start)
            for left in other[2]:
                for right in cur[3]:
                    emit(left, right, merged_start)
            cur[0] = min(cur[0], other[0])
            cur[1] = max(cur[1], other[1])
            cur[2].extend(other[2])
            cur[3].extend(other[3])
            sessions.remove(other)
        cur[0] = min(cur[0], t)
        cur[1] = max(cur[1], t)
    if is_left:
        for right in cur[3]:
            emit(ev_id, right, cur[0])
        cur[2].append(ev_id)
    else:
        for left in cur[2]:
            emit(left, ev_id, cur[0])
        cur[3].append(ev_id)


def session_pair_join_stream(
    sdf: DataFrame,
    key_col: str,
    time_col: str,
    id_col: str,
    side_col: str,
    left_side: str,
    right_side: str,
    gap_minutes: int = 30,
    left_out: str = "left_id",
    right_out: str = "right_id",
    buckets: int | None = None,
    late_slack_minutes: int = 0,
) -> DataFrame:
    """``sdf`` (streaming) → appended pairs ``(left_out, right_out,
    key_col, session_start)``.

    ``side_col`` holds ``left_side`` / ``right_side`` markers; other rows
    must be filtered out upstream.

    ``buckets`` defaults to 4× the session's shuffle partitions. Set
    ``late_slack_minutes`` to the source's watermark delay: a session is
    retired once ``last + gap + late_slack`` falls behind the bucket's max
    seen event time, so with the default slack of 0 an out-of-order
    extension arriving a batch late finds its session already retired.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    slack_us = late_slack_minutes * 60 * 1_000_000

    if buckets is None:
        buckets = 4 * int(sdf.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    in_fields = {f.name: f.dataType for f in sdf.schema.fields}
    out_schema = StructType(
        [
            StructField(left_out, in_fields[id_col]),
            StructField(right_out, in_fields[id_col]),
            StructField(key_col, in_fields[key_col]),
            StructField("session_start", TimestampType()),
        ]
    )
    state_schema = "blob binary"

    def func(bucket_key, pdfs, state):
        st: dict = pickle.loads(state.get[0]) if state.exists else {}
        out_l: list[int] = []
        out_r: list[int] = []
        out_k: list = []
        out_s: list[int] = []
        max_seen = 0
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values([key_col, time_col, id_col], kind="mergesort")
            ts_us = (pdf[time_col].astype("int64") // 1_000).to_numpy()
            ids = pdf[id_col].to_numpy()
            is_left = (pdf[side_col] == left_side).to_numpy()
            keys = pdf[key_col].to_numpy()
            max_seen = max(max_seen, int(ts_us.max()))
            # contiguous per-key slices (input sorted by key)
            change = np.nonzero(keys[1:] != keys[:-1])[0] + 1
            starts = np.concatenate(([0], change, [len(keys)]))
            for a, b in zip(starts[:-1], starts[1:]):
                k = keys[a]
                k = None if (isinstance(k, float) and np.isnan(k)) else k
                sessions = st.get(k)
                if sessions is None:
                    sessions = []
                    st[k] = sessions

                def emit(left: int, right: int, start: int, _k=k) -> None:
                    out_l.append(left)
                    out_r.append(right)
                    out_k.append(_k)
                    out_s.append(start)

                for j in range(a, b):
                    _walk_event(
                        sessions,
                        int(ts_us[j]),
                        int(ids[j]),
                        bool(is_left[j]),
                        gap_us,
                        emit,
                    )
        # in-bucket GC: sessions definitively closed w.r.t. the bucket's own
        # event clock minus the allowed lateness
        if max_seen:
            horizon = max_seen - gap_us - slack_us
            for k in list(st):
                st[k] = [s for s in st[k] if s[1] >= horizon]
                if not st[k]:
                    del st[k]
        state.update((pickle.dumps(st, protocol=pickle.HIGHEST_PROTOCOL),))
        if out_l:
            yield pd.DataFrame(
                {
                    left_out: pd.Series(out_l, dtype="int64"),
                    right_out: pd.Series(out_r, dtype="int64"),
                    key_col: out_k,
                    "session_start": pd.to_datetime(
                        pd.Series(out_s, dtype="int64"), unit="us"
                    ),
                }
            )

    bucket_expr = F.pmod(F.hash(F.col(key_col)), F.lit(buckets))
    projected = sdf.select(
        *dict.fromkeys([key_col, time_col, id_col, side_col])
    ).withColumn("__velo_bucket", bucket_expr)
    return (
        projected.groupBy("__velo_bucket")
        .applyInPandasWithState(func, out_schema, state_schema, "append", "NoTimeout")
    )
