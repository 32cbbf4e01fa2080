"""Structured-Streaming layer: the streaming semantics of the reference
engine (SURVEY.md §2.6, §3) re-expressed on Spark Structured Streaming.

Modules:

- ``source``  — streaming readers over files (parquet/CSV/JSONL) mirroring
  the reference's file/Kafka ``DataSource`` surface.
- ``runner``  — run-to-completion helpers (``availableNow`` trigger + memory
  sink) turning a streaming plan into a DataFrame the driver can collect.
- ``emit``    — EMIT CHANGES / EMIT FINAL → Spark ``outputMode`` mapping
  (reference select.rs:490-501 defaults).
- ``rows_window`` — the reference's ``ROWS WINDOW BUFFER n ROWS`` per-record
  analytic window as a custom stateful op, plus its batch twin.
- ``session_join`` — session-windowed stream-stream join (open sessions per
  key, pairs emitted as the later element arrives).
- ``asof_stream`` — stream-stream strict as-of join, finalized by the
  watermark.

  Each of the three is ONE ``applyInPandasWithState`` operator with
  bucketed state: the state key is a hash bucket of the partition/join key,
  each bucket's state is one pickled dict of its resident keys, so Python
  is entered once per bucket per micro-batch, not once per key.
- ``jobs``    — multi-job server analog (deploy/stop/pause/resume/SHOW) over
  ``spark.streams`` (reference server/stream_job_server.rs).
- ``late_data`` — late-data strategies: Drop (watermark), UpdatePreviousWindow
  (update mode), DeadLetterQueue (foreachBatch side-output)
  (reference watermarks.rs:113-130).
"""
