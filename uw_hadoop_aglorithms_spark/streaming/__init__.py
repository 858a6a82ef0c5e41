"""Streaming analytics (SURVEY.md §2.10).

The reference's DStream jobs replay NYC-taxi CSVs through a queueStream
with a manual clock (reference Spark/Spark Streaming/EventCount.scala:
51-118). Here each event-time query has ONE definition, a frame→frame
function, run unchanged in batch or streaming (the Structured Streaming
model: a query over a table or over a stream is the same query):

- `windows.py` — the window-count and geo-tag queries, and their batch
  entry points over the `events` table: the correctness-testable
  semantics (windowed aggregation, lag-based trend state),
  oracle-checked against DuckDB. Sessionization lives beside the batch
  `user_sessions` in operators/temporal.py.
- `runner.py` — the streaming entry points: the same queries over a
  watermarked file-source replay (maxFilesPerTrigger=1), every stream
  drained through one AvailableNow helper.
- `trending.py` — the one stream-only query, cross-batch trend state via
  applyInPandasWithState.

Batch/streaming equivalence is the test strategy: the streaming runner's
output is compared to the batch form on the same data
(Trigger.AvailableNow makes the streaming run finite and deterministic).
"""
