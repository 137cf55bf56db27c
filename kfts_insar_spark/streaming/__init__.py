"""Streaming is the batch pipeline over a streamed landing table: micro-
batches land exactly once through :class:`~.sink.SnapshotBatchSink`, and
``TierPipeline.run`` processes the landed table, dropping rows at or below
its committed watermark as late. There is no streaming-only operator."""
