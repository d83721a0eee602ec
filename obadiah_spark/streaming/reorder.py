"""SRC5 — event-time reorderer as watermark semantics.

The reference buffers events in a heap and releases them only after a fixed
1-second local-time slack, ordered by (exchange_ts, priority, local_ts)
(reference python/obadiah/reorder.py:26-112, delay :53). In Structured
Streaming that contract is exactly ``withWatermark``: events later than the
delay are dropped/finalized, and each micro-batch is sorted in event time
before processing (the chain kernel sorts each market's rows — ordering is
per-batch, cross-batch ordering is the watermark's job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def with_reorder_watermark(stream: DataFrame, ts_col: str = "ts",
                           delay: str = "1 second") -> DataFrame:
    """Declare the reorderer's lateness contract on a streaming DataFrame."""
    return stream.withWatermark(ts_col, delay)

