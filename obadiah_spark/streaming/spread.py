"""Streaming level1/level2 derivation: episode folds over micro-batches
(§2.9).

The batch path (``fold.spread_fold`` / ``fold.depth_change_fold``) shuffles
once and streams Arrow batches through per-(pair, era) ``EpisodeFolder``
state machines. The streaming form is the same machine fed by
``foreachBatch``: folder state (book + emitted best / level map) persists
across micro-batches per key, exactly like the reference's C fold persists
across SPI cursor fetches (db/c/obadiah_db/obadiah_db.cpp:270-363) — and
the reference derives level1 AND level2 from the SAME fold, which is why
both streaming forms here share one accumulator class. Events must arrive
in event-time order per key — upstream that is the SRC5 watermark
reorder's contract (``streaming/reorder.py``); episodes may still split
across micro-batches (the folder defers an episode until it sees the next
timestamp, and :meth:`flush` force-closes only at stream end).

Differential contract (tested): any micro-batch split of the event stream
reproduces the matching batch fold bit-for-bit.

Scale note: this driver-side mirror holds one folder per (pair, era) in the
process — the executor-side binding is the same move as
``streaming/chain.py`` (keyed state in the state store); the folder state
here is O(open orders), the book itself.
"""

from __future__ import annotations

import pandas as pd

from obadiah_spark.fold import EpisodeFolder, _DepthFolder, _SpreadFolder

_KEY = ["pair_id", "exchange_id", "era"]
_ORDER = ["microtimestamp", "order_id", "event_no"]


class StreamingFold:
    """Accumulates fold output from ordered micro-batches of level3 events,
    one ``folder_cls`` state machine per (pair, exchange, era) key."""

    folder_cls: type[EpisodeFolder] = _SpreadFolder

    def __init__(self, folder_cls: type[EpisodeFolder] | None = None) -> None:
        if folder_cls is not None:
            self.folder_cls = folder_cls
        self.folders: dict[tuple, EpisodeFolder] = {}
        self.out: list[pd.DataFrame] = []

    def process_batch(self, pdf: pd.DataFrame) -> None:
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values(_KEY + _ORDER, kind="mergesort")
        for key, grp in pdf.groupby(_KEY, sort=False):
            folder = self.folders.get(key)
            if folder is None:
                folder = self.folders[key] = self.folder_cls(grp.iloc[0])
            self.out.extend(map(pd.DataFrame, folder.feed(grp)))

    def flush(self) -> pd.DataFrame:
        for folder in self.folders.values():
            self.out.extend(map(pd.DataFrame, folder.finish()))
        cols = list(self.folder_cls.OUT_COLS)
        if not self.out:
            return pd.DataFrame(columns=cols)
        return pd.concat(self.out, ignore_index=True)[cols]


class StreamingSpread(StreamingFold):
    """Streaming level1 (D6/D8 upstream)."""

    folder_cls = _SpreadFolder


class StreamingDepthChange(StreamingFold):
    """Streaming level2 (D1) — VERDICT r4 #5: the micro-batch counterpart
    of ``fold.depth_change_fold``, same folder as the batch path."""

    folder_cls = _DepthFolder


def run_streaming_fold(spark, l3_dir: str, schema: str, checkpoint_dir: str,
                       folder_cls: type[EpisodeFolder] = _SpreadFolder,
                       ) -> pd.DataFrame:
    """Drive a file-per-trigger stream of level3 events through the fold."""
    acc = StreamingFold(folder_cls)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(l3_dir)
    )

    def handle(batch_df, batch_id):  # noqa: ANN001
        acc.process_batch(batch_df.toPandas())

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return acc.flush()


def run_streaming_spread(spark, l3_dir: str, schema: str,
                         checkpoint_dir: str) -> pd.DataFrame:
    return run_streaming_fold(spark, l3_dir, schema, checkpoint_dir,
                              _SpreadFolder)


def run_streaming_depth_change(spark, l3_dir: str, schema: str,
                               checkpoint_dir: str) -> pd.DataFrame:
    return run_streaming_fold(spark, l3_dir, schema, checkpoint_dir,
                              _DepthFolder)
