"""Streaming level1/level2 derivation: the episode folds over micro-batches
(§2.9).

The batch path (``fold.spread_fold`` / ``fold.depth_change_fold``) shuffles
once and streams Arrow batches through per-(pair, era) ``EpisodeFolder``
state machines. The streaming form runs the same folders in one stateful
kernel, :func:`_fold_events`, whose state carries over between micro-batches
the way the reference's C fold carries over between SPI cursor fetches
(db/c/obadiah_db/obadiah_db.cpp:270-363) — and, as there, level1 AND level2
come from the same fold. Two drivers run the kernel, as
:func:`~obadiah_spark.streaming.ingest.chain_events` has two:

- :func:`fold_stream`, ``applyInPandasWithState`` grouped by market-era
  (pair_id, exchange_id, era): the state lives in Structured Streaming's
  state store and is checkpointed with the query, never on the driver;
- :class:`StreamingFold`, the single-process mirror, which holds each
  market's state row in memory as
  :class:`~obadiah_spark.streaming.ingest.Level3Ingestor` does.

A market's state row (one array per level3 field a folder reads) is
the rows to replay before the next micro-batch: the open orders at the end
of the last closed episode, as a ``chain_state='seed'`` episode — the
period fold's restart (``fold.period_fold``) — followed by the rows of the
trailing episode, which may still be split across micro-batches. Each
trigger builds a fresh folder, replays the state and folds the new rows,
and emits only the episodes that closed, so every emitted row is final.
At stream end :func:`finalize_open_episodes` closes the trailing episodes
from the checkpoint's state (:meth:`StreamingFold.flush` from the held
state) — the folds' counterpart of
:func:`~obadiah_spark.streaming.ingest.finalize_open_chains`. The seed
replay is exact because the level1 and level2 folders' state after an
episode is a function of the book, which their ``on_seed`` absorbs.

Ordering contract: events arrive in event-time order per market — upstream
that is the SRC5 watermark reorder's contract (``streaming/reorder.py``). A
row earlier than the market's trailing episode comes too late (its episode
was emitted already) and is dropped, the chain's too-late contract.

Differential contract (tested): any micro-batch split of the event stream,
and a restart from the checkpoint, reproduces the batch fold bit-for-bit.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import numpy as np
import pandas as pd

from obadiah_spark.fold import (DEPTH_SCHEMA, EVENT_ORDER, FOLD_KEYS,
                                SPREAD_SCHEMA, EpisodeFolder, _DepthFolder,
                                _EVENT_COLS, _SpreadFolder, schema_dtypes,
                                typed_frame)
from obadiah_spark.streaming.ingest import _HeldState

_SCHEMAS = {_SpreadFolder: SPREAD_SCHEMA, _DepthFolder: DEPTH_SCHEMA}

# one element per replayed row: the fields a folder reads from an event,
# microtimestamp as epoch µs
_STATE_SCHEMA = ("microtimestamp array<long>, order_id array<long>, "
                 "event_no array<int>, side array<string>, "
                 "price array<double>, amount array<double>, "
                 "chain_state array<string>")
_ROW_COLS = [field.split()[0] for field in _STATE_SCHEMA.split(", ")]


def _fold_events(folder_cls: type[EpisodeFolder], key: tuple,
                 pdfs: Iterator[pd.DataFrame], state, close: bool = False
                 ) -> Iterator[pd.DataFrame]:
    """Fold one market-era ``key`` = (pair_id, exchange_id, era) by its new
    event rows ``pdfs``; ``state`` is the market's ``GroupState`` (or any
    object with its ``exists``/``get``/``update``). Yields the output of
    the episodes that closed; ``close`` closes the trailing one too."""
    frames = [pdf[_ROW_COLS] for pdf in pdfs]
    if state.exists:
        held = pd.DataFrame(dict(zip(_ROW_COLS, state.get)))
        held["microtimestamp"] = pd.to_datetime(held["microtimestamp"],
                                                unit="us")
        pending = held["microtimestamp"].iloc[-1]
        frames = [held] + [f[f["microtimestamp"] >= pending] for f in frames]
    rows = (pd.concat(frames, ignore_index=True)
            .sort_values(EVENT_ORDER, kind="mergesort"))
    ts = rows["microtimestamp"].to_numpy()
    cut = len(rows) if close else int(np.searchsorted(ts, ts[-1]))
    keep, out = rows.iloc[cut:], []
    if cut:
        folder = folder_cls(pd.Series({"pair_id": key[0], "era": key[2]}))
        out = [*folder.feed(rows.iloc[:cut]), *folder.finish()]
        # the book's open orders, replayed next time as a seed episode
        seed = pd.DataFrame.from_dict(folder.book.orders, orient="index",
                                      columns=["side", "price", "amount"])
        keep = pd.concat([seed.rename_axis("order_id").reset_index().assign(
            microtimestamp=ts[cut - 1], event_no=0, chain_state="seed"), keep])
    us = keep["microtimestamp"].to_numpy("M8[us]").view("i8")
    state.update((us.tolist(), *(keep[c].tolist() for c in _ROW_COLS[1:])))
    dtypes = schema_dtypes(_SCHEMAS[folder_cls])
    yield from (typed_frame(chunk, dtypes) for chunk in out)


def fold_stream(events, folder_cls: type[EpisodeFolder]):
    """Group a level3 event stream by market-era and run the fold kernel;
    the output holds every closed episode once (append mode)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.select(*_EVENT_COLS).groupBy(*FOLD_KEYS).applyInPandasWithState(
        functools.partial(_fold_events, folder_cls), _SCHEMAS[folder_cls],
        _STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout)


def finalize_open_episodes(spark, checkpoint_dir: str,
                           folder_cls: type[EpisodeFolder]):
    """Stream end: close every market-era's trailing episode from the state
    in ``checkpoint_dir`` (Spark's ``statestore`` source). These are the
    rows the stream has not emitted."""
    state = spark.read.format("statestore").load(checkpoint_dir)
    close = functools.partial(_fold_events, folder_cls, close=True)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                held = _HeldState()
                held.update(row[len(FOLD_KEYS):])
                yield from close(row[:len(FOLD_KEYS)], [], held)

    return state.select("key.*", "value.groupState.*").mapInPandas(
        run, _SCHEMAS[folder_cls])


class StreamingFold:
    """Single-process driver of :func:`_fold_events`: each batch is grouped
    by market-era and fed to the kernel with that market's state held in
    memory; :meth:`flush` closes the trailing episodes."""

    folder_cls: type[EpisodeFolder]

    def __init__(self) -> None:
        self.states: dict[tuple, _HeldState] = {}
        self.out: list[pd.DataFrame] = []

    def process_batch(self, pdf: pd.DataFrame) -> None:
        for key, grp in pdf.groupby(list(FOLD_KEYS), sort=False):
            state = self.states.setdefault(key, _HeldState())
            self.out.extend(_fold_events(self.folder_cls, key, [grp], state))

    def flush(self) -> pd.DataFrame:
        for key, state in self.states.items():
            self.out.extend(_fold_events(self.folder_cls, key, [], state,
                                        close=True))
        dtypes = schema_dtypes(_SCHEMAS[self.folder_cls])
        empty = typed_frame({c: [] for c in dtypes}, dtypes)
        return pd.concat(self.out or [empty], ignore_index=True)


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
    """Drive a file-per-trigger stream of level3 events through the fold
    and return its rows with the trailing episodes closed."""
    name = f"fold{folder_cls.__name__}"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(l3_dir))
    (fold_stream(stream, folder_cls).writeStream.format("memory")
     .queryName(name).option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True).start().awaitTermination())
    return spark.table(name).unionByName(
        finalize_open_episodes(spark, checkpoint_dir, folder_cls)).toPandas()


run_streaming_spread = functools.partial(run_streaming_fold,
                                         folder_cls=_SpreadFolder)
run_streaming_depth_change = functools.partial(run_streaming_fold,
                                               folder_cls=_DepthFolder)
