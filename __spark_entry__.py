"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Conventions (so Spark and DuckDB hashes agree):
- every aggregate/computed column is aliased identically on both sides;
- DuckDB sums are CAST(... AS BIGINT) (DuckDB sums BIGINT→HUGEINT, which
  would otherwise surface as float64 in pandas);
- money is aggregated as exact integer cents (see obadiah_spark.relational);
- the ``level3``/``matches`` order-event log is synthesized deterministically
  from the ``events`` table by shared SQL (obadiah_spark.synth) that runs
  verbatim on both engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

SF0001 = "/root/testdata/sf0.001"

# order-book snapshot instant used by the gate queries (mid-month, sf-independent)
OB_AT = "2024-01-17 12:00:00"
# get_events window: spans an era interior incl. the book-at-start union path
EV_START, EV_END = "2024-01-09 00:00:00", "2024-01-13 00:00:00"
# trades/intervals bounds: the whole synthetic month
TR_START, TR_END = "2024-01-01 00:00:00", "2024-02-01 00:00:00"
HORIZON = "2024-02-01 00:00:00"

# a gate runner: (session, sf_dir) -> the frame the driver hashes
Runner = Callable[[SparkSession, str], DataFrame]


# last sf_dir whose base tables are registered on a session (keyed by
# the LIVE session object — see the _CKPT_SILVER note).  Re-registering
# the same 10 parquet views costs ~1.2 s per call (10 × read-plan build
# + view analysis over py4j), and EVERY gate runner calls _load — across
# a 100-query two-pass bench that is minutes of pure re-registration
# (optimization guide §1.2: don't compute things you throw away).  Views
# are only ever (re)created here and in synth.register_level3, and
# DataFrames bind their plans at creation time, so skipping an identical
# re-registration is invisible to every consumer; a DIFFERENT sf_dir on
# the same session still reloads (the driver's entry()→queries() flow
# switches sf dirs mid-session).
_LOADED_SF: dict[SparkSession, str] = {}


def _load(spark: SparkSession, sf_dir: str) -> None:
    from obadiah_spark.session import load_tables

    if _LOADED_SF.get(spark) == sf_dir:
        return
    load_tables(spark, sf_dir)
    _LOADED_SF[spark] = sf_dir


def _gate_tmpdir(prefix: str) -> str:
    """mkdtemp + atexit rmtree.  Gate work dirs (stream replay sources,
    checkpoint dirs, persisted-index copies) must outlive the LAZY frame
    a runner returns — the driver materializes it after the runner exits
    — so cleanup is deferred to interpreter exit instead of eager;
    repeated driver/verify runs then stop accumulating copies in /tmp
    (each run is its own process)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _write_one_chunk(df: DataFrame, work: str, src: str, idx: int,
                     mtime: float) -> None:
    """Write one replay chunk file EXECUTOR-side (coalesce(1) parquet,
    renamed to its slot) with a pinned mtime — file streams replay in
    mtime order; same-ms ties reorder micro-batches, so the stamps are
    strictly increasing."""
    import os

    out = os.path.join(work, f"_chunk{idx}")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    part = next(f for f in os.listdir(out) if f.endswith(".parquet"))
    p = os.path.join(src, f"{idx:03d}.parquet")
    os.replace(os.path.join(out, part), p)
    os.utime(p, (mtime, mtime))


def _write_replay_chunks(df: DataFrame, order_cols: list[str], work: str,
                         chunks: int = 3, subdir: str = "src"
                         ) -> tuple[str, int]:
    """Author a streaming gate's mtime-ordered replay files without a
    driver collect (VERDICT r14 cosmetic #3): rows ranked on
    ``order_cols`` split into ceil(n/chunks)-row files.  The
    single-partition rank window is the global replay order the gate
    contract needs, bounded to the gate fabric (≤ tens of thousands of
    rows — operator inputs never pass through here).  Returns
    ``(src_dir, n_rows)`` — the row count sizes the stream's state
    partitions (streaming/scale.py, r15).

    All chunks are written by ONE partitioned write job (r16): the old
    per-chunk filter+coalesce(1) writes ran 1 job per chunk (plus their
    plan/py4j construction), ~1.0-1.4 s of warm authoring per gate pass
    paid by all five streaming gates twice per bench.  Repartitioning
    by the chunk key puts every chunk's rows in one task, so
    ``partitionBy`` emits exactly one file per chunk, internally sorted
    by ``order_cols`` (same bytes-per-file as the old path); the files
    are then renamed into the replay slots with the same strictly
    increasing pinned mtimes.  Warm authoring 1.0-1.4 s → ~0.5 s."""
    import os
    import time

    from pyspark.sql import Window

    # rank ONCE, checkpoint, then split — without the checkpoint the
    # write (and the count) re-runs the full scan + single-partition sort
    ranked = df.withColumn(
        "_rn", F.row_number().over(Window.orderBy(*order_cols))
    ).localCheckpoint()
    n = ranked.count()
    per = (n + chunks - 1) // chunks
    src = os.path.join(work, subdir)
    os.makedirs(src, exist_ok=True)
    now = time.time()
    out = os.path.join(work, f"_{subdir}_chunks")
    (ranked.withColumn("_chunk", ((F.col("_rn") - 1) / per).cast("int"))
     .drop("_rn")
     .repartition(chunks, "_chunk")
     .sortWithinPartitions("_chunk", *order_cols)
     .write.partitionBy("_chunk").mode("overwrite").parquet(out))
    for i in range(chunks):
        d = os.path.join(out, f"_chunk={i}")
        p = os.path.join(src, f"{i:03d}.parquet")
        if not os.path.isdir(d):
            # n < chunks leaves tail chunks empty: the hash write emits
            # no dir for an absent value — write the empty file the old
            # way so the replay still sees its micro-batch slot
            _write_one_chunk(
                ranked.limit(0).drop("_rn"), work, src, i, now + 10 * i)
            continue
        parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(parts) == 1, f"chunk {i}: {parts}"  # one task per value
        os.replace(os.path.join(d, parts[0]), p)
        os.utime(p, (now + 10 * i, now + 10 * i))
    return src, n


# keyed by the live session object, not id() (see _CKPT_SILVER note)
_L3_CACHE: dict[tuple[SparkSession, str], DataFrame] = {}


def _l3(spark: SparkSession, sf_dir: str):
    """Synthesize (and Spark-cache) the level3 log once per (session, sf)."""
    from obadiah_spark.synth import register_level3

    key = (spark, sf_dir)
    if key not in _L3_CACHE:
        _load(spark, sf_dir)
        _L3_CACHE[key] = register_level3(spark).cache()
    return _L3_CACHE[key]


# keyed by the LIVE session object (a dead session's id() could be reused
# by CPython, which would skip re-seeding the new session's checkpoint
# cache and serve stale silver paths) — same rule as fold._CKPT_CACHE
_CKPT_SILVER: dict[tuple[SparkSession, str], str] = {}
CKPT_FREQ_S = 86400


def _ckpt_silver(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the daily book-checkpoint silver table once per
    (session, sf) and seed the in-session checkpoint cache with the
    read-back frame, so BOTH the pruned point-in-time probe
    (order_book_ckpt) and every default-frequency period_fold consumer
    (queues / depth_resample / depth_summary / depth_chains /
    trading_period) read the materialized table instead of re-deriving
    checkpoints from the full log (VERDICT r4 #1 — write-once lifecycle).
    Returns the parquet path."""
    import json
    import os

    from obadiah_spark.fold import book_checkpoints, seed_checkpoint_cache
    from obadiah_spark.sources.silver import (
        read_checkpoints, write_checkpoints, write_era_registry)

    key = (spark, sf_dir)
    if key not in _CKPT_SILVER:
        l3 = _l3(spark, sf_dir)
        sf_name = os.path.basename(os.path.normpath(sf_dir)) or "sf"
        repo = os.path.dirname(os.path.abspath(__file__))
        path = os.path.join(repo, ".silver_cache", sf_name,
                            f"ckpt_{CKPT_FREQ_S}")
        # write-ONCE lifecycle across processes, not just per session: the
        # build is skipped when an on-disk table matches the current inputs
        # AND the derivation code. The fingerprint is the newest mtime of
        # the source parquet plus a CONTENT hash of the synth/fold
        # modules — either regenerated testdata or a derivation change
        # forces a rebuild, so a stale table can never satisfy the gate.
        # (Code was fingerprinted by mtime through r14; a checkout that
        # rewrites unchanged files — same bytes, new mtimes — then forced
        # a spurious full cold rebuild, ~35 s vs the ~7 s warm read-back
        # at sf0.1.  Hashing the bytes keeps the exact invalidation
        # semantics while surviving mtime churn; guide §1.2, don't
        # recompute what nothing invalidated.)
        import hashlib

        import obadiah_spark.fold as _fold
        import obadiah_spark.synth as _synth

        def _mt(p):
            try:
                return max((os.path.getmtime(os.path.join(p, f))
                            for f in os.listdir(p)), default=0.0)
            except OSError:
                return 0.0

        def _code_hash(*mods) -> str:
            h = hashlib.md5()
            for m in mods:
                with open(m.__file__, "rb") as fh:
                    h.update(fh.read())
            return h.hexdigest()
        fp = {"src": _mt(sf_dir), "freq": CKPT_FREQ_S,
              "code": _code_hash(_synth, _fold)}
        meta_file = os.path.join(path, "_build_meta.json")
        try:
            with open(meta_file) as fh:
                fresh = json.load(fh) == fp
        except (OSError, ValueError):
            fresh = False
        if not fresh:
            write_checkpoints(
                book_checkpoints(l3, CKPT_FREQ_S, use_cache=False), path)
            write_era_registry(l3, path)
            with open(meta_file, "w") as fh:
                json.dump(fp, fh)
        seed_checkpoint_cache(l3, CKPT_FREQ_S, read_checkpoints(spark, path))
        _CKPT_SILVER[key] = path
    return _CKPT_SILVER[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from obadiah_spark import relational

    _load(spark, SF0001)
    return relational.q1_pricing_summary(spark)


# ---------------------------------------------------------------- queries ---

def _q_q1(spark, sf_dir):
    from obadiah_spark import relational

    _load(spark, sf_dir)
    return relational.q1_pricing_summary(spark)


def _q_q3(spark, sf_dir):
    from obadiah_spark import relational

    _load(spark, sf_dir)
    return relational.q3_shipping_priority(spark)


def _q_q5(spark, sf_dir):
    from obadiah_spark import relational

    _load(spark, sf_dir)
    return relational.q5_revenue_by_nation(spark)


def _q_topk(spark, sf_dir):
    from obadiah_spark import relational

    _load(spark, sf_dir)
    return relational.topk_orders_per_customer(spark, k=3)


def _q_sessionize(spark, sf_dir):
    from obadiah_spark import relational

    _load(spark, sf_dir)
    return relational.sessionize_events(spark, gap_minutes=30)


def _q_order_book(spark, sf_dir):
    from obadiah_spark.operators.order_book import order_book

    l3 = _l3(spark, sf_dir)
    return order_book(l3, OB_AT)


def _q_order_book_ckpt(spark, sf_dir):
    """B1 via the MATERIALIZED book-checkpoint silver table (SURVEY
    §4.2.3): probe metadata (current era, latest boundary) is a driver-side
    catalog lookup; the plan reads ONE pruned boundary partition + the
    (boundary, ts] tail instead of the era's whole history; must equal the
    full-scan order_book (shares its oracle). The one-time silver write
    happens in :func:`_ckpt_silver` (bench reports it as its own
    ``silver_ckpt_build`` line)."""
    from obadiah_spark.operators.order_book import order_book, snapshot_from_silver

    l3 = _l3(spark, sf_dir)
    live = snapshot_from_silver(l3, _ckpt_silver(spark, sf_dir), OB_AT,
                                only_makers=True)
    return order_book(l3, OB_AT, live=live)


def _q_spread(spark, sf_dir):
    from obadiah_spark.fold import spread_fold

    return spread_fold(_l3(spark, sf_dir)).drop("era")


def _q_depth_change(spark, sf_dir):
    from obadiah_spark.fold import depth_change_fold

    return depth_change_fold(_l3(spark, sf_dir))


def _q_spread_periods(spark, sf_dir):
    """D3: period-decomposed level1 (6h periods, seeded books) — must equal
    the unsplit spread fold, so it shares the spread oracle."""
    from obadiah_spark.fold import spread_fold_periods

    return spread_fold_periods(_l3(spark, sf_dir), frequency_s=6 * 3600).drop("era")


def _q_get_events(spark, sf_dir):
    from obadiah_spark.fold import spread_fold
    from obadiah_spark.operators.events import get_events

    l3 = _l3(spark, sf_dir)
    return get_events(l3, spread_fold(l3), spark.table("matches"), EV_START, EV_END)


def _q_get_events_freq(spark, sf_dir):
    """E1 with p_frequency (get_schema.sql:307): only the prevailing
    best-bid/ask columns read the grid-sampled level1 stream; event rows
    are untouched."""
    from obadiah_spark.fold import spread_fold
    from obadiah_spark.operators.events import get_events

    l3 = _l3(spark, sf_dir)
    return get_events(l3, spread_fold(l3), spark.table("matches"),
                      EV_START, EV_END, frequency_s=GET_FREQ_S)


def _q_get_trades(spark, sf_dir):
    from obadiah_spark.operators.events import get_trades

    _l3(spark, sf_dir)
    return get_trades(spark.table("matches"), TR_START, TR_END)


def _q_intervals(spark, sf_dir):
    from obadiah_spark.operators.events import events_intervals

    return events_intervals(_l3(spark, sf_dir), HORIZON)


def _q_summary(spark, sf_dir):
    from obadiah_spark.operators.events import summary

    l3 = _l3(spark, sf_dir)
    return summary(l3, spark.table("matches"))


def _docs(spark, sf_dir):
    _load(spark, sf_dir)
    return spark.table("documents")


def _q_dedup_stream(spark, sf_dir):
    """Streaming MinHash-LSH dedup ON INGEST (r11,
    obadiah_spark/streaming/dedup_stream.py): the documents table replayed
    as a 3-micro-batch file stream through ``minhash_lsh_stream``
    (applyInPandasWithState keyed on (band, band_sig); state = the
    bucket's enrolled doc_ids; each arriving doc emits a pair per
    resident). Output = the distinct candidate-pair set, which equals the
    batch ``minhash_lsh_candidates`` set EXACTLY when no bucket exceeds
    the cap — so the DuckDB oracle is the batch SQL at the same cap, and
    the driver hash covers a stateful streaming operator end-to-end
    (signature arithmetic, state carry across micro-batches, and the
    pair fan-out). First streaming-replay gate in the registry."""
    import os
    import uuid

    from obadiah_spark.pipelines.dedup import LSH_BANDS
    from obadiah_spark.streaming.dedup_stream import minhash_lsh_stream
    from obadiah_spark.streaming.scale import (scoped_shuffle_partitions,
                                               stream_shuffle_partitions)

    work = _gate_tmpdir("dedup_stream_gate_")
    src, n = _write_replay_chunks(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text"), ["doc_id"], work, subdir="docs")
    # one file per trigger = ONE input partition per micro-batch; the
    # signature stage is the compute (md5 per shingle x seed), so spread
    # it — a per-batch shuffle of a few thousand short rows is noise
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src)
              .repartition(spark.sparkContext.defaultParallelism))
    name = f"dedup_stream_{uuid.uuid4().hex[:8]}"
    # state volume = LSH_BANDS rows per doc; the keyspace is nearly as
    # large (band buckets are mostly singletons), so the sizing is
    # GROUP-bound (streaming/scale.py) — measured A/B at sf0.1: 1
    # partition 30 s vs 20 partitions ≈ the pinned-32 15.5 s
    with scoped_shuffle_partitions(
            spark, stream_shuffle_partitions(spark, n * LSH_BANDS,
                                             n_groups=n * LSH_BANDS)):
        q = (minhash_lsh_stream(stream, max_bucket_size=10_000)
             .writeStream.format("memory").queryName(name)
             .option("checkpointLocation", os.path.join(work, "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    return spark.table(name).select("doc_a", "doc_b").distinct()


def _q_sessionize_stream(spark, sf_dir):
    """Streaming sessionization ON INGEST (r11 operator, gate r12 as
    promised): the events table replayed as a 4-chunk file stream —
    chunks split on the GLOBAL (ts, event_id) order, which is exactly
    the per-key non-decreasing event-time contract the reorderer
    (streaming/reorder.py) provides in production — through
    ``applyInPandasWithState`` keyed on user_id, with one flush sentinel
    per user in a final micro-batch so every session closes and emits.
    Output must equal the batch gaps-and-islands sessions
    (relational.sessionize_events, itself driver-green), so the oracle
    is the same islands SQL with epoch-us bounds: the driver hashes the
    stateful session fold, the per-row HALF_UP cents rounding, and
    state carry across micro-batches."""
    import os
    import time
    import uuid

    from obadiah_spark.streaming.sessionize_stream import (
        EVENTS_IN_SCHEMA, sessionize_stream)

    _load(spark, sf_dir)
    ev = spark.table("events").select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "user_id",
        F.col("value").cast("double").alias("value"))
    work = _gate_tmpdir("sess_stream_gate_")
    src, n = _write_replay_chunks(ev, ["ts_us", "event_id"], work,
                                  subdir="events")
    # flush sentinels (event_id < 0) in a final batch, one per user,
    # timestamped past every event so they close the open sessions;
    # the one-row max side broadcasts (bounded NLJ, the dsir pattern)
    sentinels = (
        ev.select("user_id").distinct()
        .crossJoin(ev.agg(F.max("ts_us").alias("_last")))
        .select((-1 - F.col("user_id")).alias("event_id"),
                (F.col("_last") + 1).alias("ts_us"), "user_id",
                F.lit(0.0).alias("value"))
        .coalesce(1).sortWithinPartitions("user_id"))
    _write_one_chunk(sentinels, work, src, 3, time.time() + 30)
    stream = (spark.readStream.schema(EVENTS_IN_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    name = f"sess_stream_{uuid.uuid4().hex[:8]}"
    from obadiah_spark.streaming.scale import (scoped_shuffle_partitions,
                                               stream_shuffle_partitions)

    # sized per TRIGGER (r16): the partition fixed cost (task launch +
    # state-store open/commit) is paid per micro-batch, so the density
    # rule sees the per-trigger volume (n_triggers=3 data chunks; the
    # sentinel batch is trivial) — sizing from the whole replay derived
    # the 32-core cap and anti-scaled with cores (r15 driver: c8/c32 =
    # 0.29; 32 cores paid 4x the per-trigger fixed cost of 8 cores for
    # the same rows). Density 4200 rows/partition-trigger is the
    # measured break-even for this per-row Python fold (gap test +
    # cents rounding + state append): the r16 A/B at sf0.1 on local[32]
    # (3-rep fresh sessions, warm passes) read 8 partitions 6.2-6.6 s,
    # 12 -> 7.0-8.0 s, 16 -> 6.6-7.9 s, 32 -> 7.9-10.2 s; the derived
    # count (8 at gate scale) is now core-count-independent — cores
    # only cap, never attract (r15's 50k scalar default had starved
    # the fold at 2 partitions: 17.1-21.0 s)
    with scoped_shuffle_partitions(
            spark, stream_shuffle_partitions(spark, n,
                                             rows_per_partition=4200,
                                             n_triggers=3)):
        q = (sessionize_stream(stream, gap_minutes=30)
             .writeStream.format("memory").queryName(name)
             .option("checkpointLocation", os.path.join(work, "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    return spark.table(name)


def _q_embedding_dedup_stream(spark, sf_dir):
    """Streaming embedding near-dup ON INGEST (r11 operator, gate r12 as
    promised): the embeddings table replayed as a 3-chunk file stream
    through sign-LSH bucketed state (applyInPandasWithState on
    (table, sig)) with exact in-state rescoring. With no bucket over the
    cap the emitted pair set equals the batch
    ``ann_lsh_pairs(min_cosine=0.45)`` at the dedup-sweep geometry —
    pairs AND round-9 cosines (the in-state scorer folds sums in the
    engine's SQL order) — so the oracle recomputes signatures, buckets
    and cosines from the md5-seeded plane weights, exactly like the
    batch ann_lsh_pairs gate."""
    import os
    import uuid

    from obadiah_spark.pipelines.dedup import DEDUP_TABLES
    from obadiah_spark.streaming.dedup_stream import embedding_dedup_stream
    from obadiah_spark.streaming.scale import (scoped_shuffle_partitions,
                                               stream_shuffle_partitions)

    work = _gate_tmpdir("emb_stream_gate_")
    # float32 embedding elements survive verbatim: the chunk writer
    # re-writes the source table's own physical type
    src, n = _write_replay_chunks(
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .select("vec_id", "embedding"), ["vec_id"], work, subdir="emb")
    stream = (spark.readStream.schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1).parquet(src))
    name = f"emb_stream_{uuid.uuid4().hex[:8]}"
    # state volume = one sig row per (vector, table); density 2000 (not
    # the 50k scalar-fold default): each arriving row exact-scores
    # against its bucket residents in Python (O(bucket)·dim per row,
    # ~100× a scalar fold's per-row cost), so per-partition compute
    # dominates the partition fixed cost ~25× sooner — measured A/B at
    # sf0.1: 2 partitions 17.9 s vs 32 partitions 7.6 s (4-rep min);
    # the sign-LSH keyspace is also row-sized (mostly tiny buckets)
    with scoped_shuffle_partitions(
            spark, stream_shuffle_partitions(spark, n * DEDUP_TABLES,
                                             n_groups=n * DEDUP_TABLES,
                                             rows_per_partition=2000)):
        q = (embedding_dedup_stream(stream, min_cosine=0.45,
                                    max_bucket_size=10_000)
             .writeStream.format("memory").queryName(name)
             .option("checkpointLocation", os.path.join(work, "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    # a pair colliding in several tables emits once per table with the
    # same deterministic cosine — collapse like the batch distinct
    return spark.table(name).select("vec_a", "vec_b", "cosine").distinct()


def _q_corpus_clean(spark, sf_dir):
    """The end-to-end training-shard composition (r11 operator, gate r12
    as promised): exact dedup ∘ Gopher quality ∘ PII scrub in one
    declarative plan; survivors only, with the scrubbed text's md5 so
    the hash covers the whole redaction byte stream."""
    from obadiah_spark.pipelines.docquality import corpus_clean

    return corpus_clean(_docs(spark, sf_dir))


def _q_corpus_clean_stream(spark, sf_dir):
    """NEW r12: the training-shard pipeline ON INGEST — stateful
    first-seen dedup keyed on the batch fingerprint, then the BATCH
    quality/scrub operators applied per micro-batch (per-document, so
    batch-local == global). Under the doc_id-ordered 3-chunk replay the
    first-seen canonical equals the batch min-doc_id canonical, so the
    oracle is the batch corpus_clean SQL verbatim — the driver hash
    covers the fingerprint state carry, the eviction-free dedup, and
    the composed scrub byte-exactly."""
    import os
    import uuid

    from obadiah_spark.streaming.corpus_stream import run_corpus_clean_stream
    from obadiah_spark.streaming.scale import (scoped_shuffle_partitions,
                                               stream_shuffle_partitions)

    work = _gate_tmpdir("cc_stream_gate_")
    src, n = _write_replay_chunks(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text"), ["doc_id"], work, subdir="docs")
    name = f"cc_stream_{uuid.uuid4().hex[:8]}"
    # keyspace = one fingerprint per (mostly unique) document
    with scoped_shuffle_partitions(
            spark, stream_shuffle_partitions(spark, n, n_groups=n)):
        run_corpus_clean_stream(spark, src, "doc_id long, text string",
                                os.path.join(work, "ckpt"), name)
    return spark.table(name)


def _q_pack_sequences(spark, sf_dir):
    """NEW r12: training-sequence packing — per-shard next-fit fold
    into fixed-token-budget sequences; the oracle replays the fold as a
    per-shard recursive CTE, so the hash pins every boundary decision,
    offset, and overflow flag.  n_shards pins PACK_SHARDS (r13: the
    production default became the corpus-count auto rule; the gate's
    shard column stays fixed)."""
    from obadiah_spark.pipelines.packing import PACK_SHARDS, pack_sequences

    return pack_sequences(_docs(spark, sf_dir), n_shards=PACK_SHARDS)


def _q_dup_spans(spark, sf_dir):
    """NEW r12: corpus-wide duplicate-span marking + removal — the
    n-gram form of ExactSubstr dedup (Lee et al. 2022); clean_md5
    hashes the rewritten document byte-exactly, so the gate covers the
    coverage rule AND the removal, both engines recomputing from the
    raw corpus."""
    from obadiah_spark.pipelines.docquality import dup_spans

    return dup_spans(_docs(spark, sf_dir))


def _q_decontaminate(spark, sf_dir):
    """NEW r12: benchmark decontamination — flag training docs sharing
    any word n-gram with the benchmark split (GPT-3 appendix C / FineWeb;
    n=13 in production, the gate pins n=4 where the fabric's planted
    duplicates give 49/475 flagged docs at sf0.01 — n>=5 degenerates to
    2, a near-vacuous gate).  Benchmark = pmod(doc_id, 20) == 0; the
    bench gram set broadcasts, so corpus data never shuffles before the
    doc-keyed hit aggregation."""
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.decontam import decontaminate

    docs = _docs(spark, sf_dir)
    pm = ((F.col("doc_id") % 20) + 20) % 20
    return decontaminate(docs.filter(pm != 0), docs.filter(pm == 0), n=4)


def _q_quality_classifier(spark, sf_dir):
    """NEW r12: naive-Bayes quality classifier in whole-bit integer
    surprisal — trains token weights from the corpus's own
    gopher_quality keep labels (the CCNet/LLaMA distill-then-score
    pattern) and scores every doc; the oracle re-runs the full gopher
    SQL for labels plus the same bin()-length train/score arithmetic,
    so the hash pins weights, margins, and predictions."""
    from obadiah_spark.pipelines.classifier import quality_classifier

    return quality_classifier(_docs(spark, sf_dir))


def _q_bigram_rarity(spark, sf_dir):
    """NEW r12: perplexity-filter signal — per-doc surprisal against
    the corpus's own bigram distribution in whole bits (log-free:
    length(bin(x))-1 on both engines)."""
    from obadiah_spark.pipelines.text import bigram_rarity

    return bigram_rarity(_docs(spark, sf_dir))


# the hash_sample gate's mixing weights: fractions spanning 1.0 → 0.1
# across four strata, every other stratum dropped (the explicit-contract
# rule), nested under one salt
MIX_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}


def _q_hash_sample(spark, sf_dir):
    """NEW r12: deterministic data mixing — 60-bit md5-threshold
    sampling as ONE variant-union gate: base = flat 20% corpus sample,
    strat = per-stratum mixing weights over ``source`` (unlisted strata
    dropped).  Pure map, no shuffle; the oracle recomputes every hash,
    so the gate pins exact row membership, not counts."""
    from obadiah_spark.pipelines.sampling import (hash_sample,
                                                  stratified_sample)

    docs = _docs(spark, sf_dir)
    return _variant_union(
        ("base", hash_sample(docs, 0.2, salt="gate")),
        ("strat", stratified_sample(docs, MIX_FRACTIONS, "source",
                                    salt="gate")),
    )


def _q_corpus_prepare(spark, sf_dir):
    """NEW r13 (promised in the r12 docstrings): the COMPLETE
    training-data pass — exact dedup ∘ Gopher quality ∘ benchmark
    decontamination ∘ PII scrub ∘ next-fit packing over ONE
    localCheckpoint'd corpus scan (pipelines/docquality.py:587).  The
    oracle composes each stage's own gate-verified SQL, with the pack
    recursion walking the scrubbed survivors — the hash therefore pins
    the whole pipeline's row set, every pack boundary, and the redacted
    byte stream end to end.  n_shards pins PACK_SHARDS: shard
    assignment is part of the output, so the gate fixes it while
    production defaults to the corpus-count auto rule."""
    from obadiah_spark.pipelines.docquality import corpus_prepare
    from obadiah_spark.pipelines.packing import PACK_SHARDS

    return corpus_prepare(_docs(spark, sf_dir), n_shards=PACK_SHARDS)


def _q_minhash_lsh_incremental(spark, sf_dir):
    """NEW r13: index-backed incremental MinHash-LSH dedup
    (pipelines/dedup.py:606) — the 100 TB no-rehash path.  Gate fabric:
    index = pmod(doc_id, 2) == 0 half of the corpus, materialized as
    the band-partitioned parquet index; increment = the other half.
    Output = candidate pairs with >= 1 new side, equal to the batch
    full-corpus pair set restricted to new-sided pairs — which is
    exactly what the oracle computes from scratch, so the hash covers
    the index write, the column-pruned index scan, the union census
    cap, and both join legs."""
    import os

    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.dedup import (minhash_lsh_incremental,
                                               write_minhash_index)

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    pm = F.pmod(F.col("doc_id"), F.lit(2))
    work = _gate_tmpdir("mh_idx_gate_")
    idx_path = os.path.join(work, "index")
    write_minhash_index(docs.filter(pm == 0), idx_path)
    return minhash_lsh_incremental(spark, idx_path, docs.filter(pm != 0))


def _q_near_dup_verify(spark, sf_dir):
    """NEW r13: the LSH-candidate verify stage (pipelines/dedup.py:668)
    — normalized JVM Levenshtein over the semi-joined pair members.
    ``ascii_only=True`` applies the codec gates' length == octet_length
    guard on the Spark side too, so operator and oracle agree on the
    row set by construction (ADVICE r12 #1: Spark counts codepoint
    edits, DuckDB counts byte edits; the gate restricts to the domain
    where they coincide)."""
    from obadiah_spark.pipelines.dedup import (minhash_lsh_candidates,
                                               near_dup_verify)

    docs = _docs(spark, sf_dir)
    return near_dup_verify(minhash_lsh_candidates(docs), docs,
                           ascii_only=True)


# Pinned BPE merge table for the bpe_encode gate: the rank-ordered
# output of bpe_train (48 merges, default BPE_NUM_MERGES) on the
# sf0.001 documents fabric — pinned as a constant so oracle_sql() stays
# Spark-free (the ann_lsh_pairs precedent: learned parameters ride into
# the SQL as a VALUES CTE).  Training itself is differential-tested in
# tests/test_bpe.py; the gate pins ENCODE under this table at sf0.01.
BPE_GATE_MERGES = [
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
    ("l", "u"), ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"),
    ("a", "n"), ("c", "an"), ("s", "can"), ("c", "o"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("d", "er"), ("or", "der"), ("or", "t"),
    ("s", "ort"), ("par", "t"), ("u", "p"), ("a", "g"), ("ag", "g"),
    ("a", "lu"), ("alu", "e"), ("v", "alue"), ("in", "e"),
    ("l", "ine"), ("e", "y"), ("k", "ey"), ("j", "o"), ("jo", "in"),
    ("g", "e"), ("mer", "ge"), ("er", "y"), ("g", "r"), ("gr", "o"),
    ("gro", "up"), ("q", "u"), ("qu", "ery"), ("c", "t"),
    ("ct", "or"), ("e", "ctor"),
]


def _q_bpe_encode(spark, sf_dir):
    """NEW r13: BPE subword encoding under the pinned merge table
    (pipelines/bpe.py:119) — per-doc word count, post-merge token
    count, and an md5 over the full document-order encoding, so every
    merge decision is value-pinned.  The oracle re-encodes every
    distinct word with a recursive replace-pass CTE from the same
    VALUES merge table."""
    from obadiah_spark.pipelines.bpe import bpe_encode

    return bpe_encode(_docs(spark, sf_dir), BPE_GATE_MERGES)


def _q_chunk_documents(spark, sf_dir):
    """NEW r13: RAG-prep chunking (pipelines/chunking.py:32) — fixed
    32-word windows with 8-word overlap, final window covering the
    tail; pure JVM array expressions, no shuffle.  The oracle rebuilds
    the identical grid, pinning every boundary and chunk text."""
    from obadiah_spark.pipelines.chunking import chunk_documents

    return chunk_documents(_docs(spark, sf_dir))


# layout gate geometry: 2-D (event-time micros, user) — the rectangle
# workload (ts range x user range) both curves exist to serve
LAYOUT_COLS = ["ts_us", "user_id"]
# DuckDB-side projection matching _ev_us (epoch_us is DuckDB's spelling
# of Spark's unix_micros; the oracle SQL never runs on Spark)
_EV_US_SQL = ("(SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, "
              "user_id FROM events)")


def _ev_us(spark, sf_dir):
    from pyspark.sql import functions as F

    _load(spark, sf_dir)
    return spark.table("events").select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "user_id")


def _q_layout_keys(spark, sf_dir):
    """NEW r13: space-filling-curve layout keys (sources/layout.py:78,
    162) as ONE variant-union gate — z = Morton bit-interleave,
    hilbert = the unrolled 2-D xy2d walk — over (event-time micros,
    user_id).  Both are pure integer map expressions after one tiny
    min/max broadcast; the oracles rebuild every bucket and key
    bit-for-bit, so the hash pins the exact scaling arithmetic and the
    whole per-level reflect/rotate state machine.  The pruning win the
    keys exist for is measured in SCALE.md §1 and
    tests/test_zorder.py."""
    from pyspark.sql import functions as F

    from obadiah_spark.sources.layout import hilbert_keys, zorder_keys

    ev = _ev_us(spark, sf_dir)
    proj = ["event_id", "zb_ts_us", "zb_user_id"]
    return _variant_union(
        ("z", zorder_keys(ev, LAYOUT_COLS)
         .select(*proj, F.col("zkey").alias("skey"))),
        ("hilbert", hilbert_keys(ev, LAYOUT_COLS)
         .select(*proj, F.col("hkey").alias("skey"))),
    )


def _q_exact_dedup(spark, sf_dir):
    from obadiah_spark.pipelines.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def _q_ngram_jaccard(spark, sf_dir):
    from obadiah_spark.pipelines.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir))


def _q_minhash_lsh(spark, sf_dir):
    from obadiah_spark.pipelines.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(_docs(spark, sf_dir))


def _q_simhash(spark, sf_dir):
    from obadiah_spark.pipelines.dedup import simhash

    return simhash(_docs(spark, sf_dir))


def _q_text_stats(spark, sf_dir):
    from obadiah_spark.pipelines.text import text_stats

    return text_stats(_docs(spark, sf_dir))


def _q_gopher_quality(spark, sf_dir):
    from obadiah_spark.pipelines.docquality import gopher_quality

    return gopher_quality(_docs(spark, sf_dir))


def _q_pii_scrub(spark, sf_dir):
    from obadiah_spark.pipelines.docquality import pii_gate_frame

    return pii_gate_frame(_docs(spark, sf_dir))


def _q_ann_bruteforce(spark, sf_dir):
    from obadiah_spark.pipelines.similarity import ann_bruteforce

    _load(spark, sf_dir)
    return ann_bruteforce(spark.table("embeddings"))


def _q_ann_lsh(spark, sf_dir):
    from obadiah_spark.pipelines.similarity import ann_lsh_pairs

    _load(spark, sf_dir)
    return ann_lsh_pairs(spark.table("embeddings"))


# IVF codebooks are trained once per (session, corpus) and reused — the
# materialize-once pattern (train_ivf_codebook); keyed on applicationId so
# a cached checkpoint never leaks across SparkSessions.
_IVF_CODEBOOKS: dict[tuple[str, str], DataFrame] = {}

# Lloyd-trained PQ sub-codebooks, same once-per-(session, corpus)
# discipline (the r14 coarse-codebook-reuse precedent): Lloyd is
# deterministic over the capped sample, so the cached frame is
# row-identical to an in-call retrain, and the ann_ivfpq union's
# trained leg stops paying the per-pass training.
_PQ_SUBCODEBOOKS: dict[tuple[str, str], DataFrame] = {}


def _session_pq_subcodebook(spark, sf_dir):
    from obadiah_spark.pipelines.similarity import pq_train_subcodebooks

    key = (spark.sparkContext.applicationId, sf_dir)
    sub = _PQ_SUBCODEBOOKS.get(key)
    if sub is None:
        sub = _PQ_SUBCODEBOOKS[key] = pq_train_subcodebooks(
            spark.table("embeddings")).localCheckpoint(eager=True)
    return sub


def _q_ann_ivf(spark, sf_dir):
    from obadiah_spark.pipelines.similarity import ann_ivf, train_ivf_codebook

    _load(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    cb = _IVF_CODEBOOKS.get(key)
    if cb is None:
        cb = _IVF_CODEBOOKS[key] = train_ivf_codebook(spark.table("embeddings"))
    return ann_ivf(spark.table("embeddings"), codebook=cb)


def _q_dup_clusters(spark, sf_dir):
    """Near-dup clustering: connected components over the verified
    shingle-Jaccard pairs (min-label propagation, O(diameter) rounds);
    cluster_id = smallest member doc_id, singletons included."""
    from obadiah_spark.pipelines.dedup import dup_clusters

    return dup_clusters(_docs(spark, sf_dir))


def _q_tfidf_top_terms(spark, sf_dir):
    """Keyword extraction: top terms per doc by (tf DESC, df ASC, term) —
    the TF-IDF ordering without libm, integer-exact cross-engine."""
    from obadiah_spark.pipelines.text import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir))


def _q_ann_ivfpq(spark, sf_dir):
    """IVF-PQ ANN (Jegou et al. 2011): coarse probes + asymmetric-distance
    scan over 4x4-bit PQ codes + bounded exact re-rank — the memory-bound
    100 TB similarity path. Reuses the session's trained coarse codebook."""
    from obadiah_spark.pipelines.similarity import ann_ivfpq, train_ivf_codebook

    _load(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    cb = _IVF_CODEBOOKS.get(key)
    if cb is None:
        cb = _IVF_CODEBOOKS[key] = train_ivf_codebook(spark.table("embeddings"))
    return ann_ivfpq(spark.table("embeddings"), codebook=cb)


def _spread_docs(spark):
    """The test corpus is ONE parquet split, which would serialize the
    winnowers' map-side k-gram hashing onto a single core (measured 4.4 s
    vs 0.9 s at sf0.1); a real corpus arrives in thousands of splits and
    needs no such prep. Input-layout normalization, not operator cost."""
    return spark.table("documents").repartition(
        spark.sparkContext.defaultParallelism)


def _q_winnow_fingerprints(spark, sf_dir):
    from obadiah_spark.pipelines.text import winnow_fingerprints

    _load(spark, sf_dir)
    return winnow_fingerprints(_spread_docs(spark))


def _q_winnow_pairs(spark, sf_dir):
    from obadiah_spark.pipelines.text import winnow_pairs

    _load(spark, sf_dir)
    return winnow_pairs(_spread_docs(spark))


def _q_multimodal_resize(spark, sf_dir):
    """REAL resize since r10: decode (BMP/PPM/PNG fabric) -> area
    resample -> PPM re-encode round trip; the oracle recomputes the
    resampled bytes analytically (integer box factors)."""
    from obadiah_spark.pipelines.multimodal import (
        RESIZE_GATE_H, RESIZE_GATE_W, pack_image_blobs, resize_images)

    _load(spark, sf_dir)
    return resize_images(pack_image_blobs(spark.table("documents")),
                         RESIZE_GATE_W, RESIZE_GATE_H)


def _q_ann_lsh_recall(spark, sf_dir):
    from obadiah_spark.pipelines.similarity import ann_lsh_recall

    _load(spark, sf_dir)
    return ann_lsh_recall(spark.table("embeddings"))


def _q_embedding_dedup(spark, sf_dir):
    """Embedding-cosine near-dup marking (exact ground-truth form): dup_of =
    the smallest lower-id neighbor at cosine >= 0.45; the LSH-bucketed
    scale path is recall-tested in pytest."""
    from obadiah_spark.pipelines.dedup import embedding_dedup

    _load(spark, sf_dir)
    return embedding_dedup(spark.table("embeddings"))


def _q_embedding_dedup_lsh_recall(spark, sf_dir):
    """The LSH dedup scale path, gate-visible via its recall-vs-exact
    metric (the same promotion ann_lsh_pairs got through ann_lsh_recall)."""
    from obadiah_spark.pipelines.dedup import embedding_dedup_lsh_recall

    _load(spark, sf_dir)
    return embedding_dedup_lsh_recall(spark.table("embeddings"))


def _q_multimodal(spark, sf_dir):
    from obadiah_spark.pipelines.multimodal import multimodal_features

    return multimodal_features(_docs(spark, sf_dir))


def _q_codec_roundtrip(spark, sf_dir):
    """Real encode -> strict decode round-trip of all three pure-Python
    codecs (BMP / PPM / PNG x all five scanline filters) over per-doc
    pixel bytes; the oracle predicts dims + pixel md5 without running a
    codec, so the hash covers byte-exactness of every decode."""
    from obadiah_spark.pipelines.multimodal import codec_roundtrip

    return codec_roundtrip(_docs(spark, sf_dir))


def _q_jpeg_roundtrip(spark, sf_dir):
    """Baseline-JPEG encode→decode gate on the analytically-predictable
    flat-block subset (the general lossy path is PSNR-tested in pytest)."""
    from obadiah_spark.pipelines.multimodal import jpeg_roundtrip

    return jpeg_roundtrip(_docs(spark, sf_dir))


def _q_wav_roundtrip(spark, sf_dir):
    """RIFF/WAV PCM encode→strict-parse gate (real audio leg of the
    multimodal family); features are integer arithmetic the oracle
    reproduces exactly."""
    from obadiah_spark.pipelines.audio import wav_roundtrip

    return wav_roundtrip(_docs(spark, sf_dir))


def _q_mjpeg_sample(spark, sf_dir):
    """Motion-JPEG container walk + real per-frame huffman/IDCT decode of
    every 2nd frame (video leg; unsampled frames skipped by length
    prefix, never decoded)."""
    from obadiah_spark.pipelines.video import mjpeg_sample

    return mjpeg_sample(_docs(spark, sf_dir))


def _q_lang_id_ngram(spark, sf_dir):
    """Cavnar-Trenkle character-trigram language ID (LLM-pipeline
    extension; the reference has no language operator). Profiles are
    literal rows shared verbatim with the DuckDB oracle."""
    from obadiah_spark.pipelines.langid import lang_id_ngram

    return lang_id_ngram(_docs(spark, sf_dir))


def _q_tokenize_regex(spark, sf_dir):
    """GPT-2-style regex pre-tokenizer counts (the real "BPE-ish" token
    counter next to text_stats' ceil(len/4) approximation)."""
    from obadiah_spark.pipelines.tokenize import tokenize_regex

    return tokenize_regex(_docs(spark, sf_dir))


def _q_trading_strategy(spark, sf_dir):
    """Mid-price mode (the R client's default for strategy discovery,
    reference R/obanalytics.R:800-803): the synthetic book never crosses its
    own spread, so bid/ask-mode profits are structurally impossible."""
    from pyspark.sql import functions as F

    from obadiah_spark.fold import spread_fold
    from obadiah_spark.operators.trading import trading_strategy

    mid = spread_fold(_l3(spark, sf_dir)).select(
        "pair_id", "era", "microtimestamp",
        ((F.col("best_bid_price") + F.col("best_ask_price")) / 2).alias("bid_price"),
    ).withColumn("ask_price", F.col("bid_price"))
    # phi is a LOG-RETURN (reference src/base.h:151): 1 bps commission per
    # leg — proportionate to the synthetic book's ~50 bps price range
    return trading_strategy(mid, phi=0.0001, rho=0.0)


# rho for the interest-bearing gate: at 5e-8/s the accrued interest over
# the synthetic month's position durations is commensurate with the 1 bps
# commission, so the rho machinery measurably reshapes the position set
# (18 -> 13 positions at sf0.01 vs rho=0, including re-anchor extensions)
# rather than being a no-op term the hash can't see.
STRATEGY_RHO = 5e-8


def _q_trading_strategy_rho(spark, sf_dir):
    """T2 with interest (rho > 0) x mid mode — the one parameter
    interaction the rho=0 gates can't exercise (VERDICT r8 task #4): the
    reference browser exposes interest.rate() directly
    (shiny/obadiah-browser/server.R:271), and the engine's interest terms
    (src/position_discovery.h:36-40) change tracker re-anchoring,
    extension, and both close conditions."""
    from pyspark.sql import functions as F

    from obadiah_spark.fold import spread_fold
    from obadiah_spark.operators.trading import trading_strategy

    mid = spread_fold(_l3(spark, sf_dir)).select(
        "pair_id", "era", "microtimestamp",
        ((F.col("best_bid_price") + F.col("best_ask_price")) / 2).alias("bid_price"),
    ).withColumn("ask_price", F.col("bid_price"))
    return trading_strategy(mid, phi=0.0001, rho=STRATEGY_RHO)


def _q_trading_strategy_freq(spark, sf_dir):
    """T2 with p_frequency (get_schema.sql:740): DiscoverPositions over the
    mid-price stream of the grid-resampled log."""
    from pyspark.sql import functions as F

    from obadiah_spark.fold import spread_fold
    from obadiah_spark.operators.depth import grid_sample_l3
    from obadiah_spark.operators.trading import trading_strategy

    sampled = grid_sample_l3(_l3(spark, sf_dir), GET_FREQ_S)
    mid = spread_fold(sampled).select(
        "pair_id", "era", "microtimestamp",
        ((F.col("best_bid_price") + F.col("best_ask_price")) / 2).alias("bid_price"),
    ).withColumn("ask_price", F.col("bid_price"))
    return trading_strategy(mid, phi=0.0001, rho=0.0)


def _mid_range(spark, sf_dir, start, end):
    """Range mid-price stream: prevailing spread at start (closed) plus
    the pruned level1 period fold over (start, end], mid-projected."""
    from pyspark.sql import functions as F

    from obadiah_spark.fold import spread_fold_periods
    from obadiah_spark.operators.trading import effective_spread_at

    l3 = _l3(spark, sf_dir)
    l1r = spread_fold_periods(l3, start=start, end=end).select(
        "pair_id", "era", "microtimestamp",
        F.col("best_bid_price").alias("bid_price"),
        F.col("best_ask_price").alias("ask_price"))
    start_row = effective_spread_at(l3, start, 0.0)
    return (
        start_row.unionByName(l1r)
        .filter(F.col("bid_price").isNotNull()
                & F.col("ask_price").isNotNull())
        .select("pair_id", "era", "microtimestamp",
                ((F.col("bid_price") + F.col("ask_price")) / 2)
                .alias("bid_price"))
        .withColumn("ask_price", F.col("bid_price"))
    )


def _q_trading_strategy_range(spark, sf_dir):
    """T2 with p_start_time/p_end_time (get_schema.sql:740): position
    discovery over the range-restricted mid stream (prevailing spread at
    start + pruned level1 fold)."""
    from obadiah_spark.operators.trading import trading_strategy

    # phi=0: the 4-day window's mid stream is quiet — at the 1 bps
    # commission of the full-history gate it holds zero positions, which
    # would make the hash check vacuous; zero commission emits a position
    # per local extremum, giving the range gate real content
    return trading_strategy(_mid_range(spark, sf_dir, EV_START, EV_END),
                            phi=0.0, rho=0.0)


def _q_epsilon_draws_range(spark, sf_dir):
    """T3 with p_start_time/p_end_time: draw decomposition over the same
    range-restricted mid stream."""
    from pyspark.sql import functions as F

    from obadiah_spark.operators.trading import epsilon_drawupdowns

    prices = _mid_range(spark, sf_dir, EV_START, EV_END).select(
        "pair_id", "era", "microtimestamp",
        F.col("bid_price").alias("price"))
    return epsilon_drawupdowns(prices, epsilon=0.0005)


def _q_epsilon_draws(spark, sf_dir):
    from obadiah_spark.fold import spread_fold
    from obadiah_spark.operators.trading import epsilon_drawupdowns, mid_price

    # epsilon is a LOG-RETURN (reference src/base.h:151): 5 bps
    return epsilon_drawupdowns(mid_price(spread_fold(_l3(spark, sf_dir))), epsilon=0.0005)


def _q_trading_strategy_zigzag(spark, sf_dir):
    """T2 full-oracle fabric: on a piecewise-monotone series with phi=rho=0
    the greedy discovery provably emits consecutive extrema pairs — a
    window-SQL-expressible closed form that hash-checks the ported state
    machine (see trading.zigzag_level1)."""
    from obadiah_spark.operators.trading import trading_strategy, zigzag_level1

    _load(spark, sf_dir)
    return trading_strategy(zigzag_level1(spark), phi=0.0, rho=0.0)


def _q_epsilon_draws_zigzag(spark, sf_dir):
    """T3 full-oracle fabric: epsilon below the smallest move closes a draw
    at every reversal — draws are exactly the consecutive extrema pairs."""
    from obadiah_spark.operators.trading import epsilon_drawupdowns, zigzag_level1
    from pyspark.sql import functions as F

    _load(spark, sf_dir)
    prices = zigzag_level1(spark).select(
        "pair_id", "era", "microtimestamp", F.col("bid_price").alias("price"))
    return epsilon_drawupdowns(prices, epsilon=0.001)


def _q_get_depth(spark, sf_dir):
    from obadiah_spark.operators.depth import get_depth

    return get_depth(_l3(spark, sf_dir), EV_START, EV_END)


# frequency used by the grid-overload gate entries (5 minutes — the R
# client's typical research grid)
GET_FREQ_S = 300


def _q_get_depth_freq(spark, sf_dir):
    """D4 with p_frequency (VERDICT r4 #2): closed-right _date_ceiling grid,
    starting depth at _date_floor(start)."""
    from obadiah_spark.operators.depth import get_depth

    return get_depth(_l3(spark, sf_dir), EV_START, EV_END,
                     frequency_s=GET_FREQ_S)


def _q_spread_at(spark, sf_dir):
    """D8 single-instant overload: get.spread(p_start_time) = starting
    spread only (_spread_from_depth over _starting_depth,
    db/get_schema.sql:640-653), one row per pair."""
    from obadiah_spark.operators.depth import spread_at

    return spread_at(_l3(spark, sf_dir), EV_START)


def _q_get_spread_freq(spark, sf_dir):
    """D8 with p_frequency (VERDICT r4 #2): level1 collapsed onto the grid,
    last state per interval wins, emit-on-change per (pair, era)."""
    from obadiah_spark.fold import spread_fold
    from obadiah_spark.operators.depth import get_spread

    l3 = _l3(spark, sf_dir)
    return get_spread(l3, spread_fold(l3), EV_START, EV_END,
                      frequency_s=GET_FREQ_S)


def _variant_union(*tagged) -> DataFrame:
    """Union the (name, frame) overload variants with a ``variant``
    discriminator column — the merged-overload gate shape (r12
    rotation-capacity merge, VERDICT r11 #1: one driver slot now covers
    a whole p_frequency/p_start_time overload family; the semantics of
    each variant are unchanged, and the hash still covers every one)."""
    from functools import reduce

    from pyspark.sql import functions as F

    frames = [df.withColumn("variant", F.lit(name)) for name, df in tagged]
    return reduce(lambda a, b: a.unionByName(b), frames)


def _variant_union_oracle(**variants: str) -> str:
    """UNION ALL of complete per-variant oracle queries, each tagged with
    its variant name (DuckDB allows a full WITH inside a FROM subquery,
    so every branch keeps its own level3 CTE chain)."""
    return "\nUNION ALL\n".join(
        f"SELECT q.*, '{name}' AS variant FROM (\n{sql}\n) q"
        for name, sql in variants.items())


def _overlap_legs(*thunks):
    """Construct union-gate legs CONCURRENTLY (optimization guide §2.6,
    r15): legs whose construction performs eager Spark work — streaming
    replays, persisted-index writes, chunked lifecycle loops — otherwise
    serialize end-to-end before the union ever materializes, leaving the
    cluster idle through each leg's stragglers.  Spark schedules
    concurrent jobs from driver threads FIFO, which is exactly the
    back-fill behavior wanted.  Purely lazy legs gain nothing (their
    independent stages already overlap inside the collect job) — use
    this only when ≥2 legs carry eager construction work.  Returns the
    results in thunk order; exceptions propagate."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


def _q_depth_summary(spark, sf_dir):
    """D5 + its p_frequency / p_start_time overloads (get_schema.sql:278)
    as ONE parameterized gate: base = full-history bps bucketing fold;
    freq = the log resampled onto the closed-right ceiling grid first;
    range = starting bucketed snapshot at start + change episodes in
    (start, end] from PRUNED period folding."""
    from obadiah_spark.operators.depth import depth_summary_fold

    l3 = _l3(spark, sf_dir)
    return _variant_union(
        ("base", depth_summary_fold(l3)),
        ("freq", depth_summary_fold(l3, frequency_s=GET_FREQ_S)),
        ("range", depth_summary_fold(l3, start=EV_START, end=EV_END)),
    )


def _q_queues(spark, sf_dir):
    """D12 + overloads (get_schema.sql:623) as ONE gate: base; freq =
    queue states at most once per grid interval; range = same range
    convention as depth_summary."""
    from obadiah_spark.operators.resample import queues

    l3 = _l3(spark, sf_dir)
    return _variant_union(
        ("base", queues(l3)),
        ("freq", queues(l3, frequency_s=GET_FREQ_S)),
        ("range", queues(l3, start=EV_START, end=EV_END)),
    )


def _q_trading_period(spark, sf_dir):
    """T1 + overloads (get_schema.sql:729) as ONE gate: base; freq = the
    effective-price stream over the grid-resampled log, emit-on-change;
    range = prevailing effective-price row at start + emit-on-change
    rows in (start, end] from pruned period folding."""
    from obadiah_spark.operators.trading import trading_period_fold

    l3 = _l3(spark, sf_dir)
    return _variant_union(
        ("base", trading_period_fold(l3, volume=0.0)),
        ("freq", trading_period_fold(l3, volume=0.0,
                                     frequency_s=GET_FREQ_S)),
        ("range", trading_period_fold(l3, volume=0.0,
                                      start=EV_START, end=EV_END)),
    )


def _q_trading_strategy_merged(spark, sf_dir):
    """T2 + its overloads (get_schema.sql:740) as ONE gate (r12 capacity
    merge, continuing VERDICT r11 #1): base = full-history mid-price
    discovery at 1 bps commission; zigzag = the closed-form extrema
    fabric; freq = discovery over the grid-resampled log; range = the
    range-restricted mid stream at zero commission.  The rho>0 overload
    stays its own key (trading_strategy_rho) — its r11 row is current
    and its parameter interaction is documented there."""
    return _variant_union(
        ("base", _q_trading_strategy(spark, sf_dir)),
        ("zigzag", _q_trading_strategy_zigzag(spark, sf_dir)),
        ("freq", _q_trading_strategy_freq(spark, sf_dir)),
        ("range", _q_trading_strategy_range(spark, sf_dir)),
    )


def _q_get_events_merged(spark, sf_dir):
    """E1 + its p_frequency overload (get_schema.sql:307) as ONE gate
    (r12 capacity merge): base = the flagship classification window;
    freq = the same window with prevailing best-bid/ask read from the
    grid-sampled level1 stream."""
    return _variant_union(
        ("base", _q_get_events(spark, sf_dir)),
        ("freq", _q_get_events_freq(spark, sf_dir)),
    )


def _q_get_depth_merged(spark, sf_dir):
    """D4 + its p_frequency overload (get_schema.sql:568) as ONE gate
    (r13 capacity merge, executing the slot-note plan judged in VERDICT
    r12 #1): base = raw depth changes over [start, end]; freq = the
    closed-right _date_ceiling grid with starting depth at
    _date_floor(start).  Each branch keeps the exact oracle its retired
    key (get_depth_freq) carried."""
    return _variant_union(
        ("base", _q_get_depth(spark, sf_dir)),
        ("freq", _q_get_depth_freq(spark, sf_dir)),
    )


def _q_get_spread_merged(spark, sf_dir):
    """D8 + its p_frequency and single-instant overloads
    (get_schema.sql:640-679) as ONE gate (r13 capacity merge): base =
    starting spread ∪ level1 stream over (start, end]; freq = level1
    collapsed onto the grid, last-state-wins, emit-on-change; at = the
    p_start_time-only overload (starting spread alone, one row per
    pair).  All three overloads share the level1 schema, and each
    branch keeps the exact oracle its retired key (get_spread_freq /
    spread_at) carried."""
    return _variant_union(
        ("base", _q_get_spread(spark, sf_dir)),
        ("freq", _q_get_spread_freq(spark, sf_dir)),
        ("at", _q_spread_at(spark, sf_dir)),
    )


def _q_epsilon_draws_merged(spark, sf_dir):
    """T3 + its fabric/range variants as ONE gate (r13 capacity merge):
    base = draw decomposition of the full-history mid stream at 5 bps;
    zigzag = the closed-form piecewise-monotone fabric where draws are
    provably the consecutive extrema pairs; range = the
    p_start_time/p_end_time overload on the range-restricted mid
    stream.  Each branch keeps the exact oracle its retired key
    (epsilon_draws_zigzag / epsilon_draws_range) carried."""
    return _variant_union(
        ("base", _q_epsilon_draws(spark, sf_dir)),
        ("zigzag", _q_epsilon_draws_zigzag(spark, sf_dir)),
        ("range", _q_epsilon_draws_range(spark, sf_dir)),
    )


def _q_order_book_takers(spark, sf_dir):
    """B1/B3 p_check_takers (VERDICT r4 #4): the rows the reference's
    _is_valid_taker_event would raise on — live crossing events at the
    crossed-book instants whose chain goes on resting. One distributed
    snapshot_multi pass over the first_crossed instants."""
    from pyspark.sql import functions as F

    from obadiah_spark.fold import spread_fold
    from obadiah_spark.operators.quality import crossed_books, invalid_takers

    l3 = _l3(spark, sf_dir)
    instants = (crossed_books(spread_fold(l3))
                .select(F.col("first_crossed").alias("at_ts")).distinct())
    return invalid_takers(l3, instants)


def _q_crossed_books(spark, sf_dir):
    from obadiah_spark.fold import spread_fold
    from obadiah_spark.operators.quality import crossed_books

    return crossed_books(spread_fold(_l3(spark, sf_dir)))


def _q_chain_audit(spark, sf_dir):
    from obadiah_spark.operators.quality import chain_audit

    return chain_audit(_l3(spark, sf_dir))


def _q_match_fill_exact(spark, sf_dir):
    """Closed loop: strip event links from matches, re-match against level3."""
    from pyspark.sql import functions as F

    from obadiah_spark.operators.matching import match_price_and_fill_exact

    l3 = _l3(spark, sf_dir)
    trades = spark.table("matches").select(
        "pair_id", "era",
        F.col("microtimestamp").alias("trade_microtimestamp"),
        "price", F.col("amount").alias("fill"),
        F.col("side").alias("origination"), "exchange_trade_id",
    )
    return match_price_and_fill_exact(l3, trades)


def _q_match_incremental(spark, sf_dir):
    """I5+I6 scheduled-matching lifecycle (reference bitfinex.pga_match,
    db/bitfinex_schema.sql:748-846) over the whole synthetic month: one
    step from the oldest trade to the 2-minute delay guard. The reference's
    per-run interval cap is provably invisible in the link set
    (operators/lifecycle.py module docstring), so the oracle is the
    one-shot form bounded to newest − delay."""
    from pyspark.sql import functions as F

    from obadiah_spark.operators.lifecycle import incremental_match

    l3 = _l3(spark, sf_dir)
    trades = spark.table("matches").select(
        "pair_id", "era",
        F.col("microtimestamp").alias("trade_microtimestamp"),
        "price", F.col("amount").alias("fill"),
        F.col("side").alias("origination"), "exchange_trade_id",
    )
    return incremental_match(l3, trades)


def _q_inferred_trades(spark, sf_dir):
    from obadiah_spark.operators.matching import inferred_trades

    return inferred_trades(_l3(spark, sf_dir))


# Synthetic exchange_trade_id for the closed-loop matching gates: the four
# components pack into NON-OVERLAPPING bit fields (12-bit order ids /
# 19-bit event numbers, 62 bits total) so distinct event pairs can never
# merge into one trade id (ADVICE r8: the old decimal packing bled fields
# at order_id >= 10000 and overflowed bigint at ~9.2e6). The Spark side
# raises on a component exceeding its field; the oracle mirrors the
# arithmetic verbatim (a fabric that overflows fails the gate loudly
# instead of hash-matching on merged trades).
_PACK_B_OID, _PACK_B_ENO, _PACK_S_OID = 2 ** 50, 2 ** 31, 2 ** 19
_PACK_SQL = f"""CAST(buy_order_id AS BIGINT) * {_PACK_B_OID}
           + CAST(buy_event_no AS BIGINT) * {_PACK_B_ENO}
           + CAST(sell_order_id AS BIGINT) * {_PACK_S_OID}
           + CAST(sell_event_no AS BIGINT)"""


def _packed_trade_id():
    from pyspark.sql import functions as F

    fits = None
    for col, lim in (("buy_order_id", 4096), ("sell_order_id", 4096),
                     ("buy_event_no", 524288), ("sell_event_no", 524288)):
        c = (F.col(col) >= 0) & (F.col(col) < lim)
        fits = c if fits is None else (fits & c)
    packed = (F.col("buy_order_id").cast("bigint") * _PACK_B_OID
              + F.col("buy_event_no").cast("bigint") * _PACK_B_ENO
              + F.col("sell_order_id").cast("bigint") * _PACK_S_OID
              + F.col("sell_event_no").cast("bigint"))
    return F.when(fits, packed).otherwise(F.raise_error(F.lit(
        "synthetic trade-id packing overflow: order_id/event_no exceeds "
        "its 12/19-bit field")))


def _q_match_sequential(spark, sf_dir):
    """I10 closed loop: take the inferred trades (which know their buy/sell
    ORDER ids), forget the event links, and recover them by scanning the
    sequential event stream with F7 rule codes."""
    from pyspark.sql import functions as F

    from obadiah_spark.operators.matching import inferred_trades, match_sequential

    l3 = _l3(spark, sf_dir)
    t = inferred_trades(l3).select(
        "pair_id",
        F.date_trunc("week", "microtimestamp").alias("era"),
        _packed_trade_id().alias("exchange_trade_id"),
        F.col("microtimestamp").alias("trade_microtimestamp"),
        "amount", "price",
        F.col("side").alias("trade_type"),
        "buy_order_id", "sell_order_id",
    )
    # inferred_trades is itself a multi-window pipeline; materialize it once
    # (it is tiny — one row per fill) instead of letting the matcher's
    # consumers re-derive it inside a compound plan
    t = t.localCheckpoint()
    return match_sequential(l3, t, offset=1)


# Per-bucket amount perturbations for the sweep gate: bucket k's delta
# needs tolerance cell k to match (|delta| < tolerance_pct, the F7 rule-1
# bound with the price factored out), so EVERY tolerance column of the
# reference's 5-cell set is productive, not just the exact one.
_SWEEP_DELTAS = (0.0, 0.0005, 0.005, 0.05, 0.5)


def _q_match_sweep(spark, sf_dir):
    """bitstamp.pga_match tolerance x offset sweep (reference
    db/bitstamp_schema.sql:1849-1857) with matched state threaded between
    grid cells, at the reference's FULL 5-tolerance x 4-offset grid
    (promoted from 3x2 in r9). Closed loop: the inferred trades (which
    know their buy/sell ORDER ids) forget their event links; a
    deterministic per-trade-id-bucket amount perturbation (one bucket per
    tolerance, _SWEEP_DELTAS) makes the tolerance columns productive (4 of
    5 at sf0.01 — bucket occupancy over the 11 inferred trades is fabric
    luck). Offsets >= 2 run but match nothing at gate scale: the inferred
    pairs are all lead-1-adjacent, so the offset-1 cells exhaust every
    trade — per-cell offset semantics are pinned by the planted-pair 5x4
    fixture pytest (tests/test_lifecycle.py) instead."""
    from pyspark.sql import functions as F

    from obadiah_spark.operators.lifecycle import bitstamp_match_sweep
    from obadiah_spark.operators.matching import inferred_trades

    l3 = _l3(spark, sf_dir)
    t = inferred_trades(l3).select(
        "pair_id",
        F.date_trunc("week", "microtimestamp").alias("era"),
        _packed_trade_id().alias("exchange_trade_id"),
        F.col("microtimestamp").alias("trade_microtimestamp"),
        "amount", "price",
        F.col("side").alias("trade_type"),
        "buy_order_id", "sell_order_id",
    )
    b = F.col("exchange_trade_id") % 5
    delta = F.lit(0.0)
    for k, d in enumerate(_SWEEP_DELTAS[1:], start=1):
        delta = F.when(b == k, F.lit(d)).otherwise(delta)
    t = t.withColumn("amount", F.col("amount") + delta)
    return bitstamp_match_sweep(l3, t)


def _match_sweep_oracle() -> str:
    """Splice the perturbed closed-loop trades (mirror of _q_match_sweep)
    in as ``sweep_trades`` ahead of the generated sweep CTE chain."""
    from obadiah_spark.operators.lifecycle import bitstamp_match_sweep_oracle_sql
    from obadiah_spark.operators.matching import inferred_trades_oracle_sql

    sweep_trades = f"""sweep_trades AS (
    WITH it AS ({inferred_trades_oracle_sql()}),
    base AS (
        SELECT pair_id, date_trunc('week', microtimestamp) AS era,
               {_PACK_SQL} AS exchange_trade_id,
               microtimestamp AS trade_microtimestamp, amount, price,
               side AS trade_type, buy_order_id, sell_order_id
        FROM it)
    SELECT pair_id, era, exchange_trade_id, trade_microtimestamp,
           amount + CASE exchange_trade_id % 5
                    WHEN 1 THEN CAST({_SWEEP_DELTAS[1]!r} AS DOUBLE)
                    WHEN 2 THEN CAST({_SWEEP_DELTAS[2]!r} AS DOUBLE)
                    WHEN 3 THEN CAST({_SWEEP_DELTAS[3]!r} AS DOUBLE)
                    WHEN 4 THEN CAST({_SWEEP_DELTAS[4]!r} AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE) END AS amount,
           price, trade_type, buy_order_id, sell_order_id
    FROM base
)"""
    from obadiah_spark.operators.lifecycle import (
        SWEEP_MAX_OFFSET, SWEEP_TOLERANCES)

    sweep_sql = bitstamp_match_sweep_oracle_sql(SWEEP_TOLERANCES,
                                                SWEEP_MAX_OFFSET)
    return sweep_sql.replace("WITH sweep_pairs_o1 AS",
                             f"WITH {sweep_trades},\nsweep_pairs_o1 AS", 1)


def _q_match_sum_of_fills(spark, sf_dir):
    """I6 closed loop: split every trade into 2 (even ids) or 3 (odd ids)
    adjacent same-price pieces placed just before the fill event, then
    recover the event by subset-sum matching. Fractions 0.25/0.75/0.5 keep
    every piece and every partial sum exact in binary, so fills re-add to
    the event fill bit-for-bit on both engines."""
    from pyspark.sql import functions as F

    from obadiah_spark.operators.matching import match_sum_of_fills

    l3 = _l3(spark, sf_dir)
    m = spark.table("matches")
    pieces = m.select(
        "pair_id", "era", "microtimestamp", "price", "amount",
        F.col("side").alias("origination"), "exchange_trade_id",
        F.when(F.col("exchange_trade_id") % 2 == 0,
               F.array(F.lit(0.25), F.lit(0.75)))
         .otherwise(F.array(F.lit(0.25), F.lit(0.25), F.lit(0.5)))
         .alias("fracs"),
    ).select("pair_id", "era", "microtimestamp", "price", "amount",
             "origination", "exchange_trade_id",
             F.posexplode("fracs").alias("k", "frac"))
    trades = pieces.select(
        "pair_id", "era",
        F.timestamp_micros(
            F.unix_micros("microtimestamp") - 3 + F.col("k")).alias("trade_microtimestamp"),
        "price",
        (F.col("amount") * F.col("frac")).alias("fill"),
        "origination",
        (F.col("exchange_trade_id") * 10 + F.col("k")).alias("exchange_trade_id"),
    )
    return match_sum_of_fills(l3, trades)


def _q_data_overview(spark, sf_dir):
    from obadiah_spark.operators.catalog import data_overview

    return data_overview(_l3(spark, sf_dir), spark)


def _q_export(spark, sf_dir):
    from obadiah_spark.operators.catalog import export

    return export(_l3(spark, sf_dir), EV_START, EV_END)


def _q_book_by_episode(spark, sf_dir):
    from obadiah_spark.operators.book_ops import book_by_episode

    return book_by_episode(_l3(spark, sf_dir))


def _q_get_spread(spark, sf_dir):
    from obadiah_spark.fold import spread_fold
    from obadiah_spark.operators.depth import get_spread

    l3 = _l3(spark, sf_dir)
    return get_spread(l3, spread_fold(l3), EV_START, EV_END)


def _q_depth_resample(spark, sf_dir):
    from obadiah_spark.operators.resample import depth_resample

    return depth_resample(_l3(spark, sf_dir))


def _q_merge_episodes(spark, sf_dir):
    from obadiah_spark.operators.repair import merge_episodes

    return merge_episodes(_l3(spark, sf_dir), EV_START, EV_END)


def _q_match_audit(spark, sf_dir):
    """Trade-link integrity audit (the reference's matches FKs +
    live_trades triggers as a violations relation): zero rows on the
    consistent store."""
    from obadiah_spark.operators.quality import match_audit

    l3 = _l3(spark, sf_dir)
    return match_audit(l3, spark.table("matches"))


def _q_fix_chain_integrity(spark, sf_dir):
    """Q4 repair trio round-trip: inject the reference's three defect
    classes (duplicate eternal creations, wiped forward pointers, premature
    generated deletes — db/obanalytics_schema.sql:2157-2336) on disjoint
    order families, repair, and hash-match the ORIGINAL log (the oracle is
    plain level3: repair(corrupt(x)) == x is the checked property)."""
    from obadiah_spark.operators.repair import (
        corrupt_chains, fix_chain_integrity)

    return fix_chain_integrity(corrupt_chains(_l3(spark, sf_dir)))


def _q_merge_crossed_books(spark, sf_dir):
    """Q2 merge path: the full level3 rewritten so every crossed period is
    merged into its next uncrossed episode (non-vacuous: the synthetic book
    crosses transiently — see crossed_books)."""
    from obadiah_spark.operators.repair import merge_crossed_books

    return merge_crossed_books(_l3(spark, sf_dir)).drop("_old_ts")


def _q_move_audit(spark, sf_dir):
    """I13/I14 over the crossed-book merge: every moved row with its
    preserved exchange microtimestamp and violation class (moves longer than
    120 s are 'too_far' — non-vacuous on the synthetic crossed periods)."""
    from obadiah_spark.operators.quality import audit_microtimestamp_moves
    from obadiah_spark.operators.repair import merge_crossed_books

    return audit_microtimestamp_moves(
        merge_crossed_books(_l3(spark, sf_dir)), max_change_s=120)


ERA_SPLIT_AT = "2024-01-10 00:00:00"  # mid-era instant (era of Jan 8 week)


def _q_insert_era(spark, sf_dir):
    """Q6: split the era containing ERA_SPLIT_AT; returns the full rewritten
    log (clones at the new era head, renumbered chains, clipped tails)."""
    from obadiah_spark.operators.repair import insert_level3_era

    return insert_level3_era(_l3(spark, sf_dir), ERA_SPLIT_AT)


def _q_cleanse_order(spark, sf_dir):
    """Q5 pga_cleanse normalization: a disorder fabric (2nd chained event of
    every %7==2 order pushed 10 min forward) restored to per-chain
    monotonicity — backward island suffix-min + forward running max, both
    closed forms of the reference's UPDATE loops."""
    from obadiah_spark.operators.staging_repair import (
        CLEANSE_FABRIC_CTES,
        normalize_event_order,
    )

    _l3(spark, sf_dir)  # registers level3 + matches views
    disordered = spark.sql(
        f"WITH {CLEANSE_FABRIC_CTES} SELECT * FROM disordered")
    # the normalizer walks its input through several window stages that
    # each reference it — materialize the small corrupt fabric once
    disordered = disordered.localCheckpoint()
    return normalize_event_order(disordered)


def _q_bs_capture_orders(spark, sf_dir):
    """I7: bitstamp-shaped transient stream (second-exchange fabric from
    `events`, incl. duplicate retransmissions and ex-nihilo chains) chained
    into the live_orders shape."""
    from obadiah_spark.sources.bitstamp import BS_TRANSIENT_SQL, capture_transient_orders

    _load(spark, sf_dir)
    return capture_transient_orders(spark.sql(BS_TRANSIENT_SQL))


def _q_era_reassign(spark, sf_dir):
    """The era-reassignment opener of bitstamp.pga_capture_transient
    (reference db/bitstamp_schema.sql:1615-1618): events stamped with a
    FUTURE era (reconnect races) move to the latest era at or before their
    microtimestamp. The fabric corrupts every order_id%7==1 row one week
    forward; the registry is the uncorrupted (pair, week) set, so the
    repair must restore exactly those rows."""
    from pyspark.sql import functions as F

    from obadiah_spark.sources.bitstamp import (
        BS_TRANSIENT_SQL, reassign_transient_eras)

    _load(spark, sf_dir)
    t = spark.sql(BS_TRANSIENT_SQL)
    eras = t.select("pair_id", "era").distinct()
    corrupted = t.withColumn(
        "era",
        F.when(F.col("order_id") % 7 == 1,
               F.col("era") + F.expr("INTERVAL 7 DAYS"))
         .otherwise(F.col("era")))
    return reassign_transient_eras(corrupted, eras)


def _era_reassign_oracle() -> str:
    """Corrupted fabric + registry CTEs around the reassignment oracle
    (mirror of _q_era_reassign)."""
    from obadiah_spark.sources.bitstamp import (
        BS_TRANSIENT_SQL, reassign_transient_eras_oracle_sql)

    return f"""
WITH bs_base AS ({BS_TRANSIENT_SQL}),
bs_eras AS (SELECT DISTINCT pair_id, era FROM bs_base),
bs_transient AS (
    SELECT * REPLACE (CASE WHEN order_id % 7 = 1
                           THEN era + INTERVAL 7 DAY ELSE era END AS era)
    FROM bs_base)
{reassign_transient_eras_oracle_sql()}
"""


def _q_capture_trades(spark, sf_dir):
    """I4: transient bitfinex trades (with retransmission duplicates) →
    canonical matches projection with per-pair precision rounding."""
    from obadiah_spark.sources.bitstamp import BFX_TRADES_SQL, capture_transient_trades

    _l3(spark, sf_dir)  # registers the pairs dim view
    return capture_transient_trades(spark.sql(BFX_TRADES_SQL),
                                    spark.table("pairs"))


def _q_episode_framing(spark, sf_dir):
    """SRC2: price==0 episode framing of a raw bitfinex book stream as one
    window expression (the capture client's accumulate/close state machine)."""
    from obadiah_spark.sources.bitstamp import BFX_RAW_SQL, frame_episodes

    _load(spark, sf_dir)
    return frame_episodes(spark.sql(BFX_RAW_SQL))


def _q_capture_raw_book(spark, sf_dir):
    """I1 batch form: framed bitfinex raw episodes (signed amounts, price==0
    deletes) → canonical level3 — dedup, reincarnation, side-from-sign,
    chains, price chains (db/bitfinex_schema.sql:279-468). Era = ISO week of
    the episode (the orchestrator's decision in the reference; see operator
    docstring)."""
    import pyspark.sql.functions as F

    from obadiah_spark.sources.bitstamp import (
        BFX_I1_RAW_SQL, capture_raw_book_events, frame_episodes)

    _l3(spark, sf_dir)  # registers the pairs dim view
    framed = frame_episodes(spark.sql(BFX_I1_RAW_SQL)).withColumn(
        "era", F.date_trunc("week", F.col("episode_timestamp")))
    return capture_raw_book_events(framed, spark.table("pairs"))


def _q_symbol_upsert(spark, sf_dir):
    """SRC8: SCD-2-style symbol-details upsert — snapshot rows appended to
    history when new or changed (every 3rd fabric pair bumps a margin, 30
    pairs are brand new)."""
    from obadiah_spark.sources.symbols import (
        SYMBOLS_AS_OF,
        SYMBOLS_FABRIC_CTES,
        update_symbol_details,
    )

    _load(spark, sf_dir)
    hist = spark.sql(f"WITH {SYMBOLS_FABRIC_CTES} SELECT * FROM hist")
    snap = spark.sql(f"WITH {SYMBOLS_FABRIC_CTES} SELECT * FROM snap")
    return update_symbol_details(hist, snap, SYMBOLS_AS_OF)


def _q_csv_roundtrip(spark, sf_dir):
    """SRC7: write the level3 log to CSV (±infinity text) and read it back
    typed; must equal the original rows."""

    from obadiah_spark.sources.csv_io import csv_roundtrip

    return csv_roundtrip(_l3(spark, sf_dir), _gate_tmpdir("l3csv_"))


def _staged_trades(spark, sf_dir):
    from obadiah_spark.operators.promote import STAGED_TRADES_SQL

    _l3(spark, sf_dir)  # registers the matches view
    return spark.sql(STAGED_TRADES_SQL)


def _q_move_events(spark, sf_dir):
    from obadiah_spark.operators.promote import move_events

    return move_events(_l3(spark, sf_dir), _staged_trades(spark, sf_dir),
                       EV_START, EV_END)


def _q_move_trades(spark, sf_dir):
    from obadiah_spark.operators.promote import move_trades

    return move_trades(_staged_trades(spark, sf_dir), EV_START, EV_END)


def _q_staging_summary(spark, sf_dir):
    from pyspark.sql import functions as F

    from obadiah_spark.fold import depth_change_fold, spread_fold
    from obadiah_spark.operators.promote import staging_summary

    l3 = _l3(spark, sf_dir)
    d2 = depth_change_fold(l3).withColumn(
        "era", F.date_trunc("week", "microtimestamp"))
    return staging_summary(l3, _staged_trades(spark, sf_dir), spread_fold(l3), d2)


def _q_depth_chains(spark, sf_dir):
    from obadiah_spark.operators.depth_chains import depth_changes_with_chains

    return depth_changes_with_chains(_l3(spark, sf_dir))


def _q_repair_missing_fill(spark, sf_dir):
    """Q5 closed loop: NULL the fill of every 5th matched maker event and
    understate the chain's earlier amounts by the lost fill (the corruption
    the reference repairs), then recover both from the trade links.
    Round-trip equality with the uncorrupted level3 is pytest-enforced."""
    from obadiah_spark.operators.staging_repair import (
        corrupt_fills,
        find_and_repair_missing_fill,
    )

    l3 = _l3(spark, sf_dir)
    corrupted, links = corrupt_fills(l3, spark.table("matches"))
    return find_and_repair_missing_fill(corrupted, links)


def _q_reveal_episodes(spark, sf_dir):
    """Q5: move both events of every inferred trade to the aggressor's
    price-chain start (the revealed episode instant)."""
    from obadiah_spark.operators.matching import inferred_trades
    from obadiah_spark.operators.staging_repair import reveal_episodes

    l3 = _l3(spark, sf_dir)
    # inferred_trades is a multi-window pipeline referenced more than once
    # inside the repair — materialize it once (same fix as match_sequential)
    return reveal_episodes(l3, inferred_trades(l3).localCheckpoint())


def _q_fix_aggressor(spark, sf_dir):
    """Q5 fix_aggressor_creation_order on a disordered fabric: flipping the
    taker side of every 3rd inferred trade makes the 'aggressor' the side
    with the OLDER price chain — exactly the processed-in-wrong-order state
    the reference repairs (phase B fires; phase A handles inversions)."""
    from pyspark.sql import functions as F

    from obadiah_spark.operators.matching import inferred_trades
    from obadiah_spark.operators.staging_repair import fix_aggressor_creation_order

    l3 = _l3(spark, sf_dir)
    t = inferred_trades(l3)
    flip = (F.col("buy_order_id") + F.col("sell_order_id")) % 3 == 0
    flipped = t.withColumn(
        "side",
        F.when(flip, F.when(F.col("side") == "b", "s").otherwise("b"))
        .otherwise(F.col("side")))
    # materialize the (tiny) trades input once — the repair references it
    # in both phases, and its lineage is the full inferred_trades pipeline
    return fix_aggressor_creation_order(l3, flipped.localCheckpoint())


def _match_sequential_oracle(inferred_sql: str, match_sql: str) -> str:
    """Splice the inferred-trades oracle in as the ``seq_trades`` CTE of the
    match_sequential oracle (the closed loop mirrored on DuckDB; era and the
    synthetic trade id are computed identically on both engines)."""
    seq_trades = f"""seq_trades AS (
    WITH it AS ({inferred_sql})
    SELECT pair_id, date_trunc('week', microtimestamp) AS era,
           {_PACK_SQL} AS exchange_trade_id,
           microtimestamp AS trade_microtimestamp, amount, price,
           side AS trade_type, buy_order_id, sell_order_id
    FROM it
)"""
    return match_sql.replace("WITH seq_pairs AS",
                             f"WITH {seq_trades}, seq_pairs AS", 1)


def _match_incremental_oracle() -> str:
    """Splice the link-stripped trades CTE (mirror of
    _q_match_incremental) in as ``it_trades``."""
    from obadiah_spark.operators.lifecycle import incremental_match_oracle_sql

    it_trades = """it_trades AS (
    SELECT pair_id, era, microtimestamp AS trade_microtimestamp, price,
           amount AS fill, side AS origination, exchange_trade_id
    FROM matches
)"""
    return incremental_match_oracle_sql().replace(
        "WITH horizon AS", f"WITH {it_trades}, horizon AS", 1)


def _match_sum_of_fills_oracle(match_sql: str) -> str:
    """Splice the trade-splitting CTE (mirror of _q_match_sum_of_fills) in as
    ``sof_trades``."""
    sof_trades = """sof_trades AS (
    SELECT pair_id, era,
           make_timestamp(epoch_us(microtimestamp) - 3 + p.k) AS trade_microtimestamp,
           price, amount * p.f AS fill, side AS origination,
           exchange_trade_id * 10 + p.k AS exchange_trade_id
    FROM matches, (VALUES (0, CAST(0.25 AS DOUBLE), 0), (1, CAST(0.75 AS DOUBLE), 0),
                          (0, CAST(0.25 AS DOUBLE), 1), (1, CAST(0.25 AS DOUBLE), 1),
                          (2, CAST(0.5 AS DOUBLE), 1)) AS p(k, f, par)
    WHERE exchange_trade_id % 2 = p.par
)"""
    return match_sql.replace("WITH tset AS", f"WITH {sof_trades}, tset AS", 1)


def _q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): IVF-cell-bucketed within-cell
    nearest-smaller-id cosine with keep-first representatives — the
    semantic tier above embedding_dedup's exact-threshold pairs.  Gate
    threshold 0.3: the driver embeddings are uniform random, so the
    paper's 0.95 yields an all-False verdict column (vacuous); 0.3
    gives a real mixed verdict set (tests/test_semdedup.py fabric
    note).  Reuses the session's trained coarse codebook like
    ann_ivfpq."""
    from obadiah_spark.pipelines.dedup import semdedup
    from obadiah_spark.pipelines.similarity import train_ivf_codebook

    _load(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    cb = _IVF_CODEBOOKS.get(key)
    if cb is None:
        cb = _IVF_CODEBOOKS[key] = train_ivf_codebook(
            spark.table("embeddings"))
    return semdedup(spark.table("embeddings"), threshold=0.3, codebook=cb)


def _q_adpcm_roundtrip(spark, sf_dir):
    """IMA ADPCM encode→strict-parse→decode roundtrip over the wav
    gate's synthetic sample stream; the oracle replays the whole
    predictor/step-index state machine as a recursive CTE.  r14 NOTE:
    can register standalone OR as the ('adpcm') leg of a wav_roundtrip
    variant union (schemas differ — wav emits header fields — so a
    union needs allowMissingColumns surgery; standalone is cleaner)."""
    from obadiah_spark.pipelines.audio import adpcm_roundtrip

    return adpcm_roundtrip(_docs(spark, sf_dir))


def _q_render_sequences(spark, sf_dir):
    """Materialized training sequences: pack_sequences' assignment
    hydrated with member texts and concatenated per (shard, seq_no) in
    offset order; seq_md5 pins the byte-exact sequence content.  Same
    pinned shard count as the pack_sequences gate."""
    from obadiah_spark.pipelines.packing import PACK_SHARDS, render_sequences

    return render_sequences(_docs(spark, sf_dir), n_shards=PACK_SHARDS)


def _q_pack_stream(spark, sf_dir):
    """Streaming packing ON INGEST: the documents table replayed as a
    3-micro-batch doc_id-ordered file stream through
    applyInPandasWithState keyed on shard (state = three scalars: open
    seq_no, filled tokens, next offset).  Under per-shard doc_id-ordered
    arrival the cumulative output equals batch pack_sequences exactly —
    including sequences straddling micro-batch boundaries — so the
    oracle is the batch pack recursion (tests/test_pack_stream.py
    differential)."""
    import os
    import uuid

    from obadiah_spark.pipelines.packing import PACK_SHARDS
    from obadiah_spark.streaming.pack_stream import pack_stream
    from obadiah_spark.streaming.scale import (scoped_shuffle_partitions,
                                               stream_shuffle_partitions)

    work = _gate_tmpdir("pack_stream_gate_")
    src, n = _write_replay_chunks(
        _docs(spark, sf_dir).select("doc_id", "text"), ["doc_id"],
        work, subdir="docs")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    name = f"pack_stream_{uuid.uuid4().hex[:8]}"
    with scoped_shuffle_partitions(
            spark, stream_shuffle_partitions(spark, n)):
        q = (pack_stream(stream, n_shards=PACK_SHARDS)
             .writeStream.format("memory").queryName(name)
             .option("checkpointLocation", os.path.join(work, "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    return spark.table(name)


def _q_ann_ivfpq_query(spark, sf_dir):
    """Index-backed IVF-PQ search over an APPENDED index — the 100 TB
    ingest differential: codebooks trained on the full set
    (write_ivfpq_index's train_emb knob), the initial build indexes the
    even vec_ids only, append_ivfpq_index grows it with the odd half
    under the frozen codebooks, and the query runs over old ∪ new.
    Because the increment runs the exact _encode_vectors pass the build
    ran, the appended index is row-identical to a single-shot full
    build, so the oracle is ann_ivfpq_oracle() VERBATIM — the hash
    proves the persisted layout, the append path, and the query plan
    against the same SQL that pins the in-memory operator."""
    import os

    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.similarity import (
        ann_ivfpq_query, append_ivfpq_index, write_ivfpq_index)

    _load(spark, sf_dir)
    emb = spark.table("embeddings")
    work = _gate_tmpdir("ivfpq_idx_gate_")
    path = os.path.join(work, "index")
    even = F.pmod(F.col("vec_id"), F.lit(2)) == 0
    # reuse the session's trained coarse codebook (Lloyd is
    # deterministic — row-identical to the in-build training, and the
    # bench stops paying the training pass twice per session)
    key = (spark.sparkContext.applicationId, sf_dir)
    cb = _IVF_CODEBOOKS.get(key)
    if cb is None:
        from obadiah_spark.pipelines.similarity import train_ivf_codebook

        cb = _IVF_CODEBOOKS[key] = train_ivf_codebook(emb)
    # train_pq=False: the ann_ivfpq gate (and ann_ivfpq_oracle) use the
    # stride-SEED sub-codebooks; the Lloyd-trained PQ default would fork
    # the ADC ordering from the SQL oracle
    write_ivfpq_index(emb.filter(even), path, train_emb=emb,
                      train_pq=False, codebook=cb)
    append_ivfpq_index(spark, path, emb.filter(~even))
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    return ann_ivfpq_query(spark, path, q)


def _q_order_book_union(spark, sf_dir):
    """r14 capacity merge (2→1): L2/order_book probe + the
    silver-checkpoint-seeded probe as one variant-tagged gate — same
    operator, both branches keep their exact oracles."""
    return _variant_union(
        ("base", _q_order_book(spark, sf_dir)),
        ("ckpt", _q_order_book_ckpt(spark, sf_dir)),
    )


def _q_corpus_clean_union(spark, sf_dir):
    """r14 capacity merge (2→1): the batch cleaning composition and its
    streaming replay as one gate — the branches already share one
    oracle (the replay differential), so the union oracle is that SQL
    twice under the two tags."""
    return _variant_union(
        ("batch", _q_corpus_clean(spark, sf_dir)),
        ("stream", _q_corpus_clean_stream(spark, sf_dir)),
    )


def _q_wav_adpcm_union(spark, sf_dir):
    """r14 capacity merge (wav_roundtrip absorbs the NEW adpcm leg):
    the ADPCM branch pads to the wav schema with its real header
    constants (codec='adpcm', 8 kHz mono, 4-bit nibbles — every gate
    file is encoded with exactly those), so the union needs no
    missing-column surgery and each branch keeps its exact oracle."""
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.audio import WAV_RATE

    wav = _q_wav_roundtrip(spark, sf_dir)
    adpcm = _q_adpcm_roundtrip(spark, sf_dir).select(
        "doc_id", F.lit("adpcm").alias("codec"), "n_samples",
        F.lit(WAV_RATE).cast("bigint").alias("sample_rate"),
        F.lit(1).cast("bigint").alias("channels"),
        F.lit(4).cast("bigint").alias("bits"),
        "sum_sq", "peak", "zero_crossings", "pos_weighted")
    return _variant_union(("wav", wav), ("adpcm", adpcm))


def _q_wav_adpcm_union_oracle() -> str:
    from obadiah_spark.pipelines.audio import (
        WAV_RATE, WAV_ROUNDTRIP_ORACLE, adpcm_roundtrip_oracle_sql)

    adpcm_padded = f"""SELECT doc_id, 'adpcm' AS codec, n_samples,
       CAST({WAV_RATE} AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS channels, CAST(4 AS BIGINT) AS bits,
       sum_sq, peak, zero_crossings, pos_weighted
FROM (
{adpcm_roundtrip_oracle_sql()}
)"""
    return _variant_union_oracle(wav=WAV_ROUNDTRIP_ORACLE,
                                 adpcm=adpcm_padded)


def _q_spread_union(spark, sf_dir):
    """r14 capacity merge (2→1): the full L1 emit-on-change spread
    stream and its period-boundary sampling as one variant-tagged gate
    (same output schema — the period leg is the base stream's
    p_frequency-style overload)."""
    return _variant_union(
        ("base", _q_spread(spark, sf_dir)),
        ("periods", _q_spread_periods(spark, sf_dir)),
    )


def _q_minhash_pairs_union(spark, sf_dir):
    """r15 capacity merge (3→1): the three (doc_a, doc_b) MinHash-LSH
    candidate-pair gates — batch, persisted-index incremental, and the
    streaming-replay form — as one variant-tagged gate; each branch
    keeps its exact oracle.

    The incremental leg (eager index write + census) and the stream leg
    (eager 3-trigger replay) construct CONCURRENTLY (_overlap_legs,
    guide §2.6) — serialized they idle the cluster through each other's
    stragglers/trigger gaps.  The batch leg stays inline: it is lazy
    (its jobs run in the union's collect).  Value-neutral: the legs
    share no state.

    The stream leg runs on ``spark.newSession()`` (r16, VERDICT r15 #3):
    same SparkContext, ISOLATED SQL conf — its scoped
    ``spark.sql.shuffle.partitions`` mutation can no longer re-partition
    the incremental leg's batch stages mid-planning on the shared
    session (safe at today's gate scale only because the derived count
    happened to equal the session value; a different SF or density
    would silently change the concurrent leg).  The leg reads parquet
    paths directly (no temp views) and its memory-sink read-back binds
    to the child session, so the frame unions cleanly with the parent's
    legs over the shared context."""
    _docs(spark, sf_dir)  # register views once before the leg threads
    inc, stream = _overlap_legs(
        lambda: _q_minhash_lsh_incremental(spark, sf_dir),
        lambda: _q_dedup_stream(spark.newSession(), sf_dir),
    )
    return _variant_union(
        ("batch", _q_minhash_lsh(spark, sf_dir)),
        ("incremental", inc),
        ("stream", stream),
    )


def _q_lsh_recall_union(spark, sf_dir):
    """r15 capacity merge (2→1): the two one-row LSH recall bounds —
    similarity-search recall vs the exact strong-pair set, and the
    dedup sweep's recall vs the exact duplicate set — as one
    variant-tagged gate.  The count column is unified to ``n_pairs``
    (n_strong / n_exact_dups in the standalone keys); each branch keeps
    its exact oracle with the same rename."""
    a = _q_ann_lsh_recall(spark, sf_dir).withColumnRenamed(
        "n_strong", "n_pairs")
    b = _q_embedding_dedup_lsh_recall(spark, sf_dir).withColumnRenamed(
        "n_exact_dups", "n_pairs")
    return _variant_union(("search", a), ("dedup", b))


def _q_lsh_recall_union_oracle() -> str:
    from obadiah_spark.pipelines import dedup
    from obadiah_spark.pipelines.similarity import ann_lsh_recall_oracle

    a = (f"SELECT metric, n_strong AS n_pairs, recall_ge_0_5 FROM (\n"
         f"{ann_lsh_recall_oracle()}\n)")
    b = (f"SELECT metric, n_exact_dups AS n_pairs, recall_ge_0_5 FROM (\n"
         f"{dedup.embedding_dedup_lsh_recall_oracle()}\n)")
    return _variant_union_oracle(search=a, dedup=b)


# per-source mixing weights for the stratified_sample gate: every
# stratum present with a distinct fraction, so the gate pins the
# per-stratum threshold arithmetic at 20 different values
_MIX_FRACTIONS = {f"src{k}": round((k + 1) / 20, 2) for k in range(20)}


def _q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum data mixing over the documents table's
    source column — the hash_sample gate's data-mixing form (r15
    candidate): each source keeps its own 60-bit-hash fraction, strata
    without an entry drop.  Same sample_u convention as hash_sample /
    corpus_prepare's mixing clause."""
    from obadiah_spark.pipelines.sampling import stratified_sample

    return stratified_sample(_docs(spark, sf_dir), _MIX_FRACTIONS,
                             "source")


def _q_ann_ivfpq_trained(spark, sf_dir):
    """IVF-PQ with Lloyd-TRAINED sub-codebooks — the production default
    of write_ivfpq_index, now value-pinnable: ann_ivfpq_oracle(
    train_pq=True) replays the per-subspace training as a CTE chain
    (same fold-ordered means / argmin tiebreaks as the coarse codebook
    chain).  Registers as the ``trained`` leg of the ann_ivfpq union
    (same output schema as the base gate)."""
    from obadiah_spark.pipelines.similarity import (
        ann_ivfpq, train_ivf_codebook)

    _load(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    cb = _IVF_CODEBOOKS.get(key)
    if cb is None:
        cb = _IVF_CODEBOOKS[key] = train_ivf_codebook(
            spark.table("embeddings"))
    return ann_ivfpq(spark.table("embeddings"), codebook=cb,
                     subcodebook=_session_pq_subcodebook(spark, sf_dir))


def _q_ann_ivfpq_union(spark, sf_dir):
    """r15 capacity merge (2→1): the structured-quantizer ANN gate's two
    sub-codebook modes — the fixed 4×4-bit grid (base, the retired
    ann_ivfpq tail key) and Lloyd-trained sub-codebooks (the
    write_ivfpq_index production default) — as one variant-tagged gate;
    each branch keeps its exact oracle."""
    return _variant_union(
        ("base", _q_ann_ivfpq(spark, sf_dir)),
        ("trained", _q_ann_ivfpq_trained(spark, sf_dir)),
    )


def _q_ann_ivfpq_union_oracle() -> str:
    from obadiah_spark.pipelines.similarity import ann_ivfpq_oracle

    return _variant_union_oracle(
        base=ann_ivfpq_oracle(),
        trained=ann_ivfpq_oracle(train_pq=True))


def _q_shuffle_sequences(spark, sf_dir):
    """NEW r13 (second session): deterministic global corpus shuffle —
    every packed training sequence gets a reproducible pseudorandom
    (out_shard, out_pos) via the repo's 60-bit md5 sampling hash; no
    global sort (pmod buckets + per-out-shard windows).  Completes the
    pipeline's last mile: prepare → pack → render → SHUFFLE.  Pins the
    gate shard counts like the pack gates."""
    from obadiah_spark.pipelines.packing import (
        PACK_SHARDS, pack_sequences, shuffle_sequences)

    return shuffle_sequences(
        pack_sequences(_docs(spark, sf_dir), n_shards=PACK_SHARDS))


def _q_match_fill_union(spark, sf_dir):
    """r15 capacity merge (2→1): the one-shot I5 matcher and its
    chunked scheduled-lifecycle replay as one variant-tagged gate —
    the same link set discipline as the order_book/ckpt union.  The
    one-shot leg pads the incremental leg's ``matcher`` provenance
    column with its real constant ('exact' — the one-shot path IS the
    exact matcher), the wav/adpcm padding precedent; each branch keeps
    its exact oracle with the same pad."""
    from pyspark.sql import functions as F

    a = _q_match_fill_exact(spark, sf_dir).withColumn(
        "matcher", F.lit("exact"))
    b = _q_match_incremental(spark, sf_dir)
    return _variant_union(("oneshot", a), ("incremental", b))


def _q_match_fill_union_oracle() -> str:
    from obadiah_spark.operators.matching import match_fill_exact_oracle_sql
    from obadiah_spark.synth import level3_matches_cte

    one_shot = level3_matches_cte(match_fill_exact_oracle_sql())
    a = f"SELECT *, 'exact' AS matcher FROM (\n{one_shot}\n) mfe"
    return _variant_union_oracle(
        oneshot=a,
        incremental=level3_matches_cte(_match_incremental_oracle()))


def _q_minhash_pairs_union_oracle() -> str:
    from obadiah_spark.pipelines import dedup

    return _variant_union_oracle(
        batch=dedup.MINHASH_LSH_ORACLE,
        incremental=dedup.minhash_incremental_oracle_sql(new_mod=2),
        stream=dedup.minhash_lsh_oracle(max_bucket_size=10_000))


# DSIR gate fabric: the target corpus is a deterministic 30% hash
# sample of the documents table (reproducible on both engines from the
# shared sample_u convention; a strict subset, so target members'
# bigrams visibly shift the bucket model — tests/test_dsir.py pins the
# inside>outside mean-weight separation)
DSIR_TARGET_FRACTION = 0.3
DSIR_TARGET_SALT = "dsir_target"


def _q_dsir_sample(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023) — hashed-bigram
    target-vs-raw importance weights in whole-bit surprisal, then the
    deterministic exp-weight hash race (accept ∝ 2^weight_bits).  The
    output pins the weights AND the accepted row set: (doc_id,
    n_grams, weight_bits, sample_u)."""
    from obadiah_spark.pipelines.dsir import dsir_sample
    from obadiah_spark.pipelines.sampling import hash_sample

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    target = hash_sample(docs, DSIR_TARGET_FRACTION,
                         salt=DSIR_TARGET_SALT).select("doc_id", "text")
    return dsir_sample(docs, target)


def _q_dsir_sample_oracle() -> str:
    from obadiah_spark.pipelines.dsir import dsir_sample_oracle_sql
    from obadiah_spark.pipelines.sampling import _threshold, sample_u_sql

    target_sql = (
        f"SELECT doc_id, text FROM documents "
        f"WHERE {sample_u_sql('doc_id', DSIR_TARGET_SALT)} "
        f"< {_threshold(DSIR_TARGET_FRACTION)}")
    return dsir_sample_oracle_sql(target_sql)


def _gates() -> dict[str, tuple[Runner, str]]:
    """Every gate as key → (runner, DuckDB-runnable ANSI SQL oracle).

    The oracle builders are imported here, not at module level, so
    importing the driver contract stays cheap."""
    from obadiah_spark import relational
    from obadiah_spark.operators.depth import (
        DEPTH_CHANGE_ORACLE_BODY,
        SPREAD_L1_CTES,
        SPREAD_LINEAR_ORACLE_BODY,
        depth_summary_oracle_sql,
        get_depth_oracle_sql,
        get_spread_freq_oracle_sql,
        get_spread_oracle_sql,
        grid_sample_l3_sql,
        spread_at_oracle_sql,
    )
    from obadiah_spark.operators.repair import (
        audit_microtimestamp_moves_oracle_sql,
        insert_level3_era_oracle_sql,
        merge_crossed_books_oracle_sql,
        merge_episodes_oracle_sql,
    )
    from obadiah_spark.operators.resample import (
        depth_resample_oracle_sql,
        queues_oracle_sql,
    )
    from obadiah_spark.operators.quality import (
        CHAIN_AUDIT_ORACLE_BODY,
        MATCH_AUDIT_ORACLE_BODY,
        crossed_books_oracle,
        invalid_takers_oracle_sql,
    )
    from obadiah_spark.operators.events import (
        SUMMARY_ORACLE_BODY,
        events_oracle_sql,
        intervals_oracle_sql,
        trades_oracle_sql,
    )
    from obadiah_spark.operators.book_ops import book_by_episode_oracle_sql
    from obadiah_spark.operators.catalog import (
        DATA_OVERVIEW_ORACLE_BODY,
        export_oracle_sql,
    )
    from obadiah_spark.operators.matching import (
        inferred_trades_oracle_sql,
        match_sequential_oracle_sql,
        match_sum_of_fills_oracle_sql,
    )
    from obadiah_spark.operators.order_book import order_book_oracle_sql
    from obadiah_spark.operators.promote import (
        move_events_oracle_sql,
        move_trades_oracle_sql,
        staging_summary_oracle_sql,
    )
    from obadiah_spark.operators.depth_chains import depth_chains_oracle_sql
    from obadiah_spark.operators.staging_repair import (
        CORRUPT_FABRIC_CTES,
        find_and_repair_missing_fill_oracle_sql,
        fix_aggressor_creation_order_oracle_sql,
        normalize_event_order_oracle_sql,
        reveal_episodes_oracle_sql,
    )
    from obadiah_spark.sources.bitstamp import (
        capture_transient_orders_oracle_sql,
        capture_transient_trades_oracle_sql,
        capture_raw_book_oracle_sql,
        frame_episodes_oracle_sql,
    )
    from obadiah_spark.sources.csv_io import csv_roundtrip_oracle_sql
    from obadiah_spark.sources.symbols import update_symbol_details_oracle_sql
    from obadiah_spark.operators.trading import (
        epsilon_draws_mid_oracle_sql,
        epsilon_draws_zigzag_oracle_sql,
        _mid_range_cte,
        trading_period_v0_oracle,
        trading_period_v0_range_oracle,
        trading_strategy_mid_oracle_sql,
        trading_strategy_zigzag_oracle_sql,
    )
    from obadiah_spark.pipelines import (bpe, chunking, classifier, decontam,
                                         dedup, docquality, packing, sampling)
    from obadiah_spark.sources import layout
    from obadiah_spark.pipelines.multimodal import (
        CODEC_ROUNDTRIP_ORACLE,
        JPEG_ROUNDTRIP_ORACLE,
        MULTIMODAL_ORACLE,
        resize_images_oracle,
    )
    from obadiah_spark.pipelines.similarity import (
        ann_bruteforce_oracle,
        ann_ivf_oracle,
        ann_ivfpq_oracle,
        ann_lsh_pairs_oracle_sql,
    )
    from obadiah_spark.pipelines import langid
    from obadiah_spark.pipelines.video import mjpeg_sample_oracle_sql
    from obadiah_spark.pipelines.text import (
        TEXT_STATS_ORACLE,
        WINNOW_ORACLE,
        WINNOW_PAIRS_ORACLE,
        bigram_rarity_oracle_sql,
        tfidf_top_terms_oracle,
    )
    from obadiah_spark.pipelines.tokenize import TOKENIZE_REGEX_ORACLE
    from obadiah_spark.synth import level3_cte, level3_matches_cte

    # Order matters: the driver records only the first 50 keys per
    # round, so the keys rotate through that window, and
    # tests/test_entry_contract.py::test_rotation_age_bound checks that
    # every key past it has a green driver row at most two rounds old.
    return {
        # IVF-cell-bucketed within-cell cosine, keep-first
        # representatives (threshold=0.3 — fabric note in the runner)
        "semdedup": (_q_semdedup, dedup.semdedup_oracle_sql(threshold=0.3)),
        # pack assignments hydrated + concatenated per
        # (shard, seq_no); seq_md5 pins byte-exact sequence content
        "render_sequences": (
            _q_render_sequences, packing.render_sequences_oracle_sql(
                n_shards=packing.PACK_SHARDS)),
        # streaming packing ON INGEST == batch pack under the
        # per-shard doc_id-ordered replay (test_pack_stream differential)
        "pack_stream": (_q_pack_stream, packing.pack_sequences_oracle_sql(
            n_shards=packing.PACK_SHARDS)),
        # appended index ≡ single-shot full build (the append
        # runs the exact _encode_vectors pass the build ran), so the
        # index-backed query gate reuses the in-memory operator's SQL
        "ann_ivfpq_query": (_q_ann_ivfpq_query, ann_ivfpq_oracle()),
        # merged (2→1): L2 probe + checkpoint-seeded probe — the
        # branches are the same operator, so both tags carry its SQL
        "order_book": (_q_order_book_union, _variant_union_oracle(
            base=level3_cte(order_book_oracle_sql(OB_AT)),
            ckpt=level3_cte(order_book_oracle_sql(OB_AT)))),
        # merged (2→1): the batch cleaning composition + its
        # streaming replay — stream == batch under the doc_id-ordered
        # replay (first-seen canonical == min-doc_id canonical), so
        # both tags carry the same member SQL
        "corpus_clean": (_q_corpus_clean_union, _variant_union_oracle(
            batch=docquality.corpus_clean_oracle_sql(),
            stream=docquality.corpus_clean_oracle_sql())),
        # merged: wav + the adpcm leg padded to the wav schema
        "wav_roundtrip": (_q_wav_adpcm_union, _q_wav_adpcm_union_oracle()),
        # merged (2→1): emit-on-change L1 stream + period-boundary
        # sampling (both pin to the same linear-interpolation SQL)
        "spread": (_q_spread_union, _variant_union_oracle(
            base=level3_cte(SPREAD_LINEAR_ORACLE_BODY),
            periods=level3_cte(SPREAD_LINEAR_ORACLE_BODY))),
        # stream replay == batch islands SQL once every session is
        # flush-closed; us-long bounds are the streaming column shape
        "sessionize_stream": (_q_sessionize_stream,
            relational.sessionize_us_oracle(30)),
        # stream replay == batch ann_lsh_pairs at the dedup-sweep
        # geometry when no bucket exceeds the (10k) cap: same VALUES-CTE
        # plane-weight oracle, dedup geometry + the 0.45 threshold
        "embedding_dedup_stream": (
            _q_embedding_dedup_stream, ann_lsh_pairs_oracle_sql(
                64, min_cosine=0.45, tables=dedup.DEDUP_TABLES,
                planes=dedup.DEDUP_PLANES)),
        "dup_spans": (_q_dup_spans, docquality.dup_spans_oracle_sql()),
        "pack_sequences": (_q_pack_sequences,
            packing.pack_sequences_oracle_sql()),
        "decontaminate": (_q_decontaminate,
            decontam.decontaminate_oracle_sql(4)),
        "quality_classifier": (_q_quality_classifier,
            classifier.quality_classifier_oracle_sql()),
        "bigram_rarity": (_q_bigram_rarity, bigram_rarity_oracle_sql()),
        "hash_sample": (_q_hash_sample, _variant_union_oracle(
            base=sampling.hash_sample_oracle_sql(0.2, salt="gate"),
            strat=sampling.stratified_sample_oracle_sql(
                MIX_FRACTIONS, "source", salt="gate"))),
        # merged overload families: every branch is the SAME oracle
        # the retired per-overload key carried, tagged and unioned
        "depth_summary": (_q_depth_summary, _variant_union_oracle(
            base=level3_cte(depth_summary_oracle_sql()),
            freq=level3_cte(
                grid_sample_l3_sql(depth_summary_oracle_sql(), GET_FREQ_S)),
            range=level3_cte(
                depth_summary_oracle_sql(start=EV_START, end=EV_END)))),
        "queues": (_q_queues, _variant_union_oracle(
            base=level3_cte(queues_oracle_sql()),
            freq=level3_cte(
                grid_sample_l3_sql(queues_oracle_sql(), GET_FREQ_S)),
            range=level3_cte(
                queues_oracle_sql(start=EV_START, end=EV_END)))),
        "trading_period": (_q_trading_period, _variant_union_oracle(
            base=level3_cte(trading_period_v0_oracle()),
            freq=level3_cte(
                grid_sample_l3_sql(trading_period_v0_oracle(), GET_FREQ_S)),
            range=level3_cte(
                trading_period_v0_range_oracle(EV_START, EV_END)))),
        # real-book T2/T3: recursive-CTE replay of the state machines in mid
        # mode (phi/epsilon must match the _q_* calls above); the *_zigzag
        # entries additionally hash-check against a closed-form extrema oracle
        # merged T2 family: base/zigzag/freq/range, each branch
        # the exact oracle its retired key carried (rho stays separate)
        "trading_strategy": (_q_trading_strategy_merged, _variant_union_oracle(
            base=level3_cte(trading_strategy_mid_oracle_sql(phi=0.0001)),
            zigzag=trading_strategy_zigzag_oracle_sql(),
            freq=level3_cte(grid_sample_l3_sql(
                trading_strategy_mid_oracle_sql(phi=0.0001), GET_FREQ_S)),
            range=level3_cte(trading_strategy_mid_oracle_sql(
                phi=0.0, mid_cte=_mid_range_cte(EV_START, EV_END))))),
        # merged E1 family: base + freq, each branch the exact
        # oracle its retired key carried
        "get_events": (_q_get_events_merged, _variant_union_oracle(
            base=level3_matches_cte(events_oracle_sql(EV_START, EV_END)),
            freq=level3_matches_cte(events_oracle_sql(
                EV_START, EV_END,
                l1_ctes=grid_sample_l3_sql(SPREAD_L1_CTES, GET_FREQ_S))))),
        "codec_roundtrip": (_q_codec_roundtrip, CODEC_ROUNDTRIP_ORACLE),
        "mjpeg_sample": (_q_mjpeg_sample, mjpeg_sample_oracle_sql()),
        "depth_chains": (_q_depth_chains,
            level3_cte(depth_chains_oracle_sql())),
        "dup_clusters": (_q_dup_clusters, dedup.dup_clusters_oracle()),
        "cleanse_order": (_q_cleanse_order,
            level3_matches_cte(normalize_event_order_oracle_sql())),
        "fix_aggressor_order": (_q_fix_aggressor,
            level3_cte(fix_aggressor_creation_order_oracle_sql(
                f"""agg_trades AS (
    SELECT pair_id, microtimestamp, price, amount,
        CASE WHEN (buy_order_id + sell_order_id) % 3 = 0
             THEN CASE side WHEN 'b' THEN 's' ELSE 'b' END
             ELSE side END AS side,
        buy_microtimestamp, buy_order_id, buy_event_no,
        sell_microtimestamp, sell_order_id, sell_event_no
    FROM ({inferred_trades_oracle_sql()}) it
)"""))),
        "reveal_episodes": (
            _q_reveal_episodes, level3_cte(reveal_episodes_oracle_sql(
                f"rev_trades AS ({inferred_trades_oracle_sql()})"))),
        "symbol_upsert": (_q_symbol_upsert,
            update_symbol_details_oracle_sql()),
        "insert_era": (_q_insert_era,
            level3_cte(insert_level3_era_oracle_sql(ERA_SPLIT_AT))),
        "csv_roundtrip": (_q_csv_roundtrip,
            level3_cte(csv_roundtrip_oracle_sql())),
        "move_events": (_q_move_events,
            level3_matches_cte(move_events_oracle_sql(EV_START, EV_END))),
        "move_trades": (_q_move_trades,
            level3_matches_cte(move_trades_oracle_sql(EV_START, EV_END))),
        "staging_summary": (_q_staging_summary,
            level3_matches_cte(staging_summary_oracle_sql())),
        "fix_chain_integrity": (_q_fix_chain_integrity,
            level3_cte("SELECT * FROM level3")),
        "depth_change": (_q_depth_change,
            level3_cte(DEPTH_CHANGE_ORACLE_BODY)),
        "get_trades": (_q_get_trades,
            level3_matches_cte(trades_oracle_sql(TR_START, TR_END))),
        "events_intervals": (_q_intervals,
            level3_cte(intervals_oracle_sql(HORIZON))),
        "summary": (_q_summary, level3_matches_cte(SUMMARY_ORACLE_BODY)),
        "ann_ivf": (_q_ann_ivf, ann_ivf_oracle()),
        "winnow_fingerprints": (_q_winnow_fingerprints, WINNOW_ORACLE),
        "winnow_pairs": (_q_winnow_pairs, WINNOW_PAIRS_ORACLE),
        "multimodal_resize": (_q_multimodal_resize, resize_images_oracle()),
        "merge_crossed_books": (_q_merge_crossed_books,
            level3_cte(merge_crossed_books_oracle_sql())),
        "merge_episodes": (_q_merge_episodes,
            level3_cte(merge_episodes_oracle_sql(EV_START, EV_END))),
        "era_reassign": (_q_era_reassign, _era_reassign_oracle()),
        "crossed_books": (_q_crossed_books,
            level3_cte(crossed_books_oracle())),
        "order_book_takers": (_q_order_book_takers,
            level3_cte(invalid_takers_oracle_sql())),
        "jpeg_roundtrip": (_q_jpeg_roundtrip, JPEG_ROUNDTRIP_ORACLE),
        "match_sweep": (_q_match_sweep, level3_cte(_match_sweep_oracle())),
        # deterministic global corpus shuffle of the packed
        # sequences (pmod buckets + per-out-shard windows, no global sort)
        "shuffle_sequences": (
            _q_shuffle_sequences, packing.shuffle_sequences_oracle_sql(
                n_shards=packing.PACK_SHARDS)),
        # per-stratum data mixing, 20 distinct fractions
        "stratified_sample": (
            _q_stratified_sample, sampling.stratified_sample_oracle_sql(
                _MIX_FRACTIONS, "source")),
        # DSIR importance resampling (bucket censuses + the
        # tempered exp-weight hash race, replayed as a CTE chain)
        "dsir_sample": (_q_dsir_sample, _q_dsir_sample_oracle()),
        # merged (2→1): fixed 4×4-bit grid + Lloyd-trained
        # sub-codebooks (ann_ivfpq_oracle(train_pq=True) CTE chain)
        "ann_ivfpq": (_q_ann_ivfpq_union, _q_ann_ivfpq_union_oracle()),
        # merged (2→1): search recall + dedup-sweep recall, count
        # column unified to n_pairs on both engines
        "lsh_recall": (_q_lsh_recall_union, _q_lsh_recall_union_oracle()),
        # merged (3→1): batch + persisted-index incremental +
        # streaming replay, each branch its retired key's exact oracle
        "minhash_pairs": (_q_minhash_pairs_union,
            _q_minhash_pairs_union_oracle()),
        # merged (2→1): one-shot I5 matcher (padded matcher='exact')
        # + chunked scheduled-lifecycle replay
        "match_fill_exact": (_q_match_fill_union,
            _q_match_fill_union_oracle()),
        # the full composition — every stage the exact SQL its
        # standalone gate carries, composed
        "corpus_prepare": (_q_corpus_prepare,
            docquality.corpus_prepare_oracle_sql()),
        # LSH candidates verified by normalized Levenshtein;
        # both engines restrict hydration to ASCII docs (codepoint ==
        # byte edit domain — see near_dup_verify docstring)
        "near_dup_verify": (_q_near_dup_verify,
            dedup.near_dup_verify_oracle_sql()),
        # recursive replace-pass re-encoding under the pinned
        # VALUES merge table
        "bpe_encode": (_q_bpe_encode,
            bpe.bpe_encode_oracle_sql(BPE_GATE_MERGES)),
        "chunk_documents": (_q_chunk_documents,
            chunking.chunk_documents_oracle_sql()),
        # both curves recomputed bit-for-bit over the same
        # (event-time micros, user) projection
        "layout_keys": (  # zorder + hilbert union
            _q_layout_keys, _variant_union_oracle(
                z=f"SELECT event_id, zb_ts_us, zb_user_id, zkey AS skey "
                  f"FROM ({layout.zorder_keys_oracle_sql(LAYOUT_COLS, table=_EV_US_SQL)}) zq",
                hilbert=f"SELECT event_id, zb_ts_us, zb_user_id, hkey AS skey "
                        f"FROM ({layout.hilbert_keys_oracle_sql(LAYOUT_COLS, table=_EV_US_SQL)}) hq")),
        # merged D4 family: base + freq
        "get_depth": (_q_get_depth_merged, _variant_union_oracle(
            base=level3_cte(get_depth_oracle_sql(EV_START, EV_END)),
            freq=level3_cte(get_depth_oracle_sql(
                EV_START, EV_END, frequency_s=GET_FREQ_S)))),
        # merged D8 family: base + freq + single-instant
        "get_spread": (_q_get_spread_merged, _variant_union_oracle(
            base=level3_cte(get_spread_oracle_sql(EV_START, EV_END)),
            freq=level3_cte(
                get_spread_freq_oracle_sql(EV_START, EV_END, GET_FREQ_S)),
            at=level3_cte(spread_at_oracle_sql(EV_START)))),
        # merged T3 family: base/zigzag/range, each branch the
        # exact oracle its retired key carried
        "epsilon_draws": (_q_epsilon_draws_merged, _variant_union_oracle(
            base=level3_cte(epsilon_draws_mid_oracle_sql(epsilon=0.0005)),
            zigzag=epsilon_draws_zigzag_oracle_sql(),
            range=level3_cte(epsilon_draws_mid_oracle_sql(
                epsilon=0.0005, mid_cte=_mid_range_cte(EV_START, EV_END))))),
        "gopher_quality": (_q_gopher_quality,
            docquality.gopher_quality_oracle_sql()),
        "pii_scrub": (_q_pii_scrub, docquality.pii_gate_oracle_sql()),
        "data_overview": (_q_data_overview,
            level3_cte(DATA_OVERVIEW_ORACLE_BODY)),
        "q1_pricing_summary": (_q_q1, relational.Q1_ORACLE),
        "q3_shipping_priority": (_q_q3, relational.Q3_ORACLE),
        "q5_revenue_by_nation": (_q_q5, relational.Q5_ORACLE),
        "topk_orders_per_customer": (_q_topk, relational.TOPK_ORACLE),
        "sessionize_events": (_q_sessionize, relational.sessionize_oracle(30)),
        "exact_dedup": (_q_exact_dedup, dedup.EXACT_DEDUP_ORACLE),
        "ngram_jaccard": (_q_ngram_jaccard, dedup.ngram_jaccard_oracle()),
        "simhash": (_q_simhash, dedup.SIMHASH_ORACLE),
        "text_stats": (_q_text_stats, TEXT_STATS_ORACLE),
        "ann_bruteforce": (_q_ann_bruteforce, ann_bruteforce_oracle()),
        # dim=64 is the TESTDATA.md embeddings contract (all sf dirs); the
        # plane weights are emitted into the SQL as a VALUES CTE, so DuckDB
        # recomputes signatures + buckets + cosines from scratch
        "ann_lsh_pairs": (_q_ann_lsh, ann_lsh_pairs_oracle_sql(64)),
        "embedding_dedup": (_q_embedding_dedup,
            dedup.embedding_dedup_oracle()),
        "export_events": (_q_export,
            level3_cte(export_oracle_sql(EV_START, EV_END))),
        "book_by_episode": (_q_book_by_episode,
            level3_cte(book_by_episode_oracle_sql())),
        "depth_resample": (_q_depth_resample,
            level3_cte(depth_resample_oracle_sql())),
        "move_audit": (_q_move_audit,
            level3_cte(audit_microtimestamp_moves_oracle_sql(120))),
        "bs_capture_orders": (_q_bs_capture_orders,
            capture_transient_orders_oracle_sql()),
        "capture_trades": (_q_capture_trades,
            level3_cte(capture_transient_trades_oracle_sql())),
        "capture_raw_book": (_q_capture_raw_book,
            capture_raw_book_oracle_sql()),
        "episode_framing": (_q_episode_framing, frame_episodes_oracle_sql()),
        "match_sum_of_fills": (_q_match_sum_of_fills, level3_matches_cte(
            _match_sum_of_fills_oracle(match_sum_of_fills_oracle_sql()))),
        "inferred_trades": (_q_inferred_trades,
            level3_cte(inferred_trades_oracle_sql())),
        "match_audit": (_q_match_audit,
            level3_matches_cte(MATCH_AUDIT_ORACLE_BODY)),
        "repair_missing_fill": (_q_repair_missing_fill, level3_matches_cte(
            find_and_repair_missing_fill_oracle_sql(CORRUPT_FABRIC_CTES))),
        "chain_audit": (_q_chain_audit, level3_cte(CHAIN_AUDIT_ORACLE_BODY)),
        "trading_strategy_rho": (_q_trading_strategy_rho,
            level3_cte(trading_strategy_mid_oracle_sql(
                phi=0.0001, rho=STRATEGY_RHO))),
        "lang_id_ngram": (_q_lang_id_ngram, langid.lang_id_ngram_oracle_sql()),
        "tokenize_regex": (_q_tokenize_regex, TOKENIZE_REGEX_ORACLE),
        "tfidf_top_terms": (_q_tfidf_top_terms, tfidf_top_terms_oracle()),
        "match_sequential": (
            _q_match_sequential, level3_cte(_match_sequential_oracle(
                inferred_trades_oracle_sql(), match_sequential_oracle_sql()))),
        "multimodal_features": (_q_multimodal, MULTIMODAL_ORACLE),
    }


def queries() -> dict[str, Runner]:
    """The gate runners, keyed and ordered as ``_gates()``."""
    return {key: run for key, (run, _) in _gates().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each queries() key."""
    return {key: sql for key, (_, sql) in _gates().items()}
