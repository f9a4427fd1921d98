"""Structured Streaming operators (deliberate superset — the reference has
no stream semantics at all, SURVEY §2.8).

The batch projections in ops/windows.py are reused under ``readStream``:
tumbling/sliding windows with watermarks, session windows, and a custom
stateful operator (per-user running counters) via ``transformWithStateInPandas``
-equivalent ``applyInPandasWithState``.

Designed for the `events` table shape:
  event_id long, ts timestamp, user_id long, event_type string,
  value double, props string
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tuning import advise_shuffle_partitions, scoped_conf

EVENT_SCHEMA = T.StructType([
    T.StructField('event_id', T.LongType()),
    T.StructField('ts', T.TimestampType()),
    T.StructField('user_id', T.LongType()),
    T.StructField('event_type', T.StringType()),
    T.StructField('value', T.DoubleType()),
    T.StructField('props', T.StringType()),
])


def read_event_stream(spark: SparkSession, source_dir: str,
                      max_files_per_trigger: int = 1) -> DataFrame:
    """File-based event stream (each dropped parquet file = one micro-batch)."""
    return (spark.readStream
            .schema(EVENT_SCHEMA)
            .option('maxFilesPerTrigger', max_files_per_trigger)
            .parquet(source_dir))


def windowed_counts(events: DataFrame, width: str = '1 hour',
                    watermark: str = '2 hours') -> DataFrame:
    """Tumbling event-time window with late-data watermark."""
    return (events
            .withWatermark('ts', watermark)
            .groupBy(F.window('ts', width).alias('win'), F.col('event_type'))
            .agg(F.count(F.lit(1)).alias('n_events'),
                 F.sum('value').alias('sum_value'))
            .select(F.col('win.start').alias('window_start'), 'event_type',
                    'n_events', 'sum_value'))


def session_counts(events: DataFrame, gap: str = '30 minutes',
                   watermark: str = '2 hours') -> DataFrame:
    """Session windows per user (gap-based)."""
    return (events
            .withWatermark('ts', watermark)
            .groupBy(F.session_window('ts', gap).alias('win'), F.col('user_id'))
            .agg(F.count(F.lit(1)).alias('n_events'))
            .select('user_id', F.col('win.start').alias('session_start'), 'n_events'))


def _await_drain(q, query_name: str) -> None:
    """Wait for an availableNow query to finish; stop it and raise past
    the drain timeout — 600 s, overridable via RBQL_STREAM_DRAIN_TIMEOUT
    (the sf10 decade audit needs >600s for drains that are ~60s at sf1:
    linear scaling alone crosses the default)."""
    timeout = int(os.environ.get('RBQL_STREAM_DRAIN_TIMEOUT', '600'))
    if not q.awaitTermination(timeout):
        q.stop()
        raise RuntimeError('stream {} did not drain within {}s'.format(
            query_name, timeout))


def _drain_conf(spark, input_bytes, shuffle_expansion, final_no_data_batch):
    """The session settings a drain's ``start()`` runs under, scoped to it
    (the query captures a cloned conf at start): the state-store width
    advised from the source's bytes, and no trailing no-data batch when
    ``final_no_data_batch`` is False."""
    settings = {'spark.sql.shuffle.partitions': advise_shuffle_partitions(
        spark, input_bytes, expansion=shuffle_expansion, allow_below=True)}
    if not final_no_data_batch:
        settings['spark.sql.streaming.noDataMicroBatches.enabled'] = 'false'
    return scoped_conf(spark, settings)


def run_stream_to_parquet(stream_df: DataFrame, query_name: str,
                          input_bytes: int | None = None,
                          shuffle_expansion: float = 1.0,
                          final_no_data_batch: bool = True) -> DataFrame:
    """Drain an append-mode stream through a parquet file sink and return
    the drained rows as a DataFrame.

    This is the scale-honest drain for row-scale outputs: the memory sink
    materializes every output row on the DRIVER (collected per batch and
    re-served from driver memory), which at 10M output rows costs more
    than the streaming operator itself (measured in the round-14 sf10
    decade audit: the memory-sink streaming_asof drain+readback spent
    ~5 min driver-side; the parquet sink writes stay on the executors).
    Aggregated update/complete-mode streams keep the memory sink — the
    parquet sink is append-only by Spark's contract, and their output is
    key-bounded anyway.

    The sink/checkpoint dir is per-(query, process) and wiped before
    each run, so bench repetitions measure full drains, not resumes.

    ``input_bytes`` (source size; pass ``tuning.dir_bytes(path)`` for a
    file-replay source): the state-store/shuffle partition count is
    pinned by ``spark.sql.shuffle.partitions`` at the query's first
    start and AQE never re-plans it, so the drain scopes the conf to
    ``tuning.advise_shuffle_partitions`` — per-task bytes stay constant
    across data decades (the measured sf10 rule, SCALING.md).
    ``shuffle_expansion`` maps source bytes to shuffled bytes (e.g. a
    band explode multiplies them)."""
    import shutil
    import tempfile

    base = os.path.join(tempfile.gettempdir(),
                        'rbql_drain_{}_{}'.format(query_name, os.getpid()))
    shutil.rmtree(base, ignore_errors=True)
    out = os.path.join(base, 'out')
    # final_no_data_batch: see run_stream_to_memory — only pass False
    # for operators that emit rows strictly on data arrival (dedup,
    # stateless filters), NEVER for append-mode window/session
    # aggregations, whose final windows emit in that trailing batch
    with _drain_conf(stream_df.sparkSession, input_bytes, shuffle_expansion,
                     final_no_data_batch):
        q = (stream_df.writeStream
             .format('parquet')
             .option('path', out)
             .option('checkpointLocation', os.path.join(base, 'ckpt'))
             .outputMode('append')
             .trigger(availableNow=True)
             .start())
    _await_drain(q, query_name)
    q.stop()
    # explicit schema: an all-filtered (empty) drain leaves no data files
    return stream_df.sparkSession.read.schema(stream_df.schema).parquet(out)


def run_stream_to_memory(stream_df: DataFrame, query_name: str,
                         output_mode: str = 'append',
                         input_bytes: int | None = None,
                         shuffle_expansion: float = 1.0,
                         final_no_data_batch: bool = True):
    """Drive a streaming DataFrame into an in-memory sink until idle; returns
    the StreamingQuery (caller reads ``spark.table(query_name)``).

    Raises on timeout rather than returning silently: a partially
    drained memory table reads as a plausible-but-wrong result, and a
    benchmark rep that times out would record truncated work as if it
    were a full drain — masking exactly the super-linear behavior the
    scale harness exists to catch.

    ``input_bytes`` / ``shuffle_expansion``: see run_stream_to_parquet —
    scopes the state-store partition count to the source's size.

    ``final_no_data_batch=False`` (r17, guide §1/§2): availableNow ends
    with one zero-row micro-batch whose only job is firing event-time
    timers; it still pays a full state-store open/commit plus the
    Python state machinery across every partition (measured ~0.9 s of
    addBatch on the user-totals drain).  A caller whose stateful
    handler emits NOTHING from its timeout branch (both
    applyInPandasWithState operators here yield empty frames on
    hasTimedOut) can skip it — the drained output is identical by
    construction.  Leave True for windowed/session aggregations in
    append mode: their final windows only EMIT in that trailing batch.
    The conf is scoped to this ``start()`` — streaming queries capture
    a cloned session conf at start, so nothing leaks."""
    with _drain_conf(stream_df.sparkSession, input_bytes, shuffle_expansion,
                     final_no_data_batch):
        q = (stream_df.writeStream
             .format('memory')
             .queryName(query_name)
             .outputMode(output_mode)
             .trigger(availableNow=True)
             .start())
    _await_drain(q, query_name)
    return q


def stream_exact_dedup(events: DataFrame,
                       watermark: str = '90 days') -> DataFrame:
    """Exactly-once projection over an at-least-once stream: drop re-delivered
    records across micro-batches (the streaming face of ops.dedup.exact_dedup).

    State is the set of seen (event_id, ts) keys; including the event-time
    column in the key lets the engine expire entries older than the
    watermark, so state is bounded by delivery horizon × arrival rate, not
    stream lifetime.  The watermark is the redelivery tolerance: a duplicate
    arriving later than it can slip through (and a first delivery later
    than it is dropped as late) — size it to the transport's worst case.
    """
    return (events
            .withWatermark('ts', watermark)
            .dropDuplicates(['event_id', 'ts']))


# ---- custom stateful operator --------------------------------------------

_OUT_SCHEMA = 'user_id long, n_events long, total_value double'


def running_user_totals(events: DataFrame, watermark: str = '2 hours',
                        state_retention: str | None = '90 days',
                        state_buckets: int | None = None) -> DataFrame:
    """Custom stateful streaming aggregation: per-user running event count and
    value total across micro-batches (applyInPandasWithState).

    State is BOUNDED by event-time eviction (round-11): a user idle for
    longer than `state_retention` past their last event — measured by the
    stream's watermark, so wall-clock stalls don't evict — has their
    counters dropped; a later event restarts that user's totals from zero.
    This bounds state to (active users within the retention horizon) rather
    than (every user ever seen), which is what keeps a forever-run ingest
    job from OOMing.  The default (90 days, matching stream_exact_dedup's
    redelivery-tolerance convention) preserves whole-history totals for any
    stream whose replay horizon is shorter; pass None for the old unbounded
    lifetime state.

    State granularity (round-16, the stream_minhash_near_dups design):
    the operator keys on a deterministic USER super-bucket
    (`pmod(xxhash64(user_id), K)`, K = `state_buckets` or 8× the
    session's shuffle-partition count at plan build, min 64) whose
    state is a dict of its users' counters.  Per-user keying invoked
    the Python state machinery once per ACTIVE USER per batch — state
    row decode/encode plus a one-row pandas frame each — which
    dominated the drain at second scale; bucketed state amortizes that
    over ~(active users / K) users per call while keeping per-user
    semantics exactly: per-user counters, per-user retention deadlines
    (the group timer fires at the earliest deadline and sweeps only
    users the watermark passed; busy buckets sweep their idle-expired
    users in the data path, since hasTimedOut never fires for a group
    that keeps receiving data — r17), one update row per user per
    batch.
    Sized for bulk/replay ingest: a sparse trickle (few active users
    per batch) rewrites its whole bucket's dict per update — raise K
    (or revert to per-user keying with K so large buckets are
    singletons) for that regime.  Changing K re-keys state: not
    checkpoint-compatible across values.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    retention_ms = None if state_retention is None else \
        int(__import__('pandas').Timedelta(state_retention).total_seconds() * 1000)
    try:
        sess_parts = int(events.sparkSession.conf.get(
            'spark.sql.shuffle.partitions'))
    except Exception:
        sess_parts = 200
    n_groups = int(state_buckets) if state_buckets else max(64, 8 * sess_parts)

    def update_fn(key, pdf_iter, state):
        import pickle
        import pandas as pd

        def empty():
            return pd.DataFrame({'user_id': pd.Series([], dtype='int64'),
                                 'n_events': pd.Series([], dtype='int64'),
                                 'total_value': pd.Series([], dtype='float64')})

        def rearm(users):
            if retention_ms is None or not users:
                return
            state.setTimeoutTimestamp(
                max(min(u[2] for u in users.values()),
                    state.getCurrentWatermarkMs() + 1))

        # state: {user_id: [n, total, deadline_ms]}
        users = pickle.loads(bytes(state.get[0])) if state.exists else {}
        if state.hasTimedOut:
            # users idle past retention: drop their counters, emit
            # nothing — the last emitted totals remain the final word
            # until (if ever) they reappear and restart from zero
            wm = state.getCurrentWatermarkMs()
            for uid in [u for u, v in users.items() if v[2] <= wm]:
                del users[uid]
            if users:
                state.update((pickle.dumps(users, protocol=4),))
                rearm(users)
            else:
                state.remove()
            yield empty()
            return
        import numpy as np
        out: dict[int, tuple[int, float]] = {}
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            wm = state.getCurrentWatermarkMs()
            # vectorized per-user fold (r17): one argsort + reduceat per
            # chunk replaces the pandas groupby loop, whose per-sub-frame
            # construction and tiny .fillna().sum() calls cost ~100 µs
            # per active user per chunk.  Per-user chunk sums still
            # accumulate chunk-by-chunk into the running total exactly
            # as before; within-chunk summation order changes (pandas
            # pairwise → reduceat sequential), which sits below the
            # gate-level round-6 grid like every other float-order
            # detail
            uids = pdf['user_id'].to_numpy(dtype='int64')
            vals = pdf['value'].to_numpy(dtype='float64')
            vals = np.where(np.isnan(vals), 0.0, vals)
            order = np.argsort(uids, kind='stable')
            u = uids[order]
            bounds = np.flatnonzero(np.r_[True, u[1:] != u[:-1]])
            uu = u[bounds]
            nn = np.diff(np.r_[bounds, u.size])
            tt = np.add.reduceat(vals[order], bounds)
            if retention_ms is not None:
                # event ns → ms floor, same as pd.Timestamp(...).value
                # // 1e6 did per user
                tms = pdf['ts'].to_numpy().view('int64') // 1_000_000
                mx = np.maximum.reduceat(tms[order], bounds)
            for i in range(uu.size):
                uid = int(uu[i])
                n, total, _ = users.get(uid) or (0, 0.0, 0)
                n += int(nn[i])
                total += float(tt[i])
                if retention_ms is not None:
                    # timeout must sit above the current watermark —
                    # anchor on the later of (this user's newest event,
                    # the watermark itself)
                    deadline = max(int(mx[i]), wm) + retention_ms
                else:
                    deadline = 0
                users[uid] = [n, total, deadline]
                out[uid] = (n, total)
        out_u = sorted(out)
        out_n = [out[u][0] for u in out_u]
        out_t = [out[u][1] for u in out_u]
        # data-path sweep (r16 advice): hasTimedOut only fires for
        # groups with NO data in a trigger, so a busy bucket would
        # otherwise never evict its idle users — state would grow
        # unboundedly and a user returning past the retention horizon
        # would resume instead of restarting.  Users updated this batch
        # always carry deadline > watermark (anchored max(ts, wm) +
        # retention), so this sweeps exactly the idle-expired — the
        # same set the per-user-keyed timer design evicted.
        if retention_ms is not None and users:
            wm = state.getCurrentWatermarkMs()
            for uid in [u for u, v in users.items() if v[2] <= wm]:
                del users[uid]
        state.update((pickle.dumps(users, protocol=4),))
        rearm(users)
        yield pd.DataFrame({'user_id': pd.Series(out_u, dtype='int64'),
                            'n_events': pd.Series(out_n, dtype='int64'),
                            'total_value': pd.Series(out_t, dtype='float64')})

    timeout = (GroupStateTimeout.NoTimeout if retention_ms is None
               else GroupStateTimeout.EventTimeTimeout)
    return (events
            .withWatermark('ts', watermark)
            .withColumn('__ukey', F.pmod(F.xxhash64('user_id'),
                                         F.lit(int(n_groups))))
            .groupBy('__ukey')
            .applyInPandasWithState(update_fn, _OUT_SCHEMA, 'blob binary',
                                    'update', timeout))


def stream_asof_enrich(events: DataFrame, markers: DataFrame,
                       on: str = 'ts', by: str = 'user_id',
                       suffix: str = '_r',
                       broadcast_max_rows: int = 1_000_000) -> DataFrame:
    """Stream-static as-of enrichment: each streamed event picks up the
    latest static marker of its key at or before its event time — the
    streaming face of ops.timejoin.asof_join (inclusive tie rule, NULL
    payload when no marker precedes), and batch-equivalent to it by
    construction: every match depends only on the STATIC marker table,
    so the drained stream equals the batch as-of join row-for-row
    (tested; the join_asof oracle replays both).

    The marker table is collected and broadcast as a per-key sorted
    time index; each Arrow batch resolves matches with one vectorized
    searchsorted per key present in the batch — a stateless mapInPandas
    stage, so it composes with any downstream watermark/aggregation.
    Broadcast-sized markers are the contract (the dimension-table shape
    of stream enrichment); the collect is guarded at `broadcast_max_rows`
    (the ops.dedup broadcast-size pattern) so an oversized marker table
    raises a clear error instead of OOMing the driver — for corpus-scale
    right sides use the batch ops.timejoin.asof_join.  Markers must be
    unique per (by, on) — the as-of contract (pre-aggregate ambiguous
    instants first).
    """
    import numpy as np

    from pyspark.sql.types import StructField, StructType

    payload = [c for c in markers.columns if c not in (by, on)]
    # a NULL-keyed or NULL-time marker can never match (and would break
    # the index build) — drop up front.  The limit bounds driver memory
    # to broadcast_max_rows + 1 rows even when the guard trips.
    rows = (markers.where(F.col(by).isNotNull() & F.col(on).isNotNull())
                   .select(by, on, *payload)
                   .limit(broadcast_max_rows + 1).collect())
    if len(rows) > broadcast_max_rows:
        raise ValueError(
            'stream_asof_enrich marker table exceeds broadcast_max_rows='
            '{}: the streaming enrichment broadcasts the marker index to '
            'every task, so the right side must be dimension-sized. Use '
            'the batch asof_join (rbql_spark.ops.timejoin) for large '
            'marker tables, or raise broadcast_max_rows explicitly.'
            .format(broadcast_max_rows))
    rows.sort(key=lambda r: (repr(r[by]), r[on]))
    # dense key ids in the SAME order the rows were sorted by, so the
    # composite key below is globally monotone over (key, ts)
    kdict: dict = {}
    for r in rows:
        if r[by] not in kdict:
            kdict[r[by]] = len(kdict)
    mkey = np.array([kdict[r[by]] for r in rows], dtype=np.int64)
    mts = np.array([r[on] for r in rows], dtype='datetime64[us]')
    mpay = {c: np.array([r[c] for r in rows], dtype=object)
            for c in payload}
    if len(rows):
        min_t = mts.min().astype(np.int64)
        span = int(mts.max().astype(np.int64) - min_t) + 2
    else:
        min_t, span = 0, 2
    # composite = key_id * span + (ts - min_t + 1): one sorted int64
    # axis over (key, ts), so a WHOLE batch resolves with a single
    # vectorized searchsorted — no per-key or per-row Python (the first
    # version looped rows and went super-linear at 10x data)
    if len(kdict) * span >= 2**62:
        raise ValueError('marker key x time-span range too wide for the '
                         'composite index; pre-shard the marker table')
    mcomp = mkey * span + (mts.astype(np.int64) - min_t + 1)
    bc = events.sparkSession.sparkContext.broadcast(
        (kdict, mcomp, mkey, mts, mpay, min_t, span))

    mfields = {f.name: f.dataType for f in markers.schema.fields}
    out_schema = StructType(
        list(events.schema.fields)
        + [StructField(c + suffix, mfields[c]) for c in payload]
        + [StructField(on + suffix, mfields[on])])

    def enrich(batches):
        import pandas as pd
        kd, comp, mk, mt, mp, mn, sp = bc.value
        # key → dense-id mapper built ONCE per task: pandas caches the
        # hash-index engine on the Series, so per-batch lookups are O(batch).
        # Mapping with the raw dict instead rebuilt a hash index over ALL
        # marker keys for EVERY Arrow batch — O(batches × keys), the
        # super-linearity the sf10 decade audit caught (19x at 10x data)
        mapper = pd.Series(kd, dtype=np.int64)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ts_raw = pdf[on].to_numpy(dtype='datetime64[us]')
            ts_int = ts_raw.astype(np.int64)
            ki = pd.Series(pdf[by].to_numpy()).map(mapper) \
                .fillna(-1).to_numpy(dtype=np.int64)
            # clip query offsets into [0, span-1]: before-all-markers
            # maps below the key's first marker (no match via the key
            # check), after-all maps at/above its last (inclusive tie).
            # NaT events must be masked out FIRST: NaT's int64-min
            # sentinel wraps under the subtraction and would clip to the
            # last marker's offset (a phantom newest-marker match).
            off = np.clip(ts_int - mn + 1, 0, sp - 1)
            qcomp = ki * sp + off
            idx = np.searchsorted(comp, qcomp, side='right') - 1
            valid = (ki >= 0) & (idx >= 0) & ~np.isnat(ts_raw)
            valid[valid] &= mk[idx[valid]] == ki[valid]
            ts_out = np.full(n, np.datetime64('NaT'), dtype='datetime64[us]')
            ts_out[valid] = mt[idx[valid]]
            out = pdf.copy()
            for c in payload:
                col = np.full(n, None, dtype=object)
                col[valid] = mp[c][idx[valid]]
                out[c + suffix] = pd.Series(col, index=pdf.index)
            out[on + suffix] = pd.Series(ts_out, index=pdf.index)
            yield out

    return events.mapInPandas(enrich, schema=out_schema)
