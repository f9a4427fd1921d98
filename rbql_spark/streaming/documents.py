"""Streaming document operators (deliberate superset — the reference has no
stream semantics at all, SURVEY §2.8): incremental near-duplicate detection
over a document stream.

The batch near-dup machinery from ops/dedup.py is reused per micro-batch
(same Arrow minhash kernel, same band keys), and a custom stateful operator
(applyInPandasWithState keyed on the band bucket) carries the LSH index
across batches — the streaming face of minhash_dedup_pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_document_stream(spark: SparkSession, source_dir: str,
                         schema=None,
                         max_files_per_trigger: int = 1) -> DataFrame:
    """File-based document stream (each dropped parquet file = one
    micro-batch).  File streams need an explicit schema; by default it is
    lifted from the directory's existing parquet footers."""
    if schema is None:
        schema = spark.read.parquet(source_dir).schema
    return (spark.readStream
            .schema(schema)
            .option('maxFilesPerTrigger', max_files_per_trigger)
            .parquet(source_dir))


def stream_decontaminate(docs: DataFrame, benchmark: DataFrame,
                         text_col: str = 'text', id_col: str = 'doc_id',
                         shingle_k: int = 3,
                         hash_fn: str = 'md5',
                         ts_col: str | None = None,
                         watermark: str = '1 hour',
                         state_retention: str = '1 day') -> DataFrame:
    """Streaming train/test decontamination: flag documents ARRIVING on a
    stream that share k-word shingles with a (static, small) benchmark
    suite → (doc_id, bench_id, n_overlap) in update mode.

    The streaming face of ops.dedup.decontaminate, built on Spark's
    native stream-static join: the benchmark's exploded shingle set is a
    static broadcast side, each micro-batch's documents shingle inside
    the scan tasks (same md5 scheme as the batch op, so the batch replay
    is the differential oracle), and the per-(doc, bench) overlap count
    aggregates in update mode.  A document's shingles all arrive in its
    own micro-batch, so each key's count completes within that batch —
    the final emission per key equals the batch answer; consume the last
    update per key and apply the min_overlap threshold downstream
    (thresholding inside the stream would emit partial counts the moment
    they cross the bar, before the doc's remaining shingles are summed).

    State bounding (round-11): with `ts_col` set (a document event-time
    column), the aggregation key gains a `state_retention`-wide event-time
    window under a watermark, so Spark drops each (window, doc, bench)
    count once the watermark passes it — state is bounded by the retention
    horizon's arrival volume instead of the stream's lifetime.  Semantics
    are unchanged because a document's shingles all arrive in its own
    micro-batch and its timestamp pins it to exactly one window (the
    window column is dropped from the output).  A redelivery later than
    watermark + retention is silently ignored (its rows are late); one
    inside the horizon re-counts into the same window, as in the
    unwatermarked form.  Without ts_col the aggregation keeps lifetime
    state — bounded in practice because only benchmark-overlapping docs
    create state, but a forever-stream should set ts_col or recycle the
    query periodically, as any unwatermarked streaming agg must.
    """
    from rbql_spark.ops.dedup import (
        spread_partitions, word_shingles, word_shingles_md5,
    )

    mk = word_shingles_md5 if hash_fn == 'md5' else word_shingles
    extra = [F.col(ts_col)] if ts_col is not None else []
    # round-16: spread each micro-batch before the shingle projection —
    # a single-file batch is otherwise one scan task (see
    # dedup.spread_partitions; measured 4.2 -> 3.5 s per drain at sf0.1)
    docs = spread_partitions(docs)
    # INLINE explode (generator child = the shingle expression): the
    # attribute-fed two-step form makes Catalyst infer a size()>0 filter
    # and push it through the defining Project, re-evaluating the
    # tokenize+md5 shingling per row (see dedup.decontaminate)
    t = docs.select(F.col(id_col).alias('doc_id'), *extra,
                    F.explode(mk(F.col(text_col), k=shingle_k)).alias('sh'))
    b = benchmark.select(F.col(id_col).alias('bench_id'),
                         F.explode(mk(F.col(text_col),
                                      k=shingle_k)).alias('sh'))
    j = t.join(F.broadcast(b), 'sh')
    if ts_col is not None:
        return (j.withWatermark(ts_col, watermark)
                 .groupBy(F.window(F.col(ts_col), state_retention),
                          'doc_id', 'bench_id')
                 .agg(F.count(F.lit(1)).alias('n_overlap'))
                 .select('doc_id', 'bench_id', 'n_overlap'))
    return (j.groupBy('doc_id', 'bench_id')
             .agg(F.count(F.lit(1)).alias('n_overlap')))


def stream_decontaminate_bloom(docs: DataFrame, benchmark: DataFrame,
                               text_col: str = 'text',
                               id_col: str = 'doc_id',
                               shingle_k: int = 3,
                               bloom_bits: int = 1 << 20,
                               bloom_hashes: int = 3, seed: int = 42,
                               ts_col: str | None = None,
                               watermark: str = '1 hour',
                               state_retention: str = '1 day') -> DataFrame:
    """Streaming bloom-filter decontamination — stream_decontaminate's
    scale path for a benchmark too large to broadcast as shingles: →
    (doc_id, n_flagged_shingles) in update mode, flagging streamed
    documents whose shingles are bloom-members of the (static)
    benchmark set.

    The benchmark collapses ONCE at plan-build time into the set-bit
    positions of ops.dedup.decontaminate_bloom, packed into a numpy
    bitmap: a bloom_bits/8-byte broadcast, fixed no matter how large
    the benchmark grows.  Each micro-batch shingles in-scan
    (native md5), tests membership in a STATELESS Arrow kernel, and
    only bloom-positive shingle rows reach the one streaming
    aggregation — so state is bounded to flagged documents, exactly the
    exact-variant's state story, and the flagged set is the documented
    SUPERSET of the true overlap.  A document's shingles complete
    within its own micro-batch, so the last update per doc_id equals
    the batch decontaminate_bloom answer at min_hits=1 (the
    differential oracle); threshold downstream.

    `ts_col` bounds state by event time exactly as stream_decontaminate:
    the aggregation key gains a `state_retention`-wide window under
    `watermark`, dropped once the watermark passes it.
    """
    from rbql_spark.ops.dedup import (
        _bloom_member_flags, _bloom_pack_bitmap, _bloom_positions,
        spread_partitions, word_shingles_md5,
    )
    docs = spread_partitions(docs)   # r16: see stream_decontaminate
    bits = (benchmark.select(F.explode(
                word_shingles_md5(F.col(text_col), k=shingle_k)).alias('sh'))
                     .select(F.explode(_bloom_positions(
                         F.col('sh'), bloom_hashes, bloom_bits, seed))
                         .alias('pos'))
                     .distinct())
    bc = _bloom_pack_bitmap(docs.sparkSession, bits, bloom_bits)
    extra = [F.col(ts_col)] if ts_col is not None else []
    # INLINE explode — same inferred-filter duplication avoidance as in
    # stream_decontaminate / dedup.decontaminate
    t = docs.select(F.col(id_col).alias('doc_id'), *extra,
                    F.explode(word_shingles_md5(
                        F.col(text_col), k=shingle_k)).alias('sh'))
    flags = _bloom_member_flags(
        t, bc, bloom_hashes, bloom_bits, seed,
        carry_cols=(ts_col,) if ts_col else (),
        carry_schema='{} timestamp'.format(ts_col) if ts_col else '')
    pos = flags.where(F.col('flag') == 1)
    if ts_col is not None:
        return (pos.withWatermark(ts_col, watermark)
                   .groupBy(F.window(F.col(ts_col), state_retention),
                            'doc_id')
                   .agg(F.count(F.lit(1)).cast('long')
                        .alias('n_flagged_shingles'))
                   .select('doc_id', 'n_flagged_shingles'))
    return (pos.groupBy('doc_id')
               .agg(F.count(F.lit(1)).cast('long')
                    .alias('n_flagged_shingles')))


def stream_minhash_near_dups(docs: DataFrame, text_col: str = 'text',
                             id_col: str = 'doc_id', num_perm: int = 64,
                             shingle_k: int = 3, bands: int = 16,
                             rows_per_band: int = 4, threshold: float = 0.7,
                             seed: int = 42,
                             state_retention: str | None = None,
                             ts_col: str | None = None,
                             watermark: str = '1 hour',
                             state_buckets: int | None = None) -> DataFrame:
    """Incremental near-dup detection: emits a verified (doc_a, doc_b,
    jaccard) pair the moment the SECOND document of the pair arrives.

    Per micro-batch, documents run through the exact batch pipeline front
    half — the Arrow minhash kernel (md5-32 shingle hashes, seeded
    permutations) and the banded signature keys from
    ops.dedup.lsh_candidate_pairs.  A stateful band index keyed on
    (band_idx, band_hash) then stores each bucket's (doc_id, shingle set)
    and, as new documents land in the bucket, verifies exact Jaccard
    against the stored members (plus the batch's own earlier arrivals) —
    so the lifetime union of emitted pairs equals the batch
    minhash_dedup_pairs answer at the same parameters, which is the
    differential oracle.

    Scale/semantics notes:
      * shuffle shape matches the batch op: signatures stream through the
        scan tasks, only the banded keys shuffle (groupBy band bucket).
      * a pair agreeing on several bands is emitted once per bucket;
        compose a downstream dropDuplicates(['doc_a','doc_b']) (or
        consume idempotently) for exactly-once pair delivery.
      * redelivered documents (at-least-once transport) are recognized by
        id and skipped — no self-pairs, no duplicate state rows.
      * state BOUNDING (round-11): `state_retention` evicts a band
        bucket's stored members once the bucket has been idle past the
        retention horizon.  With `ts_col` set (a document event-time
        column), eviction is EVENT-TIME driven — a watermark is applied
        and a bucket whose newest member is older than watermark −
        retention drops; this mode is replay-safe (an availableNow
        drain terminates normally) and is what a forever-run ingest job
        with timestamped documents should use.  Without ts_col, eviction
        falls back to PROCESSING-TIME (wall-clock idle); note Spark keeps
        scheduling timer batches under availableNow in this mode, so use
        it only with continuous (processingTime) triggers.  The near-dup
        guarantee is scoped to the retention window — a new document
        pairs against every member indexed within it; matches against
        older evicted members are missed (the standard streaming-LSH
        trade: lifetime indexes need the batch op or a materialized
        ann_index).  state_retention=None (default) keeps the unbounded
        lifetime index — sized for bounded replays, not forever-runs.
      * state GRANULARITY (round-16): the stateful operator is keyed on
        a deterministic SUPER-BUCKET `pmod(xxhash64(band_idx,
        band_hash), K)` rather than the raw band bucket, with each
        group's state holding a dict of its real buckets.  Raw-bucket
        keying created one applyInPandasWithState group per distinct
        band bucket — ≈ bands × corpus for mostly-unique buckets — and
        the per-group Python overhead (state row decode/encode, a
        pandas frame per group per batch) dominated the drain ~4:1
        over the actual signature + shuffle work (measured at sf0.1:
        9.5 s of a 14 s drain).  Verification still runs per REAL
        bucket inside the group (ascending doc id, redelivery skip,
        per-bucket retention deadlines anchored on each bucket's OWN
        newest arrival, expired buckets swept in the data path before
        any verification — r17), so the emitted pair set and every
        retention/eviction outcome match the per-bucket design.  K =
        state_buckets when given explicitly, else max(4096, 64 × the
        session's shuffle-partition count at plan build), so a
        cluster session sized for a large stream
        gets proportionally more groups (keys stay ≥ 64× partitions,
        the skew-free ratio of guide §2.5) while each group's state
        stays small.  Changing K re-keys state: not
        checkpoint-compatible with a drain started under another K.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from rbql_spark.ops.dedup import minhash_signatures

    retention_ms = None if state_retention is None else \
        int(__import__('pandas').Timedelta(state_retention).total_seconds() * 1000)
    event_time = retention_ms is not None and ts_col is not None

    sig = minhash_signatures(docs, text_col, id_col, num_perm=num_perm,
                             shingle_k=shingle_k, seed=seed, hash_fn='md5',
                             carry_cols=(ts_col,) if event_time else ())
    band_arr = F.array(*[
        F.xxhash64(F.concat_ws(',', *[
            F.col('signature')[b * rows_per_band + r].cast('string')
            for r in range(rows_per_band)]))
        for b in range(bands)
    ])
    extra = [ts_col] if event_time else []
    try:
        sess_parts = int(docs.sparkSession.conf.get(
            'spark.sql.shuffle.partitions'))
    except Exception:
        sess_parts = 200
    # explicit state_buckets wins exactly (the running_user_totals
    # convention — tests pin tiny values to force co-residency); the
    # default derives from session width, floored at the old 4096
    n_groups = (int(state_buckets) if state_buckets
                else max(4096, 64 * sess_parts))
    # Shingle payload compression (r17, guide §2.3): every doc's shingle
    # set crosses the state-store shuffle once PER BAND, and the values
    # are 32-bit hashes carried as longs.  Map them through the bijection
    # v - 2^32·[v ≥ 2^31] into int32 (halves the dominant shuffle bytes
    # AND the pickled state blob) and array_sort ONCE in the JVM — the
    # Python handler previously re-sorted the same doc's set in every
    # band group it landed in.  Intersection sizes (hence every jaccard
    # and every emitted pair) are invariant under a bijection applied to
    # both sides; only the state blob layout changes (not
    # checkpoint-compatible with a pre-r17 drain, like any re-keying).
    sh32 = F.array_sort(F.transform(
        'shingles',
        lambda v: F.when(v >= F.lit(1 << 31), v - F.lit(1 << 32))
                   .otherwise(v).cast('int')))
    banded = sig.select('doc_id', sh32.alias('shingles'), *extra,
                        F.posexplode(band_arr).alias('band_idx', 'band_hash'))
    banded = banded.withColumn(
        '__skey', F.pmod(F.xxhash64('band_idx', 'band_hash'),
                         F.lit(int(n_groups))))
    if event_time:
        banded = banded.withWatermark(ts_col, watermark)

    out_schema = 'doc_a long, doc_b long, jaccard double'
    state_schema = 'blob binary'
    thr = threshold

    def update_fn(key, pdf_iter, state):
        import pickle
        import time as _time

        import numpy as np
        import pandas as pd

        def empty():
            return pd.DataFrame({'doc_a': pd.Series([], dtype='int64'),
                                 'doc_b': pd.Series([], dtype='int64'),
                                 'jaccard': pd.Series([], dtype='float64')})

        def rearm(buckets):
            """Group timer = earliest per-bucket deadline, so each real
            bucket still evicts at ITS retention horizon."""
            if retention_ms is None or not buckets:
                return
            nxt = min(b[2] for b in buckets.values())
            if event_time:
                # timeouts must sit above the watermark or Spark rejects
                state.setTimeoutTimestamp(
                    max(nxt, state.getCurrentWatermarkMs() + 1))
            else:
                state.setTimeoutDuration(
                    max(1, nxt - int(_time.time() * 1000)))

        def sweep(buckets, horizon):
            for bk in [bk for bk, b in buckets.items() if b[2] <= horizon]:
                del buckets[bk]

        # state: {(band_idx, band_hash): [ids, shingle_sets, deadline_ms]}
        buckets = pickle.loads(bytes(state.get[0])) if state.exists else {}
        if state.hasTimedOut:
            horizon = (state.getCurrentWatermarkMs() if event_time
                       else int(_time.time() * 1000))
            sweep(buckets, horizon)
            if buckets:
                state.update((pickle.dumps(buckets, protocol=4),))
                rearm(buckets)
            else:
                state.remove()
            yield empty()
            return
        # data-path sweep (r16 advice): hasTimedOut only fires for groups
        # with NO data in a trigger, so a busy super-bucket would never
        # evict its expired real buckets — late arrivals would verify
        # against members past the retention horizon and could emit
        # pairs the per-bucket design would not.  Sweep BEFORE
        # verification so arrivals only ever meet in-horizon members.
        if retention_ms is not None and buckets:
            sweep(buckets, state.getCurrentWatermarkMs() if event_time
                  else int(_time.time() * 1000))
        new: dict = {}
        new_ts: dict = {}
        for pdf in pdf_iter:
            # one vectorized ns->ms conversion per frame; the hot loop
            # below only does a numpy scalar pickup per row
            ts_arr = (pd.to_datetime(pdf[ts_col]).to_numpy(
                          dtype='datetime64[ns]').astype('int64')
                      // 1_000_000
                      if event_time and len(pdf) else None)
            for i, (bi, bh, d, sh) in enumerate(
                    zip(pdf['band_idx'], pdf['band_hash'],
                        pdf['doc_id'], pdf['shingles'])):
                # arrives as a sorted unique int32 vector (sorted once
                # JVM-side): set-free jaccard via the searchsorted count
                # below, buffer-speed pickling in state
                bk = (int(bi), int(bh))
                new.setdefault(bk, []).append(
                    (int(d), np.asarray(sh, dtype=np.int32)))
                if ts_arr is not None:
                    # per-REAL-bucket newest arrival (r16 advice: the
                    # shared group-wide max extended quiet buckets'
                    # retention past their own horizon)
                    tv = int(ts_arr[i])
                    if tv > new_ts.get(bk, 0):
                        new_ts[bk] = tv
        wm_ms = state.getCurrentWatermarkMs() if event_time else 0
        now_ms = int(_time.time() * 1000)

        def bucket_deadline(bk):
            """Event mode: this bucket's newest arrival vs the watermark
            (the raw-bucket rule); processing mode: wall-clock idle."""
            if retention_ms is None:
                return 0
            if event_time:
                return max(new_ts.get(bk, 0), wm_ms) + retention_ms
            return now_ms + retention_ms

        out_a: list[int] = []
        out_b: list[int] = []
        out_j: list[float] = []
        for bk in sorted(new):
            arrivals = new[bk]
            ids, shs, _ = buckets.get(bk) or ([], [], 0)
            seen = set(ids)
            # deterministic order: arrivals verify by ascending doc id
            for d, sh in sorted(arrivals, key=lambda t: t[0]):
                if d in seen:   # at-least-once redelivery — indexed
                    continue
                for d2, sh2 in zip(ids, shs):
                    # both sides sorted+unique: count matches via one
                    # binary-search pass (intersect1d re-sorts the
                    # concatenation every call)
                    pos = np.searchsorted(sh2, sh)
                    ok = pos < sh2.size
                    inter = int(np.count_nonzero(sh2[pos[ok]] == sh[ok]))
                    union = sh.size + sh2.size - inter
                    jac = (inter / union) if union else 0.0
                    if jac >= thr:
                        a, b = (d, d2) if d < d2 else (d2, d)
                        out_a.append(a)
                        out_b.append(b)
                        out_j.append(jac)
                ids.append(d)
                shs.append(sh)
                seen.add(d)
            buckets[bk] = [ids, shs, bucket_deadline(bk)]
        state.update((pickle.dumps(buckets, protocol=4),))
        rearm(buckets)
        yield pd.DataFrame({'doc_a': pd.Series(out_a, dtype='int64'),
                            'doc_b': pd.Series(out_b, dtype='int64'),
                            'jaccard': pd.Series(out_j, dtype='float64')})

    timeout = (GroupStateTimeout.NoTimeout if retention_ms is None
               else GroupStateTimeout.EventTimeTimeout if event_time
               else GroupStateTimeout.ProcessingTimeTimeout)
    return (banded.groupBy('__skey')
                  .applyInPandasWithState(update_fn, out_schema, state_schema,
                                          'update', timeout))


def stream_quality_filter(docs: DataFrame, text_col: str = 'text',
                          id_col: str = 'doc_id', **kwargs) -> DataFrame:
    """Streaming corpus quality filtering — the streaming face of
    ops.textstats.quality_filter.

    The batch operator is ONE stateless fused projection (every heuristic
    signal is a native expression over the same row), so it applies to a
    stream unchanged: append mode, no state, no watermark — each arriving
    document is decided inside its own micro-batch's scan tasks, and the
    stream's lifetime output equals the batch answer over the same
    documents (the differential oracle).  kwargs pass through to
    quality_filter (min_words, allowed_langs, output='rows', ...); with
    output='rows' this is the streaming ingest filter that admits only
    survivors into a corpus.

    (quality_filter's small-scan repartition guard recognizes streaming
    inputs and passes them through untouched.)
    """
    from rbql_spark.ops.textstats import quality_filter
    return quality_filter(docs, text_col=text_col, id_col=id_col, **kwargs)


def stream_classify(docs: DataFrame, weights: list,
                    text_col: str = 'text', id_col: str = 'doc_id',
                    ngram_max: int = 2, seed: int = 42) -> DataFrame:
    """Streaming quality-classifier scoring — the streaming face of
    ops.classifier.classifier_score.

    Scoring under FROZEN trained weights is per-document pure, so
    classifier_score takes its inline path for a stream (weight-array
    literal + one fold over the row's gram array — zero Exchange):
    append mode, no state, no watermark.  Each arriving document is scored inside
    its own micro-batch's scan tasks and the stream's lifetime output
    equals the batch classifier_score over the same documents (the
    differential oracle), up to the shared 1e-6 rounding grid.

    Train in batch (classifier_train), ship the (dim+1)-float list into
    the long-running scoring job; retraining is a job restart with new
    weights — the stream never feeds back into the model.
    """
    from rbql_spark.ops.classifier import classifier_score
    from rbql_spark.ops.dedup import spread_partitions

    # round-16: spread each micro-batch before scoring — neutral at
    # sf0.1 (3.0 vs 3.2 s warm) but the decisive decade fix: a
    # single-file sf1 batch scored single-task at 15.4 s vs 9.3 s
    # spread (the batch op's own plan stays exchange-free; the stream
    # pays one row shuffle for cores-wide scoring)
    return classifier_score(spread_partitions(docs), weights,
                            text_col=text_col,
                            id_col=id_col, ngram_max=ngram_max, seed=seed)


def stream_c4_line_filter(docs: DataFrame, text_col: str = 'text',
                          id_col: str = 'doc_id', **kwargs) -> DataFrame:
    """Streaming C4 line-level cleaning — the streaming face of
    ops.textstats.c4_line_filter.

    The batch operator is one stateless fused projection per document
    (split → higher-order line filter → re-join; no explode, no
    shuffle), so it applies to a stream unchanged: append mode, no
    state, no watermark, and the stream's lifetime output equals the
    batch answer over the same documents (the differential oracle).
    With output='rows' this is the streaming ingest cleaner that admits
    only the cleaned survivors into a corpus.
    """
    from rbql_spark.ops.textstats import c4_line_filter
    return c4_line_filter(docs, text_col=text_col, id_col=id_col, **kwargs)


def stream_gopher_filter(docs: DataFrame, text_col: str = 'text',
                         id_col: str = 'doc_id', **kwargs) -> DataFrame:
    """Streaming Gopher line-shape quality rules — the streaming face of
    ops.textstats.gopher_quality_filter (same stateless-projection
    argument as stream_c4_line_filter)."""
    from rbql_spark.ops.textstats import gopher_quality_filter
    return gopher_quality_filter(docs, text_col=text_col, id_col=id_col,
                                 **kwargs)
