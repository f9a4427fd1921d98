import os
import shutil

import pytest


@pytest.fixture()
def event_stream_dir(spark, tmp_path, sf_dir):
    """Copy the events table into two parquet files → two micro-batches."""
    src = os.path.join(sf_dir, 'events.parquet')
    out = os.path.join(str(tmp_path), 'stream_src')
    spark.conf.set('spark.sql.legacy.parquet.nanosAsLong', 'true')
    from pyspark.sql import functions as F
    df = spark.read.parquet(src)
    if dict(df.dtypes).get('ts') in ('bigint', 'long'):
        df = df.withColumn('ts', F.timestamp_micros(F.expr('ts div 1000')))
    df.where('event_id % 2 = 0').coalesce(1).write.mode('overwrite').parquet(out)
    df.where('event_id % 2 = 1').coalesce(1).write.mode('append').parquet(out)
    return out


def test_streaming_windowed_counts(spark, event_stream_dir):
    from rbql_spark.streaming.events import (
        read_event_stream, run_stream_to_memory, windowed_counts,
    )
    stream = read_event_stream(spark, event_stream_dir, max_files_per_trigger=1)
    agg = windowed_counts(stream, width='6 hours', watermark='1 hour')
    q = run_stream_to_memory(agg, 'win_counts', output_mode='append')
    try:
        # append mode emits only closed windows; with availableNow the final
        # watermark closes all but the last — at least some rows must appear
        rows = spark.table('win_counts').collect()
        assert len(rows) > 0
        assert {'window_start', 'event_type', 'n_events', 'sum_value'} == set(spark.table('win_counts').columns)
    finally:
        q.stop()


def test_streaming_matches_batch(spark, event_stream_dir):
    """Streaming windowed agg (complete mode) == batch groupBy on same data."""
    from pyspark.sql import functions as F

    from rbql_spark.streaming.events import read_event_stream, run_stream_to_memory
    stream = read_event_stream(spark, event_stream_dir, max_files_per_trigger=1)
    agg = (stream.groupBy('event_type')
           .agg(F.count(F.lit(1)).alias('n'), F.round(F.sum('value'), 4).alias('sv')))
    q = run_stream_to_memory(agg, 'type_counts', output_mode='complete')
    try:
        got = {(r['event_type'], r['n'], r['sv']) for r in spark.table('type_counts').collect()}
        batch = spark.read.parquet(event_stream_dir)
        expected = {(r['event_type'], r['n'], r['sv']) for r in
                    batch.groupBy('event_type')
                    .agg(F.count(F.lit(1)).alias('n'), F.round(F.sum('value'), 4).alias('sv'))
                    .collect()}
        assert got == expected
    finally:
        q.stop()


def test_streaming_stateful_running_totals(spark, event_stream_dir):
    from rbql_spark.streaming.events import read_event_stream, run_stream_to_memory, running_user_totals
    stream = read_event_stream(spark, event_stream_dir, max_files_per_trigger=1)
    totals = running_user_totals(stream)
    q = run_stream_to_memory(totals, 'user_totals', output_mode='update')
    try:
        rows = spark.table('user_totals').collect()
        assert len(rows) > 0
        # after both batches, the LAST update per user equals the batch totals
        from pyspark.sql import functions as F
        batch = spark.read.parquet(event_stream_dir)
        expected = {(r['user_id'], r['n']) for r in
                    batch.groupBy('user_id').agg(F.count(F.lit(1)).alias('n')).collect()}
        final = {}
        for r in rows:
            final[r['user_id']] = max(final.get(r['user_id'], 0), r['n_events'])
        assert {(u, n) for u, n in final.items()} == expected
    finally:
        q.stop()


def test_streaming_exact_dedup_drops_redelivered(spark, tmp_path, sf_dir):
    """At-least-once replay (overlapping files) → dedup recovers the exact
    batch table: every event once, nothing lost, nothing duplicated."""
    import os
    from pyspark.sql import functions as F
    from rbql_spark.streaming.events import (
        read_event_stream, run_stream_to_memory, stream_exact_dedup,
    )
    src = os.path.join(sf_dir, 'events.parquet')
    out = os.path.join(str(tmp_path), 'dedup_src')
    spark.conf.set('spark.sql.legacy.parquet.nanosAsLong', 'true')
    df = spark.read.parquet(src)
    if dict(df.dtypes).get('ts') in ('bigint', 'long'):
        df = df.withColumn('ts', F.timestamp_micros(F.expr('ts div 1000')))
    # middle third delivered twice
    df.where('event_id % 3 != 2').coalesce(1).write.mode('overwrite').parquet(out)
    df.where('event_id % 3 != 0').coalesce(1).write.mode('append').parquet(out)
    stream = read_event_stream(spark, out, max_files_per_trigger=1)
    # redelivery tolerance sized from the DATA SPAN, as the driver gate
    # does: file 2 re-delivers arbitrarily old rows, so a fixed delay
    # would silently drop batch-2 first-deliveries on a long-span table
    lo, hi = df.agg(F.min('ts'), F.max('ts')).first()
    span_days = max(1, (hi - lo).days + 2)
    q = run_stream_to_memory(
        stream_exact_dedup(stream, watermark='{} days'.format(span_days)),
        'dedup_sink', output_mode='append')
    try:
        got = {r['event_id'] for r in spark.table('dedup_sink').collect()}
        want = {r['event_id'] for r in df.collect()}
        assert got == want
        assert spark.table('dedup_sink').count() == len(want)
    finally:
        q.stop()


def test_streaming_minhash_matches_batch(spark, tmp_path):
    """The stateful band index's lifetime pair set == the batch minhash
    pipeline at the same parameters — pairs within one batch, across
    batches, and redelivered docs all handled."""
    from pyspark.sql import functions as F  # noqa: F401
    from rbql_spark.ops.dedup import minhash_dedup_pairs
    from rbql_spark.streaming.documents import (
        read_document_stream, stream_minhash_near_dups,
    )
    from rbql_spark.streaming.events import run_stream_to_memory

    base = ('the quick brown fox jumps over the lazy dog while the cat '
            'sleeps in the warm afternoon sun near the old stone bridge')
    rows = [
        (1, base),
        (2, base),                                               # dup of 1 (same batch)
        (3, base.replace('warm afternoon sun', 'cold night')),   # near dup (other batch)
        (4, 'completely different text about query engines and shuffles '
            'with columnar storage and adaptive execution everywhere'),
        (5, base + ' and then some extra trailing words appended here'),
    ]
    docs = spark.createDataFrame(rows, 'doc_id long, text string')
    out = os.path.join(str(tmp_path), 'doc_stream')
    docs.where('doc_id % 2 = 0').coalesce(1).write.mode('overwrite').parquet(out)
    # doc 2 redelivered in batch 2: must not self-pair or re-emit
    docs.where('doc_id % 2 = 1 or doc_id = 2').coalesce(1) \
        .write.mode('append').parquet(out)

    stream = read_document_stream(spark, out, max_files_per_trigger=1)
    pairs = stream_minhash_near_dups(stream, threshold=0.5)
    q = run_stream_to_memory(pairs, 'mh_sink', output_mode='update')
    try:
        got = {(r['doc_a'], r['doc_b']): r['jaccard']
               for r in spark.table('mh_sink').collect()}
        want = {(r['doc_a'], r['doc_b']): r['jaccard']
                for r in minhash_dedup_pairs(docs, 'text', 'doc_id',
                                             threshold=0.5,
                                             hash_fn='md5').collect()}
        assert got == want and (1, 2) in got
    finally:
        q.stop()


def test_streaming_decontaminate_matches_batch(spark, tmp_path):
    """Stream-static decontamination: final per-key update over the full
    replay == the batch decontaminate answer."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from rbql_spark.ops.dedup import decontaminate
    from rbql_spark.streaming.documents import (
        read_document_stream, stream_decontaminate,
    )
    from rbql_spark.streaming.events import run_stream_to_memory

    base = ('the quick brown fox jumps over the lazy dog while the cat '
            'sleeps in the warm afternoon sun near the old stone bridge')
    rows = [
        (1, base),
        (2, base.replace('warm afternoon sun', 'cold night')),
        (3, 'completely different text about query engines and shuffles '
            'with columnar storage and adaptive execution everywhere'),
        (4, base + ' and then some extra trailing words appended here'),
    ]
    docs = spark.createDataFrame(rows, 'doc_id long, text string')
    bench = spark.createDataFrame([(100, base)], 'doc_id long, text string')
    out = os.path.join(str(tmp_path), 'dec_stream')
    docs.where('doc_id % 2 = 0').coalesce(1).write.mode('overwrite').parquet(out)
    docs.where('doc_id % 2 = 1').coalesce(1).write.mode('append').parquet(out)

    stream = read_document_stream(spark, out, max_files_per_trigger=1)
    flagged = stream_decontaminate(stream, bench, shingle_k=3)
    q = run_stream_to_memory(flagged, 'dec_sink', output_mode='update')
    try:
        w = Window.partitionBy('doc_id', 'bench_id') \
                  .orderBy(F.col('n_overlap').desc())
        got = {(r['doc_id'], r['bench_id']): r['n_overlap']
               for r in spark.table('dec_sink')
                             .withColumn('__rn', F.row_number().over(w))
                             .filter('__rn = 1').collect()}
        want = {(r['doc_id'], r['bench_id']): r['n_overlap']
                for r in decontaminate(docs, bench, min_overlap=1).collect()}
        assert got == want
        assert got[(1, 100)] > got[(2, 100)]   # exact copy beats near dup
        assert (3, 100) not in got             # unrelated doc stays clean
    finally:
        q.stop()


def test_stream_classify_matches_batch(spark, tmp_path, sf_dir):
    # frozen batch-trained weights + the stateless inline fold: the
    # stream's lifetime append output must equal batch classifier_score
    # over the same documents (NULL-text doc emits no row on either side)
    import os

    from pyspark.sql import functions as F

    from rbql_spark.ops.classifier import classifier_score, classifier_train
    from rbql_spark.streaming.documents import (
        read_document_stream, stream_classify,
    )
    from rbql_spark.streaming.events import run_stream_to_memory

    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet')) \
                .unionByName(spark.createDataFrame(
                    [(990002, None, None, 'planted', 0)],
                    'doc_id long, text string, lang string, source string, '
                    'n_chars long'))
    labeled = docs.withColumn(
        'label', F.when(F.col('lang') == 'en', 1).otherwise(0))
    w = classifier_train(labeled, dim=64, n_iter=2)
    out = os.path.join(str(tmp_path), 'clf_stream')
    docs.where('doc_id % 2 = 0').coalesce(1).write.mode('overwrite').parquet(out)
    docs.where('doc_id % 2 = 1').coalesce(1).write.mode('append').parquet(out)

    stream = read_document_stream(spark, out, max_files_per_trigger=1)
    q = run_stream_to_memory(stream_classify(stream, w), 'clf_sink')
    try:
        got = sorted(map(tuple, spark.table('clf_sink').collect()))
        want = sorted(map(tuple,
                          classifier_score(docs, w).collect()))
        assert got == want
        assert all(r[0] != 990002 for r in got)
    finally:
        q.stop()


def test_streaming_quality_filter_matches_batch(spark, tmp_path, sf_dir):
    # stateless fused projection: the stream's lifetime append output must
    # equal the batch quality_filter over the same documents — NULL text
    # and output='rows' included
    import os

    from rbql_spark.ops.textstats import quality_filter
    from rbql_spark.streaming.documents import (
        read_document_stream, stream_quality_filter,
    )
    from rbql_spark.streaming.events import run_stream_to_memory

    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet')) \
                .unionByName(spark.createDataFrame(
                    [(990001, None, None, 'planted', 0)],
                    'doc_id long, text string, lang string, source string, '
                    'n_chars long'))
    out = os.path.join(str(tmp_path), 'qf_stream')
    docs.where('doc_id % 2 = 0').coalesce(1).write.mode('overwrite').parquet(out)
    docs.where('doc_id % 2 = 1').coalesce(1).write.mode('append').parquet(out)

    stream = read_document_stream(spark, out, max_files_per_trigger=1)
    q = run_stream_to_memory(
        stream_quality_filter(stream, min_words=10), 'qf_sink')
    try:
        got = sorted(map(tuple, spark.table('qf_sink')
                         .select('doc_id', 'keep', 'reasons').collect()))
        want = sorted(map(tuple,
                          quality_filter(docs, min_words=10).collect()))
        assert got == want and len(got) == docs.count()
    finally:
        q.stop()

    # rows mode streams survivors with their original columns
    q2 = run_stream_to_memory(
        stream_quality_filter(stream, min_words=10, output='rows'),
        'qf_rows_sink')
    try:
        got_ids = {r['doc_id'] for r in spark.table('qf_rows_sink').collect()}
        want_ids = {r['doc_id'] for r in quality_filter(
            docs, min_words=10, output='rows').collect()}
        assert got_ids == want_ids and 990001 not in got_ids
    finally:
        q2.stop()


def test_stream_asof_enrich_equals_batch_asof(spark, sf_dir, tmp_path):
    # stream-static enrichment must equal the batch as-of join row-for-row
    # (matches depend only on the static marker table)
    import os as _os

    from pyspark.sql import functions as F

    from rbql_spark.ops.timejoin import asof_join
    from rbql_spark.streaming.events import (
        read_event_stream, run_stream_to_memory, stream_asof_enrich,
    )
    ev = spark.read.parquet(_os.path.join(sf_dir, 'events.parquet')) \
        .select('user_id', 'ts', 'event_id', 'value')
    markers = (ev.filter(F.col('event_id') % 19 == 0)
                 .groupBy('user_id', 'ts')
                 .agg(F.max('value').alias('mval')))

    replay = str(tmp_path / 'asof_replay')
    ev.filter('event_id % 2 = 0').coalesce(1) \
      .write.mode('overwrite').parquet(replay)
    ev.filter('event_id % 2 = 1').coalesce(1) \
      .write.mode('append').parquet(replay)
    stream = read_event_stream(spark, replay, max_files_per_trigger=1)
    enriched = stream_asof_enrich(
        stream.select('user_id', 'ts', 'event_id', 'value'), markers)
    sq = run_stream_to_memory(enriched, 'asof_eq_test', output_mode='append')
    sq.stop()

    got = sorted(map(tuple, spark.table('asof_eq_test')
                     .select('user_id', 'ts', 'event_id', 'value',
                             'mval_r', 'ts_r').collect()))
    want = sorted(map(tuple, asof_join(ev, markers)
                      .select('user_id', 'ts', 'event_id', 'value',
                              'mval_r', 'ts_r').collect()))
    assert got == want and len(got) == ev.count()
    # unmatched rows surface with NULL payloads, not dropped
    assert any(r[4] is None for r in got) or all(r[4] is not None for r in got)


def test_stream_asof_enrich_null_markers_dropped(spark, tmp_path):
    from datetime import datetime as dt

    from rbql_spark.streaming.events import (
        read_event_stream, run_stream_to_memory, stream_asof_enrich,
    )
    ev_rows = [(1, dt(2024, 1, 1, 10), 100, 1.0, 'view', 'p')]
    evb = spark.createDataFrame(
        ev_rows, 'user_id long, ts timestamp, event_id long, value double, '
                 'event_type string, props string')
    # reorder to the EVENT_SCHEMA column order for the file stream
    evb = evb.select('event_id', 'ts', 'user_id', 'event_type', 'value',
                     'props')
    replay = str(tmp_path / 'nullmark_replay')
    evb.coalesce(1).write.mode('overwrite').parquet(replay)
    markers = spark.createDataFrame(
        [(None, dt(2024, 1, 1, 9), 1.0), (1, None, 2.0),
         (1, dt(2024, 1, 1, 9, 30), 3.0)],
        'user_id long, ts timestamp, mval double')
    stream = read_event_stream(spark, replay)
    out = stream_asof_enrich(
        stream.select('user_id', 'ts', 'event_id', 'value'), markers)
    sq = run_stream_to_memory(out, 'nullmark_test', output_mode='append')
    sq.stop()
    rows = spark.table('nullmark_test').collect()
    assert len(rows) == 1
    # only the valid marker participates
    assert rows[0]['mval_r'] == 3.0


def test_stream_asof_enrich_nat_event_ts(spark, tmp_path):
    # round-9 review regression: a NULL event timestamp used to wrap via
    # int64 overflow and phantom-match the key's NEWEST marker
    from datetime import datetime as dt

    from rbql_spark.streaming.events import (
        read_event_stream, run_stream_to_memory, stream_asof_enrich,
    )
    evb = spark.createDataFrame(
        [(100, dt(2024, 1, 1, 13), 1, 'view', 1.0, 'p'),
         (101, None, 1, 'view', 2.0, 'p')],
        'event_id long, ts timestamp, user_id long, event_type string, '
        'value double, props string')
    replay = str(tmp_path / 'nat_replay')
    evb.coalesce(1).write.mode('overwrite').parquet(replay)
    markers = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 10), 5.0), (1, dt(2024, 1, 1, 12), 7.0)],
        'user_id long, ts timestamp, mval double')
    stream = read_event_stream(spark, replay)
    out = stream_asof_enrich(
        stream.select('user_id', 'ts', 'event_id', 'value'), markers)
    sq = run_stream_to_memory(out, 'nat_test', output_mode='append')
    sq.stop()
    got = {r['event_id']: r['mval_r']
           for r in spark.table('nat_test').collect()}
    assert got[100] == 7.0
    assert got[101] is None


def test_stream_asof_enrich_marker_size_guard(spark, tmp_path):
    """round-14: the marker collect is guarded — an oversized marker table
    raises a clear error pointing at the batch asof_join instead of
    OOMing the driver (the ops.dedup broadcast_max_rows pattern)."""
    from datetime import datetime as dt

    import pytest

    from rbql_spark.streaming.events import (
        read_event_stream, stream_asof_enrich,
    )
    evb = spark.createDataFrame(
        [(100, dt(2024, 1, 1, 13), 1, 'view', 1.0, 'p')],
        'event_id long, ts timestamp, user_id long, event_type string, '
        'value double, props string')
    replay = str(tmp_path / 'guard_replay')
    evb.coalesce(1).write.mode('overwrite').parquet(replay)
    markers = spark.createDataFrame(
        [(i, dt(2024, 1, 1, 10), float(i)) for i in range(5)],
        'user_id long, ts timestamp, mval double')
    stream = read_event_stream(spark, replay)
    with pytest.raises(ValueError, match='broadcast_max_rows.*asof_join'):
        stream_asof_enrich(stream.select('user_id', 'ts', 'event_id'),
                           markers, broadcast_max_rows=3)
    # at exactly the threshold the build proceeds (guard is strict >)
    out = stream_asof_enrich(stream.select('user_id', 'ts', 'event_id'),
                             markers, broadcast_max_rows=5)
    assert 'mval_r' in out.columns


def test_running_totals_event_time_eviction(spark, tmp_path):
    """round-11: state_retention bounds running_user_totals state by
    event-time eviction — a user idle past retention has their counters
    dropped and restarts from zero on reappearance; retention=None keeps
    the old lifetime totals."""
    from datetime import datetime

    from rbql_spark.streaming.events import (
        read_event_stream, run_stream_to_memory, running_user_totals,
    )

    def ev(eid, ts, uid):
        return (eid, datetime.fromisoformat(ts), uid, 'click', 1.0, '{}')

    schema = ('event_id long, ts timestamp, user_id long, '
              'event_type string, value double, props string')
    batches = [
        [ev(1, '2024-01-01T00:00:00', 1), ev(2, '2024-01-01T00:00:00', 2)],
        [ev(3, '2024-01-10T00:00:00', 2)],   # watermark jumps past user 1's
        [ev(4, '2024-01-11T00:00:00', 2)],   # timeout → user 1 evicts here
        [ev(5, '2024-01-12T00:00:00', 1)],   # user 1 reappears: restart at 0
    ]
    out = os.path.join(str(tmp_path), 'evict_src')
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1) \
            .write.mode('append').parquet(out)

    def final_counts(retention, sink):
        stream = read_event_stream(spark, out, max_files_per_trigger=1)
        totals = running_user_totals(stream, watermark='1 minute',
                                     state_retention=retention)
        q = run_stream_to_memory(totals, sink, output_mode='update')
        try:
            final = {}
            for r in spark.table(sink).collect():
                final[r['user_id']] = max(final.get(r['user_id'], 0),
                                          r['n_events'])
            return final
        finally:
            q.stop()

    # NOTE: file-source batch order is not guaranteed to match write order,
    # but all four event times are distinct and only relative watermark
    # motion matters: whichever order the files land, user 1 is idle from
    # Jan 1 until Jan 12 while the watermark crosses Jan 2 (= Jan 1 + 1 day)
    bounded = final_counts('1 day', 'evict_bounded')
    assert bounded[2] == 3
    assert bounded[1] == 1          # restarted after eviction, not 2
    unbounded = final_counts(None, 'evict_unbounded')
    assert unbounded == {1: 2, 2: 3}


def test_stream_minhash_event_time_eviction(spark, tmp_path):
    """round-11: with a document event-time column, state_retention bounds
    the streaming LSH index by event-time eviction (replay-safe under
    availableNow) — a near-dup arriving after its partner's buckets
    expired goes unmatched (the documented trade); retention=None keeps
    the lifetime index."""
    from datetime import datetime

    from rbql_spark.streaming.documents import (
        read_document_stream, stream_minhash_near_dups,
    )
    from rbql_spark.streaming.events import run_stream_to_memory

    base = ('the quick brown fox jumps over the lazy dog while the cat '
            'sleeps in the warm afternoon sun near the old stone bridge')
    schema = 'doc_id long, ts timestamp, text string'

    def doc(did, ts, text):
        return (did, datetime.fromisoformat(ts), text)

    batches = [
        [doc(1, '2024-01-01T00:00:00', base)],
        # unrelated docs push the watermark past doc 1's timeout (Jan 2)
        [doc(50, '2024-01-10T00:00:00',
             'zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo')],
        [doc(51, '2024-01-11T00:00:00',
             'mmm nnn lll kkk jjj iii hhh ggg fff eee ddd ccc')],
        # near-dup of doc 1, arriving after the eviction horizon
        [doc(2, '2024-01-12T00:00:00',
             base.replace('warm afternoon sun', 'cold night'))],
    ]
    out = os.path.join(str(tmp_path), 'evict_docs')
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1) \
            .write.mode('append').parquet(out)

    def pair_set(retention, sink):
        stream = read_document_stream(spark, out, max_files_per_trigger=1)
        pairs = stream_minhash_near_dups(stream, threshold=0.5,
                                         state_retention=retention,
                                         ts_col='ts', watermark='1 minute')
        q = run_stream_to_memory(pairs, sink, output_mode='update')
        try:
            return {(r['doc_a'], r['doc_b'])
                    for r in spark.table(sink).collect()}
        finally:
            q.stop()

    assert pair_set('1 day', 'mh_evict') == set()
    assert (1, 2) in pair_set(None, 'mh_keep')


def test_stream_minhash_timeout_mode_selection(spark, tmp_path):
    """Retention without an event-time column falls back to
    processing-time timers (continuous-trigger forever-runs only — the
    docstring documents that availableNow replays must use ts_col);
    defaults keep the NoTimeout lifetime index."""
    from rbql_spark.streaming.documents import (
        read_document_stream, stream_minhash_near_dups,
    )
    out = os.path.join(str(tmp_path), 'mode_docs')
    spark.createDataFrame([(1, 'alpha beta gamma delta epsilon zeta')],
                          'doc_id long, text string') \
        .coalesce(1).write.mode('overwrite').parquet(out)
    stream = read_document_stream(spark, out, max_files_per_trigger=1)
    # the three modes all build a valid streaming plan
    for kw in [dict(), dict(state_retention='1 hour'),
               dict(state_retention='1 hour', ts_col=None)]:
        df = stream_minhash_near_dups(stream, threshold=0.5, **kw)
        assert df.isStreaming


def test_stream_decontaminate_event_time_bounded_matches_batch(spark, tmp_path):
    """round-11: ts_col adds a watermarked event-time window to the
    (doc, bench) aggregation key so state evicts behind the watermark;
    per-key final counts still equal the batch decontaminate answer."""
    from datetime import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from rbql_spark.ops.dedup import decontaminate
    from rbql_spark.streaming.documents import (
        read_document_stream, stream_decontaminate,
    )
    from rbql_spark.streaming.events import run_stream_to_memory

    base = ('the quick brown fox jumps over the lazy dog while the cat '
            'sleeps in the warm afternoon sun near the old stone bridge')
    rows = [
        (1, datetime.fromisoformat('2024-01-01T00:00:00'), base),
        (2, datetime.fromisoformat('2024-01-05T00:00:00'),
         base.replace('warm afternoon sun', 'cold night')),
        (3, datetime.fromisoformat('2024-01-09T00:00:00'),
         'completely different text about query engines and shuffles '
         'with columnar storage and adaptive execution everywhere'),
    ]
    docs = spark.createDataFrame(rows, 'doc_id long, ts timestamp, text string')
    bench = spark.createDataFrame([(100, base)], 'doc_id long, text string')
    out = os.path.join(str(tmp_path), 'dec_ts_stream')
    docs.where('doc_id % 2 = 1').coalesce(1).write.mode('overwrite').parquet(out)
    docs.where('doc_id % 2 = 0').coalesce(1).write.mode('append').parquet(out)

    stream = read_document_stream(spark, out, max_files_per_trigger=1)
    flagged = stream_decontaminate(stream, bench, shingle_k=3, ts_col='ts',
                                   watermark='1 minute', state_retention='1 day')
    assert set(flagged.schema.names) == {'doc_id', 'bench_id', 'n_overlap'}
    q = run_stream_to_memory(flagged, 'dec_ts_sink', output_mode='update')
    try:
        w = Window.partitionBy('doc_id', 'bench_id') \
                  .orderBy(F.col('n_overlap').desc())
        got = {(r['doc_id'], r['bench_id']): r['n_overlap']
               for r in spark.table('dec_ts_sink')
                             .withColumn('__rn', F.row_number().over(w))
                             .filter('__rn = 1').collect()}
        want = {(r['doc_id'], r['bench_id']): r['n_overlap']
                for r in decontaminate(docs.drop('ts'), bench,
                                       min_overlap=1).collect()}
        assert got == want and (1, 100) in got
    finally:
        q.stop()


def test_stream_decontaminate_bloom_matches_batch(spark, tmp_path):
    """round-11: the streaming bloom variant's last update per doc equals
    batch decontaminate_bloom at min_hits=1, in both lifetime and
    event-time-bounded modes."""
    from datetime import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from rbql_spark.ops.dedup import decontaminate_bloom
    from rbql_spark.streaming.documents import (
        read_document_stream, stream_decontaminate_bloom,
    )
    from rbql_spark.streaming.events import run_stream_to_memory

    base = ('the quick brown fox jumps over the lazy dog while the cat '
            'sleeps in the warm afternoon sun near the old stone bridge')
    rows = [
        (1, datetime.fromisoformat('2024-01-01T00:00:00'), base),
        (2, datetime.fromisoformat('2024-01-05T00:00:00'),
         base.replace('warm afternoon sun', 'cold night')),
        (3, datetime.fromisoformat('2024-01-09T00:00:00'),
         'completely different text about query engines and shuffles '
         'with columnar storage and adaptive execution everywhere'),
    ]
    docs = spark.createDataFrame(rows, 'doc_id long, ts timestamp, text string')
    bench = spark.createDataFrame([(100, base)], 'doc_id long, text string')
    out = os.path.join(str(tmp_path), 'decbloom_stream')
    docs.where('doc_id % 2 = 1').coalesce(1).write.mode('overwrite').parquet(out)
    docs.where('doc_id % 2 = 0').coalesce(1).write.mode('append').parquet(out)

    want = {(r['doc_id'], r['n_flagged_shingles'])
            for r in decontaminate_bloom(docs.drop('ts'), bench,
                                         bloom_bits=1 << 16).collect()}
    assert want and {d for d, _ in want} == {1, 2}

    for sink, kw in [('decbloom_life', {}),
                     ('decbloom_ts', dict(ts_col='ts', watermark='1 minute',
                                          state_retention='1 day'))]:
        stream = read_document_stream(spark, out, max_files_per_trigger=1)
        flagged = stream_decontaminate_bloom(stream, bench,
                                             bloom_bits=1 << 16, **kw)
        assert flagged.isStreaming
        assert set(flagged.schema.names) == {'doc_id', 'n_flagged_shingles'}
        q = run_stream_to_memory(flagged, sink, output_mode='update')
        try:
            w = Window.partitionBy('doc_id') \
                      .orderBy(F.col('n_flagged_shingles').desc())
            got = {(r['doc_id'], r['n_flagged_shingles'])
                   for r in spark.table(sink)
                                 .withColumn('__rn', F.row_number().over(w))
                                 .filter('__rn = 1').collect()}
            assert got == want, (sink, got, want)
        finally:
            q.stop()


def test_stateful_ops_under_rocksdb_state_store(spark, event_stream_dir):
    """The stateful streaming ops must produce IDENTICAL results under the
    RocksDB state-store provider — the configuration a long-running
    deployment needs (the default HDFS-backed provider keeps every
    version of state on the executor HEAP; RocksDB keeps it off-heap on
    local disk, which is what bounds memory when the band index /
    per-user state grows at 100x — see SCALING.md)."""
    from pyspark.sql import functions as F

    from rbql_spark.streaming.events import (
        read_event_stream, run_stream_to_memory, running_user_totals,
        stream_exact_dedup,
    )

    def drain(name):
        stream = read_event_stream(spark, event_stream_dir,
                                   max_files_per_trigger=1)
        totals = running_user_totals(stream)  # applyInPandasWithState
        q = run_stream_to_memory(totals, name, output_mode='update')
        q.stop()
        w_rows = {}
        for r in spark.table(name).collect():
            u = r['user_id']
            if u not in w_rows or r['n_events'] > w_rows[u][1]:
                w_rows[u] = (u, r['n_events'], round(r['total_value'], 6))
        stream2 = read_event_stream(spark, event_stream_dir,
                                    max_files_per_trigger=1)
        dd = stream_exact_dedup(stream2)  # dropDuplicates state
        q2 = run_stream_to_memory(dd.groupBy('user_id')
                                  .agg(F.count(F.lit(1)).alias('n')),
                                  name + '_dd', output_mode='complete')
        q2.stop()
        dd_rows = {(r['user_id'], r['n'])
                   for r in spark.table(name + '_dd').collect()}
        return set(w_rows.values()), dd_rows

    provider_key = 'spark.sql.streaming.stateStore.providerClass'
    rocksdb = ('org.apache.spark.sql.execution.streaming.state.'
               'RocksDBStateStoreProvider')
    prev = spark.conf.get(provider_key, None)
    baseline = drain('rocks_base')
    try:
        spark.conf.set(provider_key, rocksdb)
        under_rocksdb = drain('rocks_rdb')
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
    assert under_rocksdb == baseline
    assert len(baseline[0]) > 0 and len(baseline[1]) > 0


def test_stateful_checkpoint_recovery_across_restart(spark, tmp_path, sf_dir):
    """Operational-scale contract: a stateful streaming query stopped and
    RESTARTED from its checkpoint must resume exactly-once — the dedup
    state survives the restart, so a duplicate delivered after the
    restart is still dropped.  This is the recovery path a 100x ingest
    job relies on (executor loss, deploy, crash): state lives in the
    checkpoint, not the process."""
    import os

    from pyspark.sql import functions as F

    from rbql_spark.streaming.events import (
        EVENT_SCHEMA, stream_exact_dedup,
    )

    src = os.path.join(str(tmp_path), 'src')
    sink = os.path.join(str(tmp_path), 'sink')
    ckpt = os.path.join(str(tmp_path), 'ckpt')
    events = spark.read.parquet(os.path.join(sf_dir, 'events.parquet'))
    if dict(events.dtypes).get('ts') in ('bigint', 'long'):
        events = events.withColumn(
            'ts', F.timestamp_micros(F.expr('ts div 1000')))
    events = events.select([f.name for f in EVENT_SCHEMA.fields])
    first = events.where('event_id % 3 = 0')
    # second delivery OVERLAPS the first (event_id % 6 == 0 rows re-sent)
    second = events.where('event_id % 3 = 1 OR event_id % 6 = 0')

    def drain_once():
        stream = (spark.readStream.schema(EVENT_SCHEMA)
                  .option('maxFilesPerTrigger', 1).parquet(src))
        q = (stream_exact_dedup(stream).writeStream
             .format('parquet').option('path', sink)
             .option('checkpointLocation', ckpt)
             .outputMode('append').trigger(availableNow=True).start())
        assert q.awaitTermination(300)
        q.stop()

    first.coalesce(1).write.mode('overwrite').parquet(src)
    drain_once()            # run 1: processes `first`, then STOPS
    n_first = spark.read.parquet(sink).count()
    assert n_first == first.count()

    second.coalesce(1).write.mode('append').parquet(src)
    drain_once()            # run 2: a NEW query resumes from the checkpoint
    out = spark.read.parquet(sink)
    # exactly-once across the restart: the re-delivered %6==0 rows were
    # already in the recovered state and must NOT appear twice
    assert out.count() == out.select('event_id', 'ts').distinct().count()
    expected = first.unionByName(second).dropDuplicates(['event_id', 'ts'])
    assert out.count() == expected.count()
    got_ids = {r['event_id'] for r in out.select('event_id').collect()}
    want_ids = {r['event_id'] for r in expected.select('event_id').collect()}
    assert got_ids == want_ids


def test_stream_curation_filters_match_batch(spark, tmp_path, sf_dir):
    """The C4/Gopher streaming faces are stateless projections: lifetime
    stream output must equal the batch operator over the same docs."""
    import os

    from pyspark.sql import functions as F

    from rbql_spark.ops.textstats import (
        c4_line_filter, gopher_quality_filter,
    )
    from rbql_spark.streaming.documents import (
        read_document_stream, stream_c4_line_filter, stream_gopher_filter,
    )
    from rbql_spark.streaming.events import run_stream_to_memory

    docs = (spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
            .select('doc_id',
                    F.regexp_replace('text', ' (table|row) ', '.\n')
                     .alias('text'))
            .limit(200))
    src = os.path.join(str(tmp_path), 'docs_src')
    docs.where('doc_id % 2 = 0').coalesce(1) \
        .write.mode('overwrite').parquet(src)
    docs.where('doc_id % 2 = 1').coalesce(1) \
        .write.mode('append').parquet(src)
    stored = spark.read.parquet(src)

    for face, batch_op, qn in [
        (stream_c4_line_filter, c4_line_filter, 'cur_c4'),
        (stream_gopher_filter, gopher_quality_filter, 'cur_gopher'),
    ]:
        stream = read_document_stream(spark, src, max_files_per_trigger=1)
        stream = stream.select('doc_id', 'text')
        sq = run_stream_to_memory(face(stream), qn, output_mode='append')
        sq.stop()
        got = sorted(map(tuple, spark.table(qn).collect()))
        want = sorted(map(tuple,
                          batch_op(stored.select('doc_id', 'text'))
                          .collect()))
        assert got == want, qn
        assert len(got) == 200, qn


def test_user_totals_busy_bucket_sweeps_idle_user(spark, tmp_path):
    """r17 (r16 advice, high): hasTimedOut only fires for groups with NO
    data in a trigger, so a super-bucket kept busy by one user must still
    evict its OTHER users once the watermark passes their retention
    deadline — the data path sweeps them; a swept user returning later
    restarts from zero instead of resuming stale totals."""
    from datetime import datetime

    from rbql_spark.streaming.events import (
        read_event_stream, run_stream_to_memory, running_user_totals,
    )

    def ev(eid, ts, uid):
        return (eid, datetime.fromisoformat(ts), uid, 'click', 1.0, '{}')

    schema = ('event_id long, ts timestamp, user_id long, '
              'event_type string, value double, props string')
    batches = [
        [ev(1, '2024-01-01T00:00:00', 1), ev(2, '2024-01-01T00:00:00', 2)],
        [ev(3, '2024-01-10T00:00:00', 2)],  # wm -> Dec 31 23:59 (no sweep)
        [ev(4, '2024-01-11T00:00:00', 2)],  # wm -> Jan 9 23:59: user 1's
        #   deadline (Jan 2) has passed but the bucket is BUSY — only the
        #   data-path sweep can drop user 1 here
        [ev(5, '2024-01-12T00:00:00', 1)],  # user 1 returns: restart at 1
    ]
    out = os.path.join(str(tmp_path), 'busy_evict_src')
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1) \
            .write.mode('append').parquet(out)

    stream = read_event_stream(spark, out, max_files_per_trigger=1)
    # state_buckets=1: EVERY user shares the one super-bucket, so the
    # bucket has data in every trigger and hasTimedOut never fires
    totals = running_user_totals(stream, watermark='1 minute',
                                 state_retention='1 day', state_buckets=1)
    q = run_stream_to_memory(totals, 'busy_evict', output_mode='update')
    try:
        final = {}
        for r in spark.table('busy_evict').collect():
            final[r['user_id']] = max(final.get(r['user_id'], 0),
                                      r['n_events'])
    finally:
        q.stop()
    assert final[2] == 3
    assert final[1] == 1   # swept by the busy bucket's data path, restarted


def test_minhash_per_bucket_retention_in_busy_super_bucket(spark, tmp_path):
    """r17 (r16 advice, medium + verdict #7): with every band bucket
    co-resident in ONE super-bucket that receives data every trigger,
    (a) an expired bucket's members are swept in the data path BEFORE
    verification (a late near-dup of an expired doc emits no pair),
    (b) each bucket's deadline anchors on its OWN newest arrival — a
    quiet bucket evicts at its own horizon even when a same-batch
    sibling carried a newer timestamp — and (c) an in-horizon
    co-resident bucket still matches."""
    from datetime import datetime

    from rbql_spark.streaming.documents import (
        read_document_stream, stream_minhash_near_dups,
    )
    from rbql_spark.streaming.events import run_stream_to_memory

    text_a = ('the quick brown fox jumps over the lazy dog while the cat '
              'sleeps in the warm afternoon sun near the old stone bridge')
    text_b = ('red green blue yellow purple orange cyan magenta lime '
              'teal navy maroon olive silver gold bronze copper iron')
    text_c = ('alpha beta gamma delta epsilon zeta eta theta iota kappa '
              'lam mu nu xi omicron pi rho sigma tau upsilon phi chi')
    text_d = ('one two three four five six seven eight nine ten eleven '
              'twelve thirteen fourteen fifteen sixteen seventeen agendas')
    schema = 'doc_id long, ts timestamp, text string'

    def doc(did, ts, text):
        return (did, datetime.fromisoformat(ts), text)

    batches = [
        # B1 <- doc 1; deadline Jan 2
        [doc(1, '2024-01-01T00:00:00', text_a)],
        # one batch, two buckets, DIFFERENT event times: B gets Jan 3
        # 12:00 (deadline Jan 4 12:00), C gets Jan 3 00:00 — C's own
        # horizon is Jan 4 00:00; the old group-shared anchor would
        # have stretched it to Jan 4 12:00
        [doc(50, '2024-01-03T12:00:00', text_b),
         doc(53, '2024-01-03T00:00:00', text_c)],
        # unrelated traffic keeps the super-bucket busy; wm -> Jan 3
        # 11:59 which passes B1's deadline — only the data-path sweep
        # can evict doc 1 (the group has data every trigger)
        [doc(51, '2024-01-04T06:00:00', text_d)],
        # near-dup of doc 1 arriving after doc 1's horizon: NO pair
        [doc(2, '2024-01-04T08:00:00',
             text_a.replace('warm afternoon sun', 'cold night'))],
        # near-dup of doc 53: wm is Jan 4 07:59 — past C's OWN deadline
        # (Jan 4 00:00) but before the old shared one (Jan 4 12:00), so
        # per-bucket anchoring means NO pair
        [doc(54, '2024-01-04T09:00:00',
             text_c.replace('iota kappa', 'kappa iota'))],
        # near-dup of doc 50: B's deadline (Jan 4 12:00) is still ahead
        # of wm (Jan 4 08:59) — the co-resident bucket matches
        [doc(52, '2024-01-04T10:00:00',
             text_b.replace('silver gold', 'platinum gold'))],
    ]
    out = os.path.join(str(tmp_path), 'mh_busy_evict')
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1) \
            .write.mode('append').parquet(out)

    stream = read_document_stream(spark, out, max_files_per_trigger=1)
    pairs = stream_minhash_near_dups(stream, threshold=0.5,
                                     state_retention='1 day',
                                     ts_col='ts', watermark='1 minute',
                                     state_buckets=1)
    q = run_stream_to_memory(pairs, 'mh_busy_evict', output_mode='update')
    try:
        got = {(r['doc_a'], r['doc_b'])
               for r in spark.table('mh_busy_evict').collect()}
    finally:
        q.stop()
    assert (1, 2) not in got      # swept before verification
    assert (53, 54) not in got    # per-bucket deadline, not group max
    assert (50, 52) in got        # in-horizon co-resident still matches
