"""DSIR importance resampling (ops/dsir.py) and bloom decontamination
(ops/dedup.decontaminate_bloom) — round-11 additions to the
training-data superset."""
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope='module')
def corpora(spark):
    """A raw corpus with two clearly separated vocabularies and a target
    drawn from one of them: 'science' docs must out-weigh 'sports'."""
    sci = ['the electron orbits the nucleus in quantum theory',
           'relativity curves spacetime near every large mass',
           'the genome encodes proteins through messenger rna',
           'entropy increases in every isolated physical system']
    spo = ['the striker scored a late goal in the final',
           'the coach praised the defense after the match',
           'fans cheered as the team lifted the trophy',
           'the referee booked two players for rough tackles']
    raw = spark.createDataFrame(
        [(i, t) for i, t in enumerate(sci + spo)], 'doc_id long, text string')
    target = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(sci)], 'doc_id long, text string')
    return raw, target


def test_dsir_weights_separate_domains(spark, corpora):
    from rbql_spark.ops.dsir import dsir_log_weights
    raw, target = corpora
    w = {r['doc_id']: r['log_weight']
         for r in dsir_log_weights(raw, target, dim=512).collect()}
    assert set(w) == set(range(8))
    sci_min = min(w[i] for i in range(4))
    spo_max = max(w[i] for i in range(4, 8))
    assert sci_min > spo_max, w


def test_dsir_weights_feature_count_and_empty(spark):
    from rbql_spark.ops.dsir import dsir_log_weights
    raw = spark.createDataFrame(
        [(1, 'alpha beta gamma'), (2, ''), (3, None), (4, 'solo')],
        'doc_id long, text string')
    w = {r['doc_id']: r['n_features']
         for r in dsir_log_weights(raw, raw, dim=64).collect()}
    # 3 unigrams + 2 bigrams; tokenless docs emit no row; 1-token doc has
    # its unigram only
    assert w == {1: 5, 4: 1}
    uni = {r['doc_id']: r['n_features']
           for r in dsir_log_weights(raw, raw, dim=64, ngram_max=1).collect()}
    assert uni == {1: 3, 4: 1}


def test_dsir_weights_native_plan(spark, corpora):
    from rbql_spark.ops.dsir import dsir_log_weights
    raw, target = corpora
    plan = dsir_log_weights(raw, target, dim=128) \
        ._jdf.queryExecution().executedPlan().toString()
    assert 'BatchEvalPython' not in plan and 'mapInPandas' not in plan
    assert 'BroadcastHashJoin' in plan  # model joins the gram stream broadcast


def test_dsir_sample_exact_topk(spark, corpora):
    from rbql_spark.ops.dsir import dsir_log_weights, dsir_sample
    raw, target = corpora
    w = dsir_log_weights(raw, target, dim=512)
    sel = dsir_sample(raw, target, n_select=3, dim=512).collect()
    assert len(sel) == 3
    scores = [r['gumbel_score'] for r in sel]
    assert scores == sorted(scores, reverse=True)
    # precomputed-weights path returns the identical selection
    sel2 = dsir_sample(raw, target, n_select=3, dim=512, weights=w).collect()
    assert [tuple(r) for r in sel] == [tuple(r) for r in sel2]


def test_dsir_sample_threshold_path(spark, corpora):
    from rbql_spark.ops.dsir import dsir_log_weights, dsir_sample
    raw, target = corpora
    w = dsir_log_weights(raw, target, dim=512)
    got = dsir_sample(raw, target, n_select=3, dim=512, weights=w,
                      exact_max_n=0).collect()
    assert 3 <= len(got) <= 8
    # threshold semantics: the result is exactly every scored doc at or
    # above the selected cut — no score above the cut is missing
    from rbql_spark.ops.dsir import _gumbel
    allsc = {r['doc_id']: r['g'] for r in w.select(
        'doc_id', F.round(F.col('log_weight')
                          + _gumbel(F.col('doc_id'), 42), 6).alias('g'))
        .collect()}
    cut = min(r['gumbel_score'] for r in got)
    assert {r['doc_id'] for r in got} == \
        {d for d, g in allsc.items() if g >= cut}
    spark.catalog.clearCache()


def test_bloom_decontaminate_impls_agree(spark, sf_dir):
    # the batch hash-join path against the bitmap kernel pair the stream
    # (stream_decontaminate_bloom) runs, on the same shingles
    from rbql_spark.ops.dedup import (
        _bloom_member_flags, _bloom_pack_bitmap, _bloom_positions,
        decontaminate_bloom, word_shingles_md5,
    )
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    bench = docs.filter(F.col('doc_id') % 50 == 0).select('doc_id', 'text')
    nat = {tuple(r) for r in decontaminate_bloom(
        docs, bench, bloom_bits=1 << 16).collect()}
    sh = word_shingles_md5(F.col('text'), k=3)
    bits = (bench.select(F.explode(sh).alias('sh'))
                 .select(F.explode(_bloom_positions(
                     F.col('sh'), 3, 1 << 16, 42)).alias('pos'))
                 .distinct())
    flags = _bloom_member_flags(
        docs.select('doc_id', F.explode(sh).alias('sh')),
        _bloom_pack_bitmap(spark, bits, 1 << 16), 3, 1 << 16, 42)
    bit = {tuple(r) for r in flags.groupBy('doc_id')
           .agg(F.sum('flag').cast('long').alias('n'))
           .where(F.col('n') >= 1).collect()}
    assert nat == bit and nat


def test_bloom_decontaminate_superset_and_saturation(spark):
    from rbql_spark.ops.dedup import decontaminate, decontaminate_bloom
    docs = spark.createDataFrame(
        [(1, 'alpha beta gamma delta epsilon zeta'),
         (2, 'totally unrelated words nowhere near benchmark text'),
         (3, 'alpha beta gamma delta overlapping prefix here')],
        'doc_id long, text string')
    bench = spark.createDataFrame(
        [(10, 'alpha beta gamma delta epsilon zeta')],
        'doc_id long, text string')
    exact = {r['doc_id'] for r in decontaminate(docs, bench).collect()}
    roomy = {r['doc_id'] for r in decontaminate_bloom(
        docs, bench, bloom_bits=1 << 20).collect()}
    assert exact == {1, 3}
    # a roomy filter has no false positives on this tiny shingle set
    assert roomy == exact
    # a saturated 16-bit filter flags even the disjoint doc — bloom's
    # documented false-positive direction
    tiny = {r['doc_id'] for r in decontaminate_bloom(
        docs, bench, bloom_bits=16).collect()}
    assert tiny == {1, 2, 3}


def test_bloom_decontaminate_min_hits(spark):
    from rbql_spark.ops.dedup import decontaminate_bloom
    docs = spark.createDataFrame(
        [(1, 'alpha beta gamma delta epsilon zeta'),
         (2, 'alpha beta gamma unrelated tail words here')],
        'doc_id long, text string')
    bench = docs.filter(F.col('doc_id') == 1).select('doc_id', 'text')
    hits = {r['doc_id']: r['n_flagged_shingles']
            for r in decontaminate_bloom(docs, bench,
                                         bloom_bits=1 << 20).collect()}
    assert hits[1] == 4 and hits[2] == 1  # doc2 shares one 3-shingle
    strict = {r['doc_id'] for r in decontaminate_bloom(
        docs, bench, bloom_bits=1 << 20, min_hits=2).collect()}
    assert strict == {1}


def test_bloom_decontaminate_native_plan(spark, sf_dir):
    from rbql_spark.ops.dedup import decontaminate_bloom
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    bench = docs.filter(F.col('doc_id') % 50 == 0).select('doc_id', 'text')
    plan = decontaminate_bloom(docs, bench, bloom_bits=1 << 16) \
        ._jdf.queryExecution().executedPlan().toString()
    assert 'BatchEvalPython' not in plan and 'mapInPandas' not in plan
    assert 'BroadcastHashJoin' in plan  # set-bit table broadcast, not corpus
    assert 'rangepartitioning' not in plan  # unordered output


def test_domain_classify_separates(spark, corpora):
    from rbql_spark.ops.dsir import domain_classify
    raw, target = corpora  # raw = 4 science + 4 sports docs
    sci = raw.filter(F.col('doc_id') < 4)
    spo = raw.filter(F.col('doc_id') >= 4)
    out = domain_classify(raw, {'science': sci, 'sports': spo}, dim=512)
    preds = {r['doc_id']: r['domain_pred'] for r in out.collect()}
    assert all(preds[i] == 'science' for i in range(4))
    assert all(preds[i] == 'sports' for i in range(4, 8))
    cols = out.columns
    assert cols == ['doc_id', 'domain_pred', 'n_features',
                    'score_science', 'score_sports']


def test_domain_classify_tie_break_order(spark):
    from rbql_spark.ops.dsir import domain_classify
    raw = spark.createDataFrame([(1, 'alpha beta')], 'doc_id long, text string')
    same = spark.createDataFrame([(9, 'alpha beta')], 'doc_id long, text string')
    # identical exemplar corpora → identical scores; the FIRST declared
    # domain must win the tie, whatever its name sorts like
    out1 = domain_classify(raw, {'zzz': same, 'aaa': same}, dim=64).collect()
    assert out1[0]['domain_pred'] == 'zzz'
    assert out1[0]['score_zzz'] == out1[0]['score_aaa']
    out2 = domain_classify(raw, {'aaa': same, 'zzz': same}, dim=64).collect()
    assert out2[0]['domain_pred'] == 'aaa'
    with pytest.raises(ValueError, match='non-empty'):
        domain_classify(raw, {})


def test_domain_classify_native_single_domain(spark, corpora):
    from rbql_spark.ops.dsir import domain_classify
    raw, target = corpora
    out = domain_classify(raw, {'only': target}, dim=128)
    assert {r['domain_pred'] for r in out.collect()} == {'only'}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert 'BatchEvalPython' not in plan and 'mapInPandas' not in plan


def test_dsir_weights_tokenless_target_uniform_model(spark):
    # review fix: an all-tokenless target must degrade to the uniform
    # smoothed model (coalesced totals), never NULL weights
    from rbql_spark.ops.dsir import dsir_log_weights
    raw = spark.createDataFrame(
        [(1, 'alpha beta gamma'), (2, 'delta epsilon')],
        'doc_id long, text string')
    empty_target = spark.createDataFrame(
        [(9, ''), (10, None)], 'doc_id long, text string')
    rows = dsir_log_weights(raw, empty_target, dim=64).collect()
    assert len(rows) == 2
    assert all(r['log_weight'] is not None for r in rows)


def test_bloom_decontaminate_duplicate_rows_still_flag(spark):
    # review fix: a duplicated train row must not UNFLAG a contaminated
    # doc on the native path (salt-index counting, not count(*) == k)
    from rbql_spark.ops.dedup import decontaminate_bloom
    docs = spark.createDataFrame(
        [(1, 'alpha beta gamma delta epsilon zeta'),
         (1, 'alpha beta gamma delta epsilon zeta'),
         (2, 'unrelated words entirely different text here')],
        'doc_id long, text string')
    bench = spark.createDataFrame(
        [(10, 'alpha beta gamma delta epsilon zeta')],
        'doc_id long, text string')
    flagged = {r['doc_id']: r['n_flagged_shingles']
               for r in decontaminate_bloom(docs, bench,
                                            bloom_bits=1 << 20).collect()}
    assert flagged == {1: 4}  # per distinct shingle, duplicates collapsed


def test_mix_corpora_zero_token_source_error(spark):
    from rbql_spark.ops.sampling import mix_corpora
    a = spark.createDataFrame([(1, 'some words here')],
                              'doc_id long, text string')
    b = spark.createDataFrame([(2, ''), (3, None)],
                              'doc_id long, text string')
    with pytest.raises(ValueError, match='token mass'):
        mix_corpora([a, b], [0.5, 0.5], by='tokens')
