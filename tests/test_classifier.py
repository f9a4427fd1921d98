"""Hashed-feature logistic-regression quality classifier
(ops/classifier.py) — round-11 addition to the training-data superset."""
import math

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope='module')
def labeled(spark):
    """Two clearly separated vocabularies with 0/1 labels: after a few
    GD rounds the 'good' docs must score above the 'bad' ones."""
    good = ['the careful study presents rigorous evidence and analysis',
            'results were replicated across independent laboratory trials',
            'the theorem follows from the lemma by induction',
            'peer review confirmed the methodology and conclusions']
    bad = ['click here buy now free prize winner claim',
           'cheap deals cheap deals click click buy buy',
           'winner winner free free prize claim now now',
           'buy cheap click free now prize deals winner']
    rows = [(i, t, 1) for i, t in enumerate(good)] + \
           [(10 + i, t, 0) for i, t in enumerate(bad)]
    return spark.createDataFrame(rows, 'doc_id long, text string, label int')


def test_classifier_separates_classes(spark, labeled):
    from rbql_spark.ops.classifier import classifier_score, classifier_train
    w = classifier_train(labeled, dim=512, n_iter=5, lr=2.0)
    assert len(w) == 513
    probs = {r['doc_id']: r['prob']
             for r in classifier_score(labeled, w, dim_check=512).collect()}
    good_min = min(probs[i] for i in range(4))
    bad_max = max(probs[i] for i in range(10, 14))
    assert good_min > bad_max, probs


def test_classifier_weights_on_round6_grid(spark, labeled):
    from rbql_spark.ops.classifier import classifier_train
    w = classifier_train(labeled, dim=64, n_iter=2)
    assert any(wj != 0.0 for wj in w)
    for wj in w:
        assert wj == round(wj, 6)


def test_classifier_score_schema_and_grid(spark, labeled):
    from rbql_spark.ops.classifier import classifier_score, classifier_train
    w = classifier_train(labeled, dim=64, n_iter=1)
    out = classifier_score(labeled, w)
    assert out.columns == ['doc_id', 'n_features', 'logit', 'prob']
    for r in out.collect():
        assert r['logit'] == round(r['logit'], 6)
        assert r['prob'] == round(r['prob'], 6)
        assert abs(r['prob'] - 1.0 / (1.0 + math.exp(-r['logit']))) < 1e-6


def test_classifier_tokenless_docs_emit_no_row(spark):
    from rbql_spark.ops.classifier import classifier_score, classifier_train
    df = spark.createDataFrame(
        [(1, 'alpha beta', 1), (2, '', 0), (3, None, 1), (4, 'beta beta', 0)],
        'doc_id long, text string, label int')
    w = classifier_train(df, dim=32, n_iter=1)
    got = {r['doc_id']: r['n_features']
           for r in classifier_score(df, w).collect()}
    # alpha beta -> 2 unigrams + 1 bigram; beta beta likewise
    assert got == {1: 3, 4: 3}


def test_classifier_first_round_matches_closed_form(spark):
    """Round 1 starts from w = 0, so z = 0, residual = 0.5 - y and the
    update is w_j = round6(-lr * sum((0.5 - y) x_j) / n_docs) — checked
    exactly against a hand computation on a 2-doc corpus."""
    from rbql_spark.ops.classifier import classifier_train
    from rbql_spark.ops.dsir import _bucket
    df = spark.createDataFrame(
        [(1, 'aa bb', 1), (2, 'aa aa', 0)],
        'doc_id long, text string, label int')
    dim, lr = 16, 1.0
    w = classifier_train(df, dim=dim, n_iter=1, lr=lr)
    b = {r['g']: r['b'] for r in spark.createDataFrame(
        [('aa',), ('bb',), ('aa bb',), ('aa aa',)], 'g string')
        .select('g', _bucket(F.col('g'), dim, 42).alias('b')).collect()}
    # doc 1 (y=1): grams aa, bb, 'aa bb' each x=1/3; doc 2 (y=0): aa x=2/3,
    # 'aa aa' x=1/3; intercept x=1 on both
    grad = {j: 0.0 for j in range(dim + 1)}
    for bucket, x in [(b['aa'], 1 / 3), (b['bb'], 1 / 3),
                      (b['aa bb'], 1 / 3), (dim, 1.0)]:
        grad[bucket] += -0.5 * x
    for bucket, x in [(b['aa'], 2 / 3), (b['aa aa'], 1 / 3), (dim, 1.0)]:
        grad[bucket] += 0.5 * x
    for j in range(dim + 1):
        exp = -lr * grad[j] / 2.0
        exp = math.floor(abs(exp) * 1e6 + 0.5) / 1e6 * (1 if exp >= 0 else -1)
        assert w[j] == pytest.approx(exp, abs=1e-12), j


def test_classifier_validation_errors(spark, labeled):
    from rbql_spark.ops.classifier import classifier_score, classifier_train
    with pytest.raises(ValueError, match='n_iter'):
        classifier_train(labeled, n_iter=0)
    with pytest.raises(ValueError, match='weights'):
        classifier_score(labeled, [0.5])
    with pytest.raises(ValueError, match='dim mismatch'):
        classifier_score(labeled, [0.0] * 65, dim_check=128)
    empty = spark.createDataFrame([(1, '', 1)],
                                  'doc_id long, text string, label int')
    with pytest.raises(ValueError, match='no documents'):
        classifier_train(empty, dim=16)


def test_classifier_score_native_plan(spark, labeled):
    """Scoring is pure Catalyst: no Python evaluation and no ordering
    exchange; the only corpus-side shuffle is the per-doc partial/final
    aggregation."""
    from rbql_spark.ops.classifier import classifier_score
    out = classifier_score(labeled, [0.001] * 65)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert 'BatchEvalPython' not in plan and 'mapInPandas' not in plan
    assert 'rangepartitioning' not in plan.lower()


def test_classifier_score_impls_agree(spark, labeled):
    """Batch scoring (broadcast table + per-doc agg) and the inline path
    streams take (_score_inline: weight-array literal + per-row fold)
    share the round-12 CANONICAL summation —
    ascending-bucket term fold, intercept last, floor rounding — so they
    are BIT-identical, not merely equal after rounding (the earlier
    per-occurrence inline sum could flip a half-grid last digit against
    the join path's float order)."""
    import struct

    from rbql_spark.ops.classifier import (
        _score_inline, classifier_score, classifier_train,
    )
    w = classifier_train(labeled, dim=64, n_iter=2, lr=2.0)

    def bits(x):
        return struct.pack('<d', x)

    a = {r['doc_id']: (r['n_features'], bits(r['logit']), bits(r['prob']))
         for r in classifier_score(labeled, w).collect()}
    b = {r['doc_id']: (r['n_features'], bits(r['logit']), bits(r['prob']))
         for r in _score_inline(labeled, w, 'text', 'doc_id', 2, 42,
                                len(w) - 1).collect()}
    assert a == b


def test_classifier_inline_plan_no_exchange(spark, labeled):
    """The inline path is a pure projection: stateless, zero Exchange —
    the property that makes it streaming-safe."""
    from rbql_spark.ops.classifier import _score_inline
    out = _score_inline(labeled, [0.001] * 65, 'text', 'doc_id', 2, 42, 64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert 'Exchange' not in plan
    assert 'BatchEvalPython' not in plan and 'mapInPandas' not in plan


def test_classifier_inline_tokenless_docs(spark):
    from rbql_spark.ops.classifier import _score_inline
    df = spark.createDataFrame(
        [(1, 'alpha beta'), (2, ''), (3, None)], 'doc_id long, text string')
    got = {r['doc_id'] for r in
           _score_inline(df, [0.1] * 33, 'text', 'doc_id', 2, 42,
                         32).collect()}
    assert got == {1}


def test_classifier_pr_curve_hand_computed(spark):
    from rbql_spark.ops.classifier import classifier_pr_curve
    df = spark.createDataFrame(
        [(0.9, 1), (0.9, 1), (0.7, 0), (0.5, 1), (0.3, 0)],
        'prob double, label int')
    out = {r['threshold']: r for r in classifier_pr_curve(df).collect()}
    assert set(out) == {0.9, 0.7, 0.5, 0.3}
    r9 = out[0.9]
    assert (r9['n_ge'], r9['n_pos_ge']) == (2, 2)
    assert r9['precision'] == 1.0 and r9['recall'] == round(2 / 3, 6)
    assert r9['f1'] == round(2 * 1.0 * (2 / 3) / (1.0 + 2 / 3), 6)
    r5 = out[0.5]
    assert (r5['n_ge'], r5['n_pos_ge']) == (4, 3)
    assert r5['precision'] == 0.75 and r5['recall'] == 1.0
    r3 = out[0.3]
    assert r3['precision'] == round(3 / 5, 6) and r3['recall'] == 1.0


def test_classifier_pr_curve_degenerate_labels(spark):
    # all-negative corpus: recall and f1 fall back to 0.0, no
    # divide-by-zero under ANSI mode
    from rbql_spark.ops.classifier import classifier_pr_curve
    df = spark.createDataFrame([(0.8, 0), (0.2, 0)], 'prob double, label int')
    for r in classifier_pr_curve(df).collect():
        assert r['recall'] == 0.0 and r['f1'] == 0.0
        assert r['precision'] == 0.0


def test_classifier_train_unpersists(spark, labeled):
    from rbql_spark.ops.classifier import classifier_train
    sc = spark.sparkContext
    before = len([r for r in sc._jsc.getPersistentRDDs().items()])
    classifier_train(labeled, dim=32, n_iter=1)
    after = len([r for r in sc._jsc.getPersistentRDDs().items()])
    assert after == before


def test_features_in_row_edge_docs(spark):
    """Round-13 in-row feature extraction: tokenless (empty/whitespace/
    NULL text) docs emit no rows; per-doc x sums to exactly 1.0 over the
    real buckets and the intercept pair carries x = 1.0 exactly."""
    from pyspark.sql import functions as F
    from rbql_spark.ops.classifier import _features
    df = spark.createDataFrame(
        [(1, 'hello world hello'), (2, ''), (3, '   '), (4, None),
         (5, 'one')],
        'doc_id long, text string').withColumn(
        'label', (F.col('doc_id') % 2 == 0).cast('int'))
    rows = _features(df, 'text', 'doc_id', 16, 2, 42,
                     label=F.col('label')).collect()
    assert sorted({r['doc_id'] for r in rows}) == [1, 5]
    for did in (1, 5):
        rs = [r for r in rows if r['doc_id'] == did]
        assert sum(r['x'] for r in rs if r['bucket'] != 16) == 1.0
        assert [r['x'] for r in rs if r['bucket'] == 16] == [1.0]
