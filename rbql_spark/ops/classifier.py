"""Hashed-feature quality classifier: distributed logistic regression
over the DSIR n-gram bucket space.

The fastText-style quality classifier of the published LLM-pipeline
recipes (GPT-3 App. A "high-quality" LR filter; CCNet, arXiv:1911.00359)
re-expressed as Spark aggregations:

  * classifier_train — full-batch gradient descent on logistic loss over
    hashed unigram+bigram count features (length-normalized, plus an
    always-on intercept bucket).  Each round is one job over a persisted
    slim feature triple; only the (dim+1)-row gradient ever reaches the
    driver.
  * classifier_score — score any corpus under the trained weights: one
    broadcast join + one partial/final sum per doc.

Determinism contract (the kmeans_cluster convention, ops/cluster.py):
per-doc logits and the updated weights are rounded half-away-from-zero
to 6 places every round, so the whole fit is a pure function of the
data that the DuckDB differential oracle replays round-for-round; the
float-order error of the unrounded gradient sums sits far below the
1e-6 grid (the lm_score argument).

Scale shape: the feature triple (doc_id, y, bucket, x) is persisted
hash-partitioned on doc_id ONCE; each round's logit aggregation and
gradient join reuse that partitioning (no per-round corpus shuffle) and
the per-bucket gradient collapses map-side to ≤ partitions × (dim+1)
partial rows before the one small exchange.  The weight table is dim+1
rows — a fixed parameter, like IVF's n_cells — broadcast into both the
training rounds and the scoring join, so the corpus never shuffles to
be scored.

Reference parity note: the reference engine (mechatroner/RBQL) has no
model-training surface; this module is part of the LLM-training-data
superset alongside ops/dsir.py and ops/cluster.py.
"""
from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import spread_partitions
from .dsir import _bucket, _hashed_grams
from .similarity import _round6_np

__all__ = ['classifier_train', 'classifier_score', 'classifier_pr_curve']


def _features(df: DataFrame, text_col: str, id_col: str, dim: int,
              ngram_max: int, seed: int,
              label: Column | None = None) -> DataFrame:
    """Length-normalized hashed-n-gram features → (doc_id[, y], bucket,
    x, n_features): per-doc bucket counts divided by the doc's total
    gram occurrences, PLUS one intercept row per doc (bucket = dim,
    x = 1.0).  Documents whose text yields no tokens emit no rows (the
    DSIR convention).  n_features = total gram occurrences (intercept
    excluded) — an exact integer ratio, so x is bit-identical in any
    IEEE engine.

    Scale shape (round 13): per-doc bucket counts are computed IN-ROW —
    sorted bucket ids → run-length (bucket, count) pairs via flat
    let_once-bound transforms (the _score_inline machinery) — then the
    pairs explode already aggregated.  The old shape exploded one row
    per gram OCCURRENCE and shuffled the corpus twice (explode→groupBy,
    then a per-doc window for n_features) before the trainer's own
    co-location repartition; this one reaches that repartition with
    ZERO prior shuffles, so train/score pay ONE corpus shuffle total
    (and the scoring path, which never repartitions, pays none before
    its per-doc aggregation).  The intercept rides as one extra pair
    (bucket=dim, c=n): x = n/n = 1.0 exactly in IEEE.  Counts and
    totals are the same integers as before, so x is bit-identical; only
    the ROW ORDER of the feature triple changes, which sits below the
    round-6 1e-6 training grid like every other summation-order detail
    (see classifier_train's determinism contract).
    """
    from .dedup import let_once
    carry = [] if label is None else ['y']

    def pairs(ga: Column) -> Column:
        n = F.size(ga)

        def with_bs(bs: Column) -> Column:
            idx = F.sequence(F.lit(0), n - 1)
            run_starts = F.filter(
                idx, lambda i: (i == 0)
                | (F.element_at(bs, i + 1) != F.element_at(bs, i)))

            def with_starts(starts: Column) -> Column:
                k = F.size(starts)
                return F.transform(
                    starts,
                    lambda s, j: F.struct(
                        F.element_at(bs, s + 1).alias('bucket'),
                        (F.when(j == k - 1, n)
                          .otherwise(F.element_at(starts, j + 2)) - s)
                        .cast('long').alias('c')))

            return let_once(run_starts, with_starts)

        bcs = let_once(
            F.array_sort(F.transform(ga, lambda g: _bucket(g, dim, seed))),
            with_bs)
        full = F.concat(bcs, F.array(F.struct(
            F.lit(int(dim)).cast('long').alias('bucket'),
            n.cast('long').alias('c'))))
        # n == 0 → null: explode() drops the document entirely
        return F.when(n > 0, F.struct(n.cast('long').alias('n'),
                                      full.alias('p')))

    base = spread_partitions(df).select(
        F.col(id_col).alias('doc_id'),
        *([] if label is None else [label.cast('double').alias('y')]),
        let_once(_hashed_grams(F.col(text_col), ngram_max),
                 pairs).alias('__fp'))
    return (base.select('doc_id', *carry,
                        F.col('__fp.n').alias('n_features'),
                        F.explode(F.col('__fp.p')).alias('__bc'))
                .select('doc_id', *carry,
                        F.col('__bc.bucket').alias('bucket'),
                        (F.col('__bc.c') / F.col('n_features')).alias('x'),
                        'n_features'))


def _weights_df(spark, weights: list[float]) -> DataFrame:
    return spark.createDataFrame(
        [(j, float(wj)) for j, wj in enumerate(weights)],
        'bucket long, __w double')


def classifier_train(labeled: DataFrame, label_col: str = 'label',
                     text_col: str = 'text', id_col: str = 'doc_id',
                     dim: int = 4096, ngram_max: int = 2, seed: int = 42,
                     n_iter: int = 3, lr: float = 1.0) -> list[float]:
    """Fit the logistic-regression quality model → a (dim+1)-length
    weight list (index dim is the intercept), every entry on the 1e-6
    grid.

    `label_col` must be 0/1-valued (castable to double).  Each of the
    `n_iter` full-batch rounds runs all-JVM: logits via a broadcast join
    with the current weights, per-doc aggregation reusing the cache
    partitioning, residuals joined back on doc_id, then a
    map-side-combined per-bucket gradient whose exchange carries
    ≤ partitions × (dim+1) rows.  The update
    w ← round6(w − lr·(grad / n_docs)) happens driver-side on dim+1
    numbers.

    Persists the slim feature triple for the duration of the call and
    unpersists before returning (the kmeans_cluster cache contract).
    The cache is hash-partitioned on doc_id at an EXPLICIT
    advisor-derived count (round 16; the advisor keeps per-task bytes
    constant at scale) and carries only the four training columns.
    n_docs rides out of round 1's gradient collect as the intercept
    bucket's doc count, so there is no separate up-front count job.
    """
    if int(n_iter) < 1:
        raise ValueError('n_iter must be >= 1')
    feats = _features(labeled, text_col, id_col, dim, ngram_max, seed,
                      label=F.col(label_col))
    from pyspark.storagelevel import StorageLevel

    from rbql_spark.tuning import advise_shuffle_partitions, leaf_bytes
    n_parts = advise_shuffle_partitions(labeled.sparkSession,
                                        leaf_bytes(labeled), expansion=2.0)
    feats = (feats.select('doc_id', 'y', 'bucket', 'x')
                  .repartition(n_parts, 'doc_id')
                  .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        n_docs = 0
        w = [0.0] * (int(dim) + 1)
        for _ in range(int(n_iter)):
            wdf = _weights_df(labeled.sparkSession, w)
            docg = (feats.join(F.broadcast(wdf), 'bucket')
                         .groupBy('doc_id')
                         .agg(F.first('y').alias('y'),
                              F.round(F.sum(F.col('__w') * F.col('x')),
                                      6).alias('__z'))
                         .select('doc_id',
                                 (F.lit(1.0) / (F.lit(1.0)
                                                + F.exp(-F.col('__z')))
                                  - F.col('y')).alias('__g')))
            grad = (feats.join(docg, 'doc_id')
                         .groupBy('bucket')
                         .agg(F.sum(F.col('__g') * F.col('x'))
                               .alias('__grad'),
                              F.count(F.lit(1)).alias('__cnt'))
                         .collect())
            if not n_docs:
                n_docs = sum(int(r['__cnt']) for r in grad
                             if int(r['bucket']) == int(dim))
                if n_docs == 0:
                    raise ValueError(
                        'classifier_train: no documents with features')
            gd = {int(r['bucket']): float(r['__grad']) for r in grad}
            w = [float(_round6_np(w[j] - float(lr) * (gd.get(j, 0.0)
                                                      / float(n_docs))))
                 for j in range(int(dim) + 1)]
    finally:
        feats.unpersist()
    return w


def classifier_score(corpus: DataFrame, weights: list[float],
                     text_col: str = 'text', id_col: str = 'doc_id',
                     ngram_max: int = 2, seed: int = 42,
                     dim_check: int | None = None) -> DataFrame:
    """Score a corpus under trained weights → (doc_id, n_features,
    logit, prob), logit and prob rounded to 6.  `weights` is the
    classifier_train output; its length fixes dim (= len − 1).

    A batch corpus takes one scan — explode grams → bucket →
    broadcast-join the (dim+1)-row weight table → one partial/final sum
    per doc.  The corpus never shuffles (the dsir_log_weights shape).

    A streaming corpus (`corpus.isStreaming`) cannot run that per-doc
    aggregation on an unwatermarked append stream, so it takes
    _score_inline: the weights inline as an array literal and the logit
    folds per ROW with NO Exchange at all (a pure projection, the IVF
    inline-centroid precedent) — stateless, append mode, no watermark
    (streaming.documents.stream_classify).

    Both paths compute the CANONICAL summation (round-12): terms
    w_b·(c_b/n) folded left in ascending-bucket order, intercept last,
    then floor-rounded (floor(x·1e6 + 0.5)/1e6 — the flesch trick: the
    same IEEE ops in any engine).  Earlier the inline path summed
    per-OCCURRENCE ((Σ w)/n) while the join path let the aggregation
    order float — exact rationals on the 1e-6 grid CAN land on half-grid
    points, where a different summation order (or Spark's decimal-string
    HALF_UP round vs another engine's binary round) flips the last
    digit.  With a shared term list, fold order, and rounding scheme the
    two paths are bit-identical, and any engine replaying the same
    ordered fold (e.g. DuckDB's sum(x ORDER BY bucket)) matches them.
    (Residual cross-engine risk: exp() in the sigmoid may differ by one
    ulp between libms — inherent to prob, not to the logit.)

    Documents with no tokens emit no row.  Output is UNORDERED;
    rank/filter downstream (e.g. `.where(F.col('prob') >= 0.5)` as the
    keep gate, or feed dsir_sample-style Gumbel selection).
    """
    dim = len(weights) - 1
    if dim < 1:
        raise ValueError('weights must have >= 2 entries (dim + intercept)')
    if dim_check is not None and dim != int(dim_check):
        raise ValueError('classifier_score: dim mismatch — weights imply '
                         'dim={} but dim_check={} (train and score must '
                         'share dim/ngram_max/seed)'.format(dim, dim_check))
    if corpus.isStreaming:
        return _score_inline(corpus, list(weights), text_col, id_col,
                             ngram_max, seed, dim)
    feats = _features(corpus, text_col, id_col, dim, ngram_max, seed)
    wdf = _weights_df(corpus.sparkSession, list(weights))
    # canonical summation: collect the per-bucket terms, sort by bucket
    # (buckets are unique per doc; the intercept bucket = dim sorts
    # last), fold left.  collect_list still partial-aggregates map-side
    # and is bounded by dim+1 rows per doc.
    terms = (feats.join(F.broadcast(wdf), 'bucket')
                  .groupBy('doc_id')
                  .agg(F.first('n_features').alias('n_features'),
                       F.array_sort(F.collect_list(F.struct(
                           F.col('bucket').alias('b'),
                           (F.col('__w') * F.col('x')).alias('wx'))))
                        .alias('__t')))
    z = terms.select(
        'doc_id', 'n_features',
        _floor6(F.aggregate(F.col('__t'), F.lit(0.0),
                            lambda acc, t: acc + t['wx'])).alias('logit'))
    return z.select('doc_id', 'n_features', 'logit',
                    _floor6(F.lit(1.0) / (F.lit(1.0)
                                          + F.exp(-F.col('logit'))))
                     .alias('prob'))


def _floor6(col: Column) -> Column:
    """floor(x·1e6 + 0.5)/1e6 — boundary-stable 6-place rounding: the
    same IEEE op sequence in any engine (the flesch precedent), unlike
    F.round's decimal-string HALF_UP.  Ties round toward +inf."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def _score_inline(corpus: DataFrame, weights: list[float], text_col: str,
                  id_col: str, ngram_max: int, seed: int,
                  dim: int) -> DataFrame:
    """Stateless per-row scoring: gram hashing stays JVM-side (native
    HOF transforms), the canonical run-length FOLD runs as an Arrow
    pandas_udf kernel — zero Exchange, streaming-safe, and bit-identical
    to the join path (same canonical per-bucket terms, fold order, and
    rounding; see classifier_score).

    Round 14: the fold moved from interpreted Catalyst HOF lambdas
    (array_sort + struct-state F.aggregate — Catalyst does not codegen
    lambda bodies, the NOTES_r13 A/B subject) into numpy: sort the
    bucket ids, run-length the sorted runs, then accumulate
    w_b·(c_b/n) sequentially in ascending-bucket order with a plain
    float64 loop — the EXACT IEEE op sequence the HOF fold executed, so
    logits are bit-identical (A/B-verified at sf0.1: byte-equal logit/
    prob arrays, 2.7 s → 1.8 s per drain)."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf
    wnp = np.asarray([float(w) for w in weights[:dim]], dtype=np.float64)
    intercept = float(weights[dim])

    @pandas_udf('double')
    def _fold(buckets: pd.Series) -> pd.Series:
        out = np.empty(len(buckets), dtype=np.float64)
        for i, arr in enumerate(buckets):
            b = np.sort(np.asarray(arr, dtype=np.int64))
            n = b.size
            if n == 0:
                out[i] = np.nan  # filtered upstream (n_features > 0)
                continue
            change = np.nonzero(np.diff(b))[0]
            starts = np.concatenate(([0], change + 1))
            counts = np.diff(np.concatenate((starts, [n]))).astype(np.float64)
            nd = float(n)
            wb = wnp[b[starts]]
            # sequential left fold — NOT np.sum (pairwise) — to
            # reproduce the canonical summation order bit-exactly
            acc = 0.0
            for j in range(starts.size):
                acc += wb[j] * (counts[j] / nd)
            out[i] = acc + intercept
        return pd.Series(out)

    grams = _hashed_grams(F.col(text_col), ngram_max)
    buckets = F.transform(grams, lambda g: _bucket(g, dim, seed).cast('int'))
    base = (corpus.select(F.col(id_col).alias('doc_id'), buckets.alias('__b'))
                  .select('doc_id',
                          F.size('__b').cast('long').alias('n_features'),
                          F.col('__b'))
                  .where(F.col('n_features') > 0)
                  .select('doc_id', 'n_features',
                          _floor6(_fold(F.col('__b'))).alias('logit')))
    return base.select('doc_id', 'n_features', 'logit',
                       _floor6(F.lit(1.0) / (F.lit(1.0)
                                             + F.exp(-F.col('logit'))))
                        .alias('prob'))


def classifier_pr_curve(df: DataFrame, score_col: str = 'prob',
                        label_col: str = 'label') -> DataFrame:
    """Threshold-sweep evaluation of a scored corpus → one row per
    DISTINCT score value t: (threshold, n_ge, n_pos_ge, precision,
    recall, f1) for the classifier that keeps rows with score ≥ t.
    Ratios round to 6; every input is an exact integer count, so both
    engines compute bit-identical doubles — no float-order argument
    needed.  Output is UNORDERED.

    The calibration step between classifier_score and the keep gate:
    pick the threshold whose precision/recall trade-off fits the
    pipeline, then filter `.where(F.col('prob') >= t)`.

    Scale shape: one partial/final aggregation collapses the corpus to
    its distinct scores, which for round-6 probabilities is ≤ 1e6+1
    rows NO MATTER the corpus size (the grid, not the data, bounds it)
    — so the cumulative window's single-task stage is constant-bounded,
    the sample_shuffle offsets-window argument.  The label column must
    be 0/1-valued.
    """
    slim = df.select(F.col(score_col).alias('threshold'),
                     F.col(label_col).cast('long').alias('__y'))
    per = (slim.groupBy('threshold')
               .agg(F.count(F.lit(1)).alias('__n'),
                    F.sum('__y').alias('__np')))
    w = Window.orderBy(F.col('threshold').desc()) \
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = per.agg(F.sum('__np').alias('__tp'))
    cum = (per.withColumn('n_ge', F.sum('__n').over(w))
              .withColumn('n_pos_ge', F.sum('__np').over(w))
              .crossJoin(F.broadcast(tot)))
    p = F.col('n_pos_ge') / F.col('n_ge')
    r = F.when(F.col('__tp') > 0, F.col('n_pos_ge') / F.col('__tp')) \
         .otherwise(F.lit(0.0))
    f1 = F.when(p + r > 0, F.lit(2.0) * p * r / (p + r)) \
          .otherwise(F.lit(0.0))
    return cum.select('threshold', 'n_ge', 'n_pos_ge',
                      F.round(p, 6).alias('precision'),
                      F.round(r, 6).alias('recall'),
                      F.round(f1, 6).alias('f1'))
