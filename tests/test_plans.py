"""Physical-plan audits: the properties that make queries scale must not
silently regress — predicate pushdown to the parquet scan, column pruning,
broadcast of dimension joins, JVM-native expressions (no Python stages for
translatable queries)."""

import os

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString() + '\n' + \
        df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope='module')
def entry(sf_dir):
    import __spark_entry__ as entrymod
    return entrymod


def test_where_pushdown_reaches_scan(spark, sf_dir, entry):
    df = entry.queries()['rbql_select_where'](spark, sf_dir)
    plan = _plan(df)
    assert 'PushedFilters: [' in plan
    assert 'GreaterThan(l_quantity,30.0)' in plan


def test_column_pruning(spark, sf_dir, entry):
    df = entry.queries()['rbql_select_where'](spark, sf_dir)
    plan = _plan(df)
    # ReadSchema must not include unreferenced wide columns
    assert 'l_shipdate' not in plan.split('ReadSchema')[1][:400]


def test_no_python_stage_for_native_queries(spark, sf_dir, entry):
    q = entry.queries()
    for name in ['rbql_select_where', 'rbql_group_agg', 'rbql_inner_join',
                 'rbql_select_top_order', 'rbql_ternary_expr', 'rbql_string_ops']:
        plan = _plan(q[name](spark, sf_dir))
        assert 'BatchEvalPython' not in plan and 'MapInPandas' not in plan \
            and 'ArrowEvalPython' not in plan, \
            '{} unexpectedly fell back to Python:\n{}'.format(name, plan[:800])


def test_dimension_join_broadcasts(spark, sf_dir, entry):
    plan = _plan(entry.queries()['rbql_inner_join'](spark, sf_dir))
    assert 'BroadcastHashJoin' in plan or 'BroadcastExchange' in plan


def test_top_order_uses_take_ordered(spark, sf_dir, entry):
    plan = _plan(entry.queries()['rbql_select_top_order'](spark, sf_dir))
    assert 'TakeOrderedAndProject' in plan


def test_js_dialect_native_and_pushdown(spark, sf_dir, entry):
    """The JS front-end must not cost the Spark plan anything: the three
    JS gates translate fully natively (zero Arrow evaluator stages) and
    the rbql_js_filter_order WHERE reaches the parquet scan as pushed
    conjuncts (jsdialect/native.py's literal fast path)."""
    q = entry.queries()
    for name in ['rbql_js_filter_order', 'rbql_js_group_agg', 'rbql_js_string_ops']:
        fn = q[name]
        plan = _plan(fn(spark, sf_dir))
        assert 'BatchEvalPython' not in plan and 'MapInPandas' not in plan \
            and 'ArrowEvalPython' not in plan, \
            '{} unexpectedly fell back to Python:\n{}'.format(name, plan[:800])
        assert fn.last_telemetry['fallback_count'] == 0, fn.last_telemetry
    plan = _plan(q['rbql_js_filter_order'](spark, sf_dir))
    pushed = plan.split('PushedFilters: [')[1].split(']')[0]
    assert 'GreaterThan(o_totalprice' in pushed, pushed
    assert 'EqualNullSafe(o_orderstatus,O)' in pushed, pushed
    assert 'TakeOrderedAndProject' in plan


def test_group_agg_partial_aggregation(spark, sf_dir, entry):
    plan = _plan(entry.queries()['rbql_group_agg'](spark, sf_dir))
    # map-side combine: partial_ aggregate functions before the exchange
    assert 'partial_' in plan


def test_self_join_not_broadcast(spark, sf_dir, entry):
    # rbql_multikey_join joins lineitem to itself with the engine's forced
    # broadcast OFF — at test scale AQE may still auto-broadcast by size
    # (correct adaptive behavior); with the size threshold disabled the plan
    # must fall back to a shuffled join, proving no forced hint is present
    old = spark.conf.get('spark.sql.autoBroadcastJoinThreshold', '10485760b')
    spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
    try:
        plan = _plan(entry.queries()['rbql_multikey_join'](spark, sf_dir))
        assert 'SortMergeJoin' in plan or 'ShuffledHashJoin' in plan
        assert 'BroadcastHashJoin' not in plan
    finally:
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', old)


def test_update_stays_native(spark, sf_dir, entry):
    plan = _plan(entry.queries()['rbql_update'](spark, sf_dir))
    assert 'MapInPandas' not in plan and 'BatchEvalPython' not in plan


def test_whole_stage_codegen_active(spark, sf_dir, entry):
    # exact MEDIAN forces ObjectHashAggregate (TypedImperativeAggregate, no
    # codegen) — that's inherent; codegen must cover the scan+filter+project
    # pipeline of a plain query instead
    plan = _plan(entry.queries()['rbql_select_where'](spark, sf_dir))
    # '*(n)' operator prefixes mark whole-stage-codegen spans
    assert '*(' in plan


def test_group_agg_without_median_uses_hash_agg(spark, sf_dir):
    from __spark_entry__ import _rbql
    fn = _rbql("SELECT a.l_returnflag, COUNT(1) AS cnt, SUM(a.l_quantity) AS sq "
               "GROUP BY a.l_returnflag", 'lineitem')
    plan = _plan(fn(spark, sf_dir))
    # (codegen markers only appear after AQE finalizes; HashAggregate —
    # not ObjectHashAggregate — is the codegen-capable operator)
    assert 'HashAggregate' in plan and 'ObjectHashAggregate' not in plan


def _count_jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup('', '')
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_strict_update_join_guard_is_b_side_only(spark, sf_dir, entry):
    # The strict-mode UPDATE+JOIN duplicate-match guard must add exactly ONE
    # extra job relative to the non-strict run — a B-side-only aggregation
    # (the old guard re-ran the whole join and shuffled it by record number).
    from rbql_spark.api import query_dataframe
    from rbql_spark.binding import TableHandle
    from rbql_spark.engine import EngineOptions
    from rbql_spark.registry import ParquetDirRegistry
    import os as _os

    def run(strict, group):
        orders = spark.read.parquet(_os.path.join(sf_dir, 'orders.parquet'))
        handle = TableHandle(df=orders)
        handle.header = list(orders.columns)

        def go():
            res = query_dataframe(
                spark,
                'UPDATE a.o_orderpriority = b.c_mktsegment '
                'INNER JOIN customer ON a.o_custkey == b.c_custkey',
                handle, registry=ParquetDirRegistry(sf_dir),
                options=EngineOptions(strict_checks=strict))
            res.display_df().write.format('noop').mode('overwrite').save()
        return _count_jobs(spark, group, go)

    loose = run(False, 'updjoin-loose')
    strict = run(True, 'updjoin-strict')
    assert strict == loose + 1, (loose, strict)


def test_fallback_sample_job_cached_on_identical_rerun(spark, sf_dir, entry):
    # The driver-side type-inference sample costs one job per fallback
    # stage; an identical rerun (same analyzed plan, same exprs) must hit
    # the cache and skip it.
    import os as _os

    from rbql_spark.api import query_dataframe
    from rbql_spark.binding import TableHandle

    def run(group):
        orders = spark.read.parquet(_os.path.join(sf_dir, 'orders.parquet'))
        handle = TableHandle(df=orders)
        handle.header = list(orders.columns)

        def go():
            res = query_dataframe(
                spark, 'SELECT len(set(a.o_orderpriority)) AS u', handle)
            res.display_df().write.format('noop').mode('overwrite').save()
        return _count_jobs(spark, group, go)

    first = run('pyeval-cache-1')
    second = run('pyeval-cache-2')
    assert second == first - 1, (first, second)


def test_ivf_assignment_native_and_probe_broadcast(spark, sf_dir, entry):
    # IVF: cell assignment is a native projection (centroid literals inline,
    # no Python stage anywhere) and the candidate join broadcasts the small
    # probed-query side, never the corpus.
    plan = _plan(entry.queries()['sim_ann_ivf'](spark, sf_dir))
    assert 'BatchEvalPython' not in plan and 'MapInPandas' not in plan \
        and 'ArrowEvalPython' not in plan
    assert 'BroadcastHashJoin' in plan or 'BroadcastExchange' in plan


def test_lsh_ann_single_corpus_scan(spark, sf_dir):
    # multi-table LSH must compute ALL table buckets in one corpus
    # projection: Spark does not reuse FileScans across union branches, so
    # a per-table-branch shape reads the embeddings table n_tables times —
    # 4 full scans of a 100 TB corpus for one query at the default settings
    from pyspark.sql import functions as F  # noqa: F811

    from rbql_spark.ops.similarity import lsh_ann_topk
    emb = spark.read.parquet(os.path.join(sf_dir, 'embeddings.parquet'))
    qrows = emb.orderBy('vec_id').limit(2).collect()
    qdf = spark.createDataFrame(qrows, emb.schema) \
               .select(F.col('vec_id').alias('query_id'), 'embedding')
    res = lsh_ann_topk(emb, qdf, k=5, dim=64)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count('FileScan') == 1, plan


def test_top_ngrams_partial_agg_and_take_ordered(spark, sf_dir, entry):
    # gram counting must pre-sum heavy hitters map-side (partial_count
    # before the exchange) and cut the top-k via TakeOrderedAndProject,
    # never a global sort; gram expansion stays native
    plan = _plan(entry.queries()['text_top_ngrams'](spark, sf_dir))
    assert 'partial_count' in plan
    assert 'TakeOrderedAndProject' in plan
    assert 'BatchEvalPython' not in plan and 'MapInPandas' not in plan


def test_decontaminate_broadcasts_benchmark_single_corpus_scan(spark, sf_dir):
    # the benchmark suite is the small side: its shingles must broadcast
    # (no corpus shuffle before the join) and the training corpus must be
    # scanned exactly once; everything stays native (no Python stage)
    from pyspark.sql import functions as F  # noqa: F811

    from rbql_spark.ops.dedup import decontaminate
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    bench = spark.createDataFrame(
        [(9001, 'the quick brown fox jumps over the lazy dog again')],
        'doc_id long, text string')
    res = decontaminate(docs, bench, min_overlap=1)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert 'BroadcastHashJoin' in plan or 'BroadcastExchange' in plan
    assert plan.count('FileScan') == 1, plan
    assert 'BatchEvalPython' not in plan and 'MapInPandas' not in plan


def test_multimodal_frames_no_shuffle(spark, sf_dir, entry):
    # frame sampling happens inside the scan tasks: no Exchange between the
    # parquet scan and the row-multiplying Python stage
    plan = _plan(entry.queries()['multimodal_frame_sample'](spark, sf_dir))
    assert 'MapInPandas' in plan            # the (intentional) Python stage
    assert 'Exchange' not in plan.split('MapInPandas')[-1]


def test_repetition_stats_vectorized_no_post_shuffle(spark, sf_dir, entry):
    # the Arrow pass counts inside the scan tasks; the finalize is a
    # projection — nothing shuffles after the Python stage
    df = entry.queries()['text_repetition'](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert 'MapInPandas' in plan            # the (intentional) Python stage
    # tree prints output-side first: no Exchange ABOVE the Python stage
    assert 'Exchange' not in plan.split('MapInPandas')[0]
    assert plan.count('FileScan') == 1


def test_dedup_lines_broadcast_frequent_two_scans(spark, sf_dir, entry):
    # auto mode (broadcast_frequent=None, round-11): the measuring job
    # performed the count pass eagerly and cached the frequent set, so the
    # returned plan reads the corpus ONCE (rebuild pass) plus the cache —
    # still two corpus scans total — and broadcasts the (measured-small)
    # frequent set: the corpus line stream is never shuffled for the lookup
    df = entry.queries()['dedup_lines'](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # FileScans inside the InMemoryRelation block are the cache's lineage
    # text, not executed reads — count only the live scans above it
    assert plan.split('InMemoryRelation')[0].count('FileScan') == 1, plan
    assert 'InMemoryTableScan' in plan      # cached frequent set
    assert 'BroadcastExchange' in plan
    # the lazy explicit-broadcast path keeps the original two-scan shape
    # with map-side combine on the digest key (digests shuffle, never text)
    from rbql_spark.ops.dedup import dedup_lines
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    lazy = dedup_lines(docs, broadcast_frequent=True)
    plan2 = lazy._jdf.queryExecution().executedPlan().toString()
    assert plan2.count('FileScan') == 2, plan2
    assert 'partial_count' in plan2


def test_temperature_sample_two_scans_broadcast_rates(spark, sf_dir, entry):
    # per-stratum rates derive from ONE counting aggregation (the c_min is
    # a window over the tiny counts result, not a second corpus aggregate)
    # and broadcast back; the corpus itself is never shuffled
    df = entry.queries()['sample_temperature'](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count('FileScan') == 2, plan
    assert 'BroadcastExchange' in plan
    assert 'BatchEvalPython' not in plan and 'MapInPandas' not in plan


def test_pq_ann_two_corpus_scans_broadcast_queries(spark, sf_dir):
    # PQ = one corpus scan for the ADC sweep and one more for the exact
    # float rescore of the broadcast shortlist.  broadcast_queries=False:
    # codes + reconstruction inline, zero Python stages.
    # broadcast_queries=True (the default): the ADC sweep is exactly ONE
    # Arrow stage fused into scan 1 (encode + score + local shortlist
    # prune), everything after native.
    from pyspark.sql import functions as F  # noqa: F811

    from rbql_spark.ops.similarity import pq_ann_topk
    emb = spark.read.parquet(os.path.join(sf_dir, 'embeddings.parquet'))
    qrows = emb.orderBy('vec_id').limit(2).collect()
    qdf = spark.createDataFrame(qrows, emb.schema) \
               .select(F.col('vec_id').alias('query_id'), 'embedding')
    res = pq_ann_topk(emb, qdf, k=5, m=8, ks=16, broadcast_queries=False)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count('FileScan') == 2, plan.count('FileScan')
    assert 'BroadcastExchange' in plan
    assert 'BatchEvalPython' not in plan and 'MapInPandas' not in plan

    res_a = pq_ann_topk(emb, qdf, k=5, m=8, ks=16, broadcast_queries=True)
    plan_a = res_a._jdf.queryExecution().executedPlan().toString()
    assert plan_a.count('FileScan') == 2, plan_a.count('FileScan')
    assert 'BroadcastExchange' in plan_a
    assert plan_a.count('MapInPandas') == 1, plan_a.count('MapInPandas')
    # both paths produce identical rows (same codes, shortlist, rescore)
    assert sorted(map(tuple, res.collect())) == sorted(map(tuple, res_a.collect()))


def test_minhash_match_broadcasts_batch_bands(spark, sf_dir):
    # the increment side (small) must broadcast into the index band
    # stream — the existing corpus is never shuffled for the band join
    from pyspark.sql import functions as F  # noqa: F811

    from rbql_spark.ops.dedup import minhash_match
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    batch = docs.filter(F.col('doc_id') % 50 == 1)
    index = docs.filter(F.col('doc_id') % 2 == 0)
    plan = minhash_match(batch, index, threshold=0.5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert 'BroadcastExchange' in plan


def test_ivf_centroid_strategies_agree_and_join_plan_stays_flat(spark, sf_dir):
    # 'arrow' ships centroids as a broadcast variable: result-identical to
    # the inline-literal path at gate scale, and the plan must NOT grow
    # with n_cells (the inline plan embeds n_cells x dim literals)
    from pyspark.sql import functions as F  # noqa: F811

    from rbql_spark.ops.similarity import ivf_ann_topk
    emb = spark.read.parquet(os.path.join(sf_dir, 'embeddings.parquet'))
    q = emb.filter(F.col('vec_id') < 3) \
           .select(F.col('vec_id').alias('query_id'), 'embedding')
    a = ivf_ann_topk(emb, q, k=5, n_cells=16, n_probe=4,
                     centroid_strategy='inline')
    b = ivf_ann_topk(emb, q, k=5, n_cells=16, n_probe=4,
                     centroid_strategy='arrow')
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # multi-assignment agrees across strategies too
    a2 = ivf_ann_topk(emb, q, k=5, n_cells=16, n_probe=4, n_assign=2,
                      centroid_strategy='inline')
    b2 = ivf_ann_topk(emb, q, k=5, n_cells=16, n_probe=4, n_assign=2,
                      centroid_strategy='arrow')
    assert sorted(map(tuple, a2.collect())) == sorted(map(tuple, b2.collect()))

    # synthetic wide corpus so n_cells can exceed the corpus at gate scale
    vec = F.array(*[(F.hash(F.col('id'), F.lit(i)) % 1000 / 1000.0)
                    for i in range(64)])
    wide = spark.range(5000).select(F.col('id').alias('vec_id'),
                                    vec.alias('embedding'))
    wq = wide.filter(F.col('vec_id') < 2) \
             .select(F.col('vec_id').alias('query_id'), 'embedding')
    plans = {}
    for nc in (64, 1024):
        res = ivf_ann_topk(wide, wq, k=5, n_cells=nc, n_probe=4,
                           centroid_strategy='arrow')
        plans[nc] = res._jdf.queryExecution().executedPlan().toString()
    # constant plan size in n_cells (the centroids live in a broadcast
    # variable, not the plan); inline at 1024 would embed 65k literals
    assert len(plans[1024]) < 1.2 * len(plans[64]), (
        len(plans[64]), len(plans[1024]))
    # 'auto' picks the arrow kernel in the large-n_cells regime
    auto = ivf_ann_topk(wide, wq, k=5, n_cells=1024, n_probe=4)
    assert 'MapInPandas' in auto._jdf.queryExecution().executedPlan().toString()


def test_ivf_pq_centroid_strategies_and_multiassign(spark, sf_dir):
    # round-8: ivf_pq_ann_topk gets the same large-n_cells and recall
    # options as plain IVF — arrow centroid strategy (constant plan size)
    # and index-side multi-assignment, value-identical to inline at gate
    # scale for both encoders
    from pyspark.sql import functions as F  # noqa: F811

    from rbql_spark.ops.similarity import ivf_pq_ann_topk
    emb = spark.read.parquet(os.path.join(sf_dir, 'embeddings.parquet'))
    q = emb.filter(F.col('vec_id') < 3) \
           .select(F.col('vec_id').alias('query_id'), 'embedding')

    def rows(df):
        return sorted(map(tuple, df.collect()))

    for enc in ('native', 'arrow'):
        a = ivf_pq_ann_topk(emb, q, k=5, encoder=enc,
                            centroid_strategy='inline')
        b = ivf_pq_ann_topk(emb, q, k=5, encoder=enc,
                            centroid_strategy='arrow')
        assert rows(a) == rows(b), enc
    a2 = ivf_pq_ann_topk(emb, q, k=5, n_assign=2, centroid_strategy='inline')
    b2 = ivf_pq_ann_topk(emb, q, k=5, n_assign=2, centroid_strategy='arrow')
    assert rows(a2) == rows(b2)
    # multi-assignment candidates are a superset: top-k recall >= n_assign=1
    base = {(r[0], r[1]) for r in rows(ivf_pq_ann_topk(emb, q, k=5))}
    multi = {(r[0], r[1]) for r in rows(a2)}
    assert len(multi) >= len(base)

    # constant plan size in n_cells: the centroids live in a broadcast
    # variable; inline at 1024 cells would embed 65k literals in the plan
    vec = F.array(*[(F.hash(F.col('id'), F.lit(i)) % 1000 / 1000.0)
                    for i in range(64)])
    wide = spark.range(5000).select(F.col('id').alias('vec_id'),
                                    vec.alias('embedding'))
    wq = wide.filter(F.col('vec_id') < 2) \
             .select(F.col('vec_id').alias('query_id'), 'embedding')
    plans = {}
    for nc in (64, 1024):
        res = ivf_pq_ann_topk(wide, wq, k=5, n_cells=nc, n_probe=4,
                              centroid_strategy='arrow')
        plans[nc] = res._jdf.queryExecution().executedPlan().toString()
    assert len(plans[1024]) < 1.2 * len(plans[64]), (
        len(plans[64]), len(plans[1024]))
    # 'auto' picks the arrow path in the large-n_cells regime
    auto = ivf_pq_ann_topk(wide, wq, k=5, n_cells=1024, n_probe=4)
    assert 'MapInPandas' in auto._jdf.queryExecution().executedPlan().toString()


def test_ivf_int8_centroid_strategies_and_multiassign(spark, sf_dir):
    # the int8 family member gets the same options: strategies value-agree
    # (the int8 quantization composes on the cell-tagged rows either way)
    from pyspark.sql import functions as F  # noqa: F811

    from rbql_spark.ops.similarity import ivf_ann_topk_int8
    emb = spark.read.parquet(os.path.join(sf_dir, 'embeddings.parquet'))
    q = emb.filter(F.col('vec_id') < 3) \
           .select(F.col('vec_id').alias('query_id'), 'embedding')

    def rows(df):
        return sorted(map(tuple, df.collect()))

    a = ivf_ann_topk_int8(emb, q, k=5, centroid_strategy='inline')
    b = ivf_ann_topk_int8(emb, q, k=5, centroid_strategy='arrow')
    assert rows(a) == rows(b)
    a2 = ivf_ann_topk_int8(emb, q, k=5, n_assign=2,
                           centroid_strategy='inline')
    b2 = ivf_ann_topk_int8(emb, q, k=5, n_assign=2,
                           centroid_strategy='arrow')
    assert rows(a2) == rows(b2)


def test_pq_arrow_generic_id_types_and_bulk_query_fallback(spark, sf_dir):
    # the arrow kernels must not assume bigint ids (schema is derived from
    # the input columns), and broadcast_queries=False must NOT silently
    # collect the query set to the driver — it falls back to the native
    # shuffle-join path (no Python stage in the plan)
    from pyspark.sql import functions as F  # noqa: F811

    from rbql_spark.ops.similarity import ivf_pq_ann_topk, pq_ann_topk
    emb = spark.read.parquet(os.path.join(sf_dir, 'embeddings.parquet'))
    q = emb.filter(F.col('vec_id') < 3) \
           .select(F.col('vec_id').alias('query_id'), 'embedding')
    emb_s = emb.select(F.concat(F.lit('v'), F.col('vec_id').cast('string'))
                        .alias('vec_id'), 'embedding')
    q_s = q.select(F.concat(F.lit('q'), F.col('query_id').cast('string'))
                    .alias('query_id'), 'embedding')

    r = pq_ann_topk(emb_s, q_s, k=5)
    got = r.collect()
    assert len(got) == 15 and isinstance(got[0]['vec_id'], str)
    # string ids through the fused ivf_pq arrow strategy too
    r2 = ivf_pq_ann_topk(emb_s, q_s, k=5, encoder='arrow',
                         centroid_strategy='arrow')
    assert len(r2.collect()) == 15

    nb = pq_ann_topk(emb, q, k=5, broadcast_queries=False)
    plan = nb._jdf.queryExecution().executedPlan().toString()
    assert 'MapInPandas' not in plan and 'BatchEvalPython' not in plan
    assert sorted(map(tuple, nb.collect())) == \
        sorted(map(tuple, pq_ann_topk(emb, q, k=5).collect()))


def test_cosine_zero_norm_guard(spark):
    # degenerate (zero-norm) vectors score -1.0 in BOTH the expression path
    # and the arrow kernels — not NULL from non-ANSI div-by-zero
    from pyspark.sql import functions as F  # noqa: F811

    from rbql_spark.ops.similarity import cosine, cosine_topk_bruteforce
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])],
        'vec_id long, embedding array<double>')
    sims = df.select(
        cosine(F.col('embedding'), F.array(F.lit(1.0), F.lit(0.0)))
        .alias('s')).collect()
    assert sorted(r['s'] for r in sims) == [-1.0, 1.0]
    q = spark.createDataFrame([(0, [1.0, 0.0])],
                              'query_id long, embedding array<double>')
    top = cosine_topk_bruteforce(df, q, k=2).collect()
    assert [r['vec_id'] for r in top] == [2, 1]
    assert [r['cosine_sim'] for r in top] == [1.0, -1.0]


def test_ivf_pq_residual_encoding(spark, sf_dir):
    # FAISS-style residual IVF-PQ: encoders/strategies/multi-assign agree
    # on gate data; reconstruction fidelity dominates raw encoding on
    # CLUSTERED vectors (the distribution residual encoding exists for) —
    # on isotropic gate embeddings raw wins, which is why residual is
    # opt-in (see ivf_pq_ann_topk docstring)
    import numpy as np
    import pytest  # noqa: F811
    from pyspark.sql import functions as F  # noqa: F811

    from rbql_spark.ops.similarity import (
        _pq_codebooks_kmeans, _pq_codes_arrow, _train_centroids, cosine,
        ivf_pq_ann_topk,
    )
    emb = spark.read.parquet(os.path.join(sf_dir, 'embeddings.parquet'))
    q = emb.filter(F.col('vec_id') < 3) \
           .select(F.col('vec_id').alias('query_id'), 'embedding')

    def rows(df):
        return sorted(map(tuple, df.collect()))

    a = ivf_pq_ann_topk(emb, q, k=5, residual=True, encoder='arrow',
                        centroid_strategy='inline')
    b = ivf_pq_ann_topk(emb, q, k=5, residual=True, encoder='native',
                        centroid_strategy='inline')
    c = ivf_pq_ann_topk(emb, q, k=5, residual=True, encoder='arrow',
                        centroid_strategy='arrow')
    assert rows(a) == rows(b) == rows(c) and len(rows(a)) == 15
    a2 = ivf_pq_ann_topk(emb, q, k=5, residual=True, n_assign=2)
    b2 = ivf_pq_ann_topk(emb, q, k=5, residual=True, n_assign=2,
                         encoder='native', centroid_strategy='inline')
    assert rows(a2) == rows(b2)
    with pytest.raises(ValueError):
        ivf_pq_ann_topk(emb, q, k=5, residual=True, encoder='native',
                        centroid_strategy='arrow')

    # clustered corpus: 8 tight clusters on the unit sphere
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((8, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = []
    for i in range(1000):
        v = centers[i % 8] + 0.15 * rng.standard_normal(32)
        v /= np.linalg.norm(v)
        pts.append((i, [float(x) for x in v]))
    cdf = spark.createDataFrame(pts, 'vec_id long, embedding array<double>') \
               .select('vec_id', F.col('embedding').alias('__cv'))
    cents = _train_centroids(cdf, 8, 42, 'kmeans')

    def recon_quality(residual):
        books = _pq_codebooks_kmeans(
            cdf, 8, 16, 42, residual_centroids=cents if residual else None)
        rec = _pq_codes_arrow(cdf, books, centroids=cents, n_assign=1,
                              residual=residual, emit_recon=True)
        return rec.select(F.avg(cosine(F.col('__cv'), F.col('__rv')))) \
                  .collect()[0][0]

    assert recon_quality(True) > recon_quality(False)


def test_residual_multiassign_partition_invariant(spark, sf_dir):
    # round-9 advisor regression: with residual=True and n_assign>1 each
    # cell copy of a vector carries its OWN residual codes, so the
    # per-copy pq_sims differ; the reduction over copies must be
    # deterministic (max), never keep-an-arbitrary-copy — results must
    # not depend on the corpus's physical partitioning
    from pyspark.sql import functions as F  # noqa: F811

    from rbql_spark.ops.similarity import ivf_pq_ann_topk
    emb = spark.read.parquet(os.path.join(sf_dir, 'embeddings.parquet'))
    q = emb.filter(F.col('vec_id') < 3) \
           .select(F.col('vec_id').alias('query_id'), 'embedding')

    def rows(df):
        return sorted(map(tuple, df.collect()))

    base = rows(ivf_pq_ann_topk(emb, q, k=5, residual=True, n_assign=2))
    for part in (emb.repartition(13), emb.coalesce(1)):
        assert rows(ivf_pq_ann_topk(part, q, k=5, residual=True,
                                    n_assign=2)) == base


def test_shuffle_corpus_no_corpus_wide_single_partition_window(spark, sf_dir):
    # round-9 advisor regression: positions must never come from an
    # unpartitioned Window over corpus rows (one-task global sort).  The
    # only single-partition stage allowed is the bounded per-bucket
    # offsets aggregation (n_buckets rows).
    from rbql_spark.ops.sampling import shuffle_corpus
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    plan = shuffle_corpus(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    for line in plan.splitlines():
        if 'row_number()' in line:
            # the corpus row-numbering window carries a partition spec
            assert 'windowspecdefinition(__bkt' in line, line
    # long positions (≥2^31-safe at scale)
    assert dict(shuffle_corpus(docs).dtypes)['shuffle_pos'] == 'bigint'


# Gates whose operators used to end in a display `.orderBy` — retired in
# round 11 (the orderBy was a rangepartitioning Exchange over the ENTIRE
# result set, pure presentation waste at corpus scale).  Mirrors the
# round-9 events_row_number precedent: the executed plan must contain no
# ordering Exchange; callers sort at their own display boundary (the gate
# canonicalizer sorts rows before hashing, so correctness is unaffected).
_UNORDERED_GATES = [
    'dedup_minhash_lsh', 'dedup_simhash', 'dedup_ngram_jaccard',
    'dedup_incremental', 'decontaminate_ngram', 'dedup_clusters',
    'sim_embedding_neardup', 'window_tumbling', 'window_sliding',
    'window_session', 'having_groups',
    # round-11 additions, unordered from birth
    'sim_semantic_dedup', 'sim_kmeans_cluster', 'sim_prototype_prune',
]


@pytest.mark.parametrize('gate', _UNORDERED_GATES)
def test_no_presentation_sort_exchange(spark, sf_dir, entry, gate):
    df = entry.queries()[gate](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert 'rangepartitioning' not in plan, \
        '{} still ends in an ordering Exchange:\n{}'.format(gate, plan[:1200])


def test_nu_counter_no_single_partition_window(spark, sf_dir):
    # round-12 verdict item: the NU running counter must use the two-phase
    # partition prefix sum (attach_running_count), never an unpartitioned
    # Window.orderBy(NR) that funnels the whole table through one task.
    from rbql_spark.api import query_dataframe
    orders = spark.read.parquet(os.path.join(sf_dir, 'orders.parquet'))
    res = query_dataframe(
        spark, 'UPDATE a.o_totalprice = NU WHERE a.o_totalprice > 400000',
        orders)
    df = res.display_df()
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if 'windowspecdefinition(' in line:
            assert '__rbql_pid' in line, \
                'unpartitioned window in NU plan:\n' + line


def test_group_agg_null_guards_refunded_for_null_free_parquet(spark, sf_dir, entry):
    # round-12 verdict item: when parquet footer stats prove a column
    # null-free, the reference-parity null guards are vacuous and must
    # not appear in the plan (they cost ~55% on this gate in r12).
    plan = _plan(entry.queries()['rbql_group_agg'](spark, sf_dir))
    assert 'raise_error' not in plan
    assert '__ng_' not in plan


def test_group_agg_null_guards_kept_for_unproven_input(spark):
    # in-memory tables carry no footer proof — the guards must stay
    from rbql_spark import query_table
    import pytest as _pt
    from rbql_spark.errors import RbqlRuntimeError
    rows, _ = query_table(spark, 'SELECT a1, SUM(a2) GROUP BY a1',
                          [['x', 1], ['x', 2], ['y', 3]])
    assert sorted(rows) == [['x', 3], ['y', 3]]
    with _pt.raises(RbqlRuntimeError, match="NoneType"):
        query_table(spark, 'SELECT a1, SUM(a2) GROUP BY a1',
                    [['x', 1], ['x', None], ['y', 3]])


def test_top_order_null_guard_refunded_for_null_free_parquet(spark, sf_dir, entry):
    # same refund as the aggregates: a parquet-proven null-free ORDER BY
    # key needs no per-row raise_error wrapper (cleaner TakeOrdered key)
    plan = _plan(entry.queries()['rbql_select_top_order'](spark, sf_dir))
    assert 'raise_error' not in plan
    assert 'TakeOrderedAndProject' in plan


def test_order_by_null_guard_kept_for_unproven_input(spark):
    import pytest as _pt
    from rbql_spark import query_table
    from rbql_spark.errors import RbqlRuntimeError
    with _pt.raises(RbqlRuntimeError, match="NoneType"):
        query_table(spark, 'SELECT a1 ORDER BY a2',
                    [['x', 1], ['y', None], ['z', 3]])


def test_classifier_score_single_corpus_exchange(spark, sf_dir):
    # round-13 in-row feature rewrite: the scoring path must reach its
    # per-doc aggregation with no prior corpus shuffle — one hash
    # exchange total (plus the dim+1-row broadcast and, on small files,
    # the spread_partitions round-robin, which vanishes at scale)
    from pyspark.sql import functions as F
    from rbql_spark.ops.classifier import classifier_score, classifier_train
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    labeled = docs.withColumn('label', (F.col('lang') == 'en').cast('int'))
    w = classifier_train(labeled, dim=32, n_iter=1)
    plan = classifier_score(docs, w)._jdf.queryExecution() \
        .executedPlan().toString()
    n_hash = plan.count('Exchange hashpartitioning')
    assert n_hash == 1, 'score path grew corpus shuffles:\n' + plan[:1500]


def test_js_add_null_cells_stay_native_and_numeric(spark):
    """JS `+` picks concat-vs-numeric by RUNTIME value, not column type
    (ECMA-262 ApplyStringOrNumericBinaryOperator): a null cell in a
    str-typed column is the value null, so `null + 1` is numeric 1 —
    the tag-directed translation used to emit 'null1' (caught by the
    node differential fuzz, seed 6005).  The shape must also STAY on
    the native path: a silent Arrow fallback would pass values while
    losing the pushdown this dialect was built for."""
    from rbql_spark import query_dataframe
    df = spark.createDataFrame(
        [(None, 4, 'gamma'), ('alpha', None, 'omega'), (None, None, 'x')],
        'a string, b long, c string')
    cases = [
        ('SELECT a.a + 1', [['1'], ['alpha1'], ['1']]),
        ('SELECT a.a + a.a', [['0'], ['alphaalpha'], ['0']]),
        ('SELECT a.a + a.b', [['4'], ['alphanull'], ['0']]),
        ("SELECT a.a + 'x'", [['nullx'], ['alphax'], ['nullx']]),
        ('SELECT a.b + 1', [[5], [1], [1]]),
    ]
    for query, want in cases:
        res = query_dataframe(spark, query, df, dialect='js')
        out = res.display_df(ordered=True)
        plan = _plan(out)
        assert 'BatchEvalPython' not in plan and 'MapInPandas' not in plan \
            and 'ArrowEvalPython' not in plan, \
            '{} fell back to Python:\n{}'.format(query, plan[:800])
        got = [list(r) for r in out.collect()]
        assert got == want, '{}: got {}'.format(query, got)


def test_js_like_coerces_and_stays_native(spark):
    """JS like() is RegExp.test underneath (rbql-js/rbql.js:243), which
    ToString-coerces: an int cell tests its decimal rendering, a null
    cell tests the string 'null' — where the Python dialect (matching
    rbql-py's re.match) raises TypeError on both.  Caught by the
    differential sweep (seed 20004).  Must also stay on the native
    path: the translation is a never-null rlike conjunct."""
    from rbql_spark import query_dataframe
    from rbql_spark.errors import RbqlRuntimeError
    df = spark.createDataFrame(
        [(3, 'alpha'), (31, None), (None, 'null-ish'), (7, 'beta')],
        'n long, s string')
    res = query_dataframe(spark, "SELECT a.n WHERE like(a.n, '3%')",
                          df, dialect='js')
    out = res.display_df(ordered=True)
    plan = _plan(out)
    assert 'BatchEvalPython' not in plan and 'ArrowEvalPython' not in plan \
        and 'MapInPandas' not in plan, plan[:800]
    assert [r.n for r in out.collect()] == [3, 31]
    res = query_dataframe(spark, "SELECT like(a.s, 'null%')", df, dialect='js')
    got = [list(r) for r in res.display_df(ordered=True).collect()]
    assert got == [[False], [True], [True], [False]]
    # Python dialect keeps reference rbql-py parity: TypeError on non-str
    # (surfaces as a wrapped evaluator error at action time)
    try:
        query_dataframe(spark, "SELECT a.n WHERE like(a.n, '3%')",
                        df, dialect='python').display_df().collect()
        raise AssertionError('python-dialect like() on ints must raise')
    except Exception as e:  # noqa: BLE001 — family checked via message
        assert isinstance(e, RbqlRuntimeError) or \
            'expected string or bytes-like object' in str(e), e


def test_homogeneous_columns_keep_plain_plans(spark, sf_dir, entry):
    """r14 verdict #1 done-criterion: the mixed-cell struct is materialized
    ONLY when ingest observes mixed kinds — parquet-backed gates (typed
    columns by construction) must show no tagged struct anywhere in their
    plans, so homogeneous workloads keep today's pushdown/codegen shape."""
    q = entry.queries()
    for name in ['rbql_select_where', 'rbql_js_filter_order']:
        plan = _plan(q[name](spark, sf_dir))
        assert 's: string, n: double, k: tinyint' not in plan.lower(), \
            '{} plan unexpectedly carries the mixed-cell struct'.format(name)
        assert 'PushedFilters: [' in plan


def test_homogeneous_in_memory_tables_stay_plain(spark):
    """2D-array ingest: columns with one scalar kind keep their plain
    Spark types (no struct), so only genuinely mixed columns pay."""
    from rbql_spark.api import _rows_to_handle
    from rbql_spark.mixedcell import is_mixed_type
    h = _rows_to_handle(spark, [[1, 'x', 2.5], [2, 'y', 3.5]], None)
    assert not any(is_mixed_type(f.dataType) for f in h.df.schema.fields)
    h2 = _rows_to_handle(spark, [[1, 'x'], ['z', 'y']], None)
    assert is_mixed_type(h2.df.schema.fields[0].dataType)
    assert not is_mixed_type(h2.df.schema.fields[1].dataType)


def test_plan_width_decided_at_engine_layer(spark, sf_dir, entry,
                                            monkeypatch):
    """r16 verdict #1: the sub-advisory AQE initial-width decision lives
    in the ENGINE (tuning.apply_plan_width, applied by engine.run_query
    and by every declared gate builder), not in the bench harness — a
    sub-advisory API query plans at the session base width while a large
    scan gets the wide initial derived from the base width."""
    from rbql_spark import api, tuning
    key = tuning._INITIAL_KEY
    base = spark.conf.get('spark.sql.shuffle.partitions')
    wide = str(tuning.wide_partition_num(int(base)))
    assert wide == str(max(16 * int(base), 256))
    spark.conf.set(key, '64')   # any set value turns the decision on
    try:
        lineitem = entry._t(spark, sf_dir, 'lineitem')
        # sub-advisory input (sf0.001 lineitem is kilobytes): run_query
        # decides the upcoming execution plans at the session base width
        api.query_dataframe(
            spark,
            'SELECT a.l_orderkey, a.l_quantity WHERE a.l_quantity > 30',
            lineitem)
        assert spark.conf.get(key) == base
        # a scan past base x per-task target gets the wide initial (the
        # measured decade rule for real shuffles), derived from the base
        # width rather than remembered from an earlier setting
        with monkeypatch.context() as m:
            m.setattr(tuning, 'BYTES_PER_PARTITION', 64)
            tuning.apply_plan_width(lineitem)
        assert spark.conf.get(key) == wide
        # declared gate builders apply the same decision at build time
        entry.queries()['window_running_sum'](spark, sf_dir)
        assert spark.conf.get(key) == base
    finally:
        spark.conf.unset(key)
    # a session that never set the initial width is left alone
    tuning.apply_plan_width(lineitem)
    assert spark.conf.get(key, None) is None


def _small_csv(tmp_path, n=2000):
    p = str(tmp_path / 'small.csv')
    with open(p, 'w') as f:
        f.write('id,grp,val\n')
        for i in range(n):
            f.write('{},{},{}\n'.format(i, i % 7, (i * 37) % 1000))
    return p


def test_headered_csv_read_runs_no_job_once_width_cached(spark, tmp_path):
    # the header row is dropped by a filter on its known order key, not by
    # an eager min() over the split
    from rbql_spark.sources.csv import read_csv
    p = _small_csv(tmp_path)
    read_csv(spark, p, with_headers=True)   # probes and caches the width
    assert _count_jobs(spark, 'csv_read_cached',
                       lambda: read_csv(spark, p, with_headers=True)) == 0


def test_small_csv_query_job_counts(spark, tmp_path):
    # a one-partition CSV scan is neither spread by a range exchange nor
    # sorted by one: the driver-bound sort runs in the scan's own task
    from rbql_spark.api import query_csv
    p = _small_csv(tmp_path)
    out = str(tmp_path / 'out.csv')

    def run(query):
        return lambda: query_csv(spark, query, p, output_path=out, with_headers=True)

    group = 'SELECT a.grp, COUNT(*) AS n GROUP BY a.grp'
    run(group)()   # probes and caches the width
    assert _count_jobs(spark, 'csv_group', run(group)) <= 2
    assert _count_jobs(spark, 'csv_sort', run(
        'SELECT a.id, a.val WHERE int(a.grp) == 3 ORDER BY int(a.val) DESC')) == 1
    rows = [(i, (i * 37) % 1000) for i in range(2000) if i % 7 == 3]
    rows.sort(key=lambda r: (-r[1], r[0]))
    assert open(out).read() == 'id,val\n' + ''.join('{},{}\n'.format(*r) for r in rows)


def test_driver_bound_sort_keeps_multi_partition_split_parallel(spark, tmp_path):
    # sorting in one partition must not narrow a multi-partition scan (and
    # the Python split above it) to one task
    from rbql_spark.api import query_csv
    p = _small_csv(tmp_path, n=20000)
    out = str(tmp_path / 'out.csv')
    key = 'spark.sql.files.maxPartitionBytes'
    old = spark.conf.get(key)
    spark.conf.set(key, str(64 << 10))
    sc = spark.sparkContext
    try:
        assert spark.read.text(p).rdd.getNumPartitions() >= 2
        run = lambda: query_csv(spark, 'SELECT a.id WHERE a.grp == "5" ORDER BY int(a.id) DESC',
                                p, output_path=out, with_headers=True)
        run()   # probes and caches the width
        _count_jobs(spark, 'csv_sort_parallel', run)
    finally:
        spark.conf.set(key, old)
    tasks = [sc.statusTracker().getStageInfo(s).numTasks
             for j in sc.statusTracker().getJobIdsForGroup('csv_sort_parallel')
             for s in sc.statusTracker().getJobInfo(j).stageIds]
    assert max(tasks) >= 2, tasks
    ids = [i for i in range(20000) if i % 7 == 5][::-1]
    assert open(out).read() == 'id\n' + ''.join('{}\n'.format(i) for i in ids)


# one gate per query shape: grouped and global aggregation, join, TOP +
# ORDER BY, UPDATE, UNNEST, pipe chain, EXCEPT
@pytest.mark.parametrize('name', [
    'rbql_group_agg', 'rbql_global_agg', 'rbql_inner_join',
    'rbql_select_top_order', 'rbql_update', 'rbql_unnest', 'rbql_pipe_chain',
    'rbql_except'])
def test_driver_bound_sort_adds_no_job_to_gate(spark, sf_dir, entry, name):
    # collect_result_rows sorts inside one partition; no RBQL gate may need
    # more jobs that way than through the global orderBy it replaced
    import inspect
    from rbql_spark.api import collect_result_rows, query_dataframe
    from rbql_spark.binding import TableHandle
    from rbql_spark.engine import EngineOptions
    from rbql_spark.registry import ParquetDirRegistry

    g = inspect.getclosurevars(inspect.unwrap(entry.queries()[name])).nonlocals

    def measure(group, action):
        handle = TableHandle(df=entry._t(spark, sf_dir, g['table']))
        handle.header = list(handle.df.columns)
        res = query_dataframe(
            spark, g['query'], handle, registry=ParquetDirRegistry(sf_dir),
            options=EngineOptions(strict_checks=g['strict'],
                                  broadcast_join=g['broadcast'],
                                  dialect=g['dialect']))
        try:
            return _count_jobs(spark, group, lambda: action(res))
        finally:
            res.release()

    measure(name + '_warm', collect_result_rows)
    one = measure(name + '_one', collect_result_rows)
    global_ = measure(name + '_global', lambda r: r.ordered_df().collect())
    assert one <= global_
    if name == 'rbql_group_agg':
        assert one < global_


def test_scan_partition_estimate_over_file_scans(spark, sf_dir, tmp_path):
    # a narrow chain over a parquet or text file scan has a byte-sized
    # partition estimate (spread_partitions relies on it instead of
    # building a physical plan)
    from rbql_spark.tuning import scan_partition_estimate
    pq = (spark.read.parquet(os.path.join(sf_dir, 'lineitem.parquet'))
          .filter('l_quantity > 5').select('l_orderkey'))
    text = spark.read.text(_small_csv(tmp_path)).filter("value != ''")
    for df in (pq, text):
        n, nbytes = scan_partition_estimate(df)
        assert n is not None and n >= 1 and nbytes > 0


def test_one_partition_keeps_grouped_final_stage_parallel(spark, sf_dir):
    # coalesce(1) only where the last stage has one partition's work; a
    # grouped aggregation over a multi-partition scan is gathered through
    # an exchange so its final aggregation keeps its own tasks
    from rbql_spark.tuning import one_partition

    def shuffles(df):
        return one_partition(df)._jdf.queryExecution().analyzed().shuffle()

    key = 'spark.sql.files.maxPartitionBytes'
    old = spark.conf.get(key)
    spark.conf.set(key, str(64 << 10))
    try:
        li = spark.read.parquet(os.path.join(sf_dir, 'lineitem.parquet'))
        assert li.rdd.getNumPartitions() >= 2
        assert shuffles(li.groupBy('l_orderkey').count())
        assert shuffles(li.filter('l_quantity > 5'))
        assert not shuffles(li.groupBy().count())
        assert not shuffles(li.limit(10))
    finally:
        spark.conf.set(key, old)
    one = spark.read.parquet(os.path.join(sf_dir, 'region.parquet'))
    assert one.rdd.getNumPartitions() == 1
    assert not shuffles(one.groupBy('r_name').count().filter('count > 0'))
