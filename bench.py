#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q": sec, ...}, "sf": ...}

Each query runs REPS times (default 3) to a no-op sink (full pipeline
executes, nothing is collected to the driver); sub-second queries get
extra reps (min-of-5) because local[32] single-run numbers carry ±0.4s
scheduler/GC noise that polluted earlier round-over-round comparisons.
`queries` reports the per-query min (the comparable number); the median
rides alongside in `queries_median` as the noise gauge.

Reps are interleaved ROUND-ROBIN across the whole query list (pass 1 of
everything, then pass 2, ...), not run back-to-back per query: a
transient contention window on a shared box then inflates one rep of
many queries instead of every rep of a few, so per-query mins stay
honest (round-7 postmortem: consecutive reps let contention sink whole
queries 2-6x).  `loadavg` (os.getloadavg at start/end) rides in the
artifact as the contention gauge.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get('SPARK_GRAFT_SF_DIR', '/root/testdata/sf0.1')
CPUS = int(os.environ.get('SPARK_GRAFT_CPUS', '32'))
REPS = int(os.environ.get('SPARK_GRAFT_BENCH_REPS', '3'))

# Headline set: RBQL-engine queries + scale-path pipeline operators
BENCH_QUERIES = [
    'rbql_select_where',
    'rbql_select_top_order',
    'rbql_js_filter_order',
    'rbql_group_agg',
    'rbql_group_expr_key',
    'rbql_inner_join',
    'rbql_multikey_join',
    'rbql_pipe_chain',
    'window_running_sum',
    'window_tumbling',
    'having_groups',
    'dedup_exact',
    'dedup_minhash_lsh',
    'sim_topk_bruteforce',
    'text_token_stats',
    'text_quality_score',
    'text_fingerprint',
    'multimodal_features',
    'multimodal_audio_features',
    # round 3 additions (pipeline superset)
    'dedup_clusters',
    'pack_sequences',
    'sample_stratified',
    'text_redact_pii',
    # round 6 additions (quality filters / line dedup / mixture / PQ)
    'text_repetition',
    'dedup_lines',
    'sample_temperature',
    'sim_ann_pq',
    'chunk_documents',
    'text_quality_filter',
    'text_lm_score',
    'profile_table',
    # round 7 additions (composed pipeline)
    'pipeline_training_data',
    # round 8 additions (stored-index search: build amortized across reps,
    # min-of-reps measures the pruned search itself)
    'sim_ann_index_search',
    # round 9 additions: the previously-unbenchmarked half — the six
    # streaming gates (each rep times the full drain of the file-replay
    # stream to its sink), incremental dedup (sf1's second-worst scale
    # ratio), the churned-index search, the round-8/9 sampling + text +
    # recall gates, and the COLD index build (the index's real cost;
    # only search was timed before — special-cased below to build into
    # a fresh dir every rep)
    'streaming_windowed_counts',
    'streaming_user_totals',
    'streaming_exact_dedup',
    'streaming_minhash_neardup',
    'streaming_decontaminate',
    'streaming_quality_filter',
    'dedup_incremental',
    'sim_ann_index_churn',
    'sample_shuffle',
    'sample_mix',
    'text_embed_hashing',
    'sim_kmeans_recall',
    'window_session',
    'setop_intersect',
    'ann_index_build',
    # round 9 late additions: time-keyed joins (batch + streaming
    # enrichment) and the pivot wide-aggregation
    'join_asof',
    'join_interval',
    'streaming_asof',
    'pivot_event_counts',
    'sim_ann_index_stats',
    'streaming_session_counts',
    'dedup_spans',
    'text_bm25',
    # round 11 additions: embedding-space curation (SemDeDup composition,
    # Lloyd k-means, prototype pruning)
    'sim_semantic_dedup',
    'sim_kmeans_cluster',
    'sim_prototype_prune',
    'export_webdataset',
    # round 11 additions: DSIR importance resampling + bloom-filter
    # decontamination (the unbounded-benchmark scale path)
    'dsir_weights',
    'dsir_topk',
    'decontaminate_bloom',
    'sample_mix_tokens',
    'domain_classify',
    'streaming_decontaminate_bloom',
    'sample_epochs',
    # round 11 addition: logistic-regression quality classifier (each rep
    # pays the full 2-round training + corpus scoring)
    'quality_classifier',
    # round 11 addition: hybrid retrieval (BM25 + embedding cosine + RRF)
    'retrieval_hybrid_rrf',
    # round 11 addition: exact-k-per-group sampling (two-phase salted rank)
    'sample_k_per_group',
    # round 11 addition: streaming classifier scoring (stateless inline
    # fold; each rep pays the full stream drain — training is served
    # from the per-(sf_dir, stamp) weight cache after the first run)
    'streaming_classifier',
    # round 11 addition: batch BM25 (3 queries, one corpus pass)
    'text_bm25_batch',
    # round 11 addition: Flesch readability (stateless fused projection)
    'text_readability',
    # round 12 additions: C4 line-level cleaning and the Gopher
    # line-shape rules (both fused one-scan projections over the
    # deterministic lined view)
    'text_c4_line_filter',
    'text_gopher_filter',
    # round 12: the model-ready tokenizer tail (vocab + id encoding)
    'bpe_encode_ids',
    # round 12: bin materialization + the per-benchmark leak report
    'pack_materialize',
    'contamination_report',
]


def _bench_ann_index_build(spark, sf_dir):
    """Cold IVF-PQ index build into a FRESH dir (no cache reuse), same
    parameters as the sim_ann_index_search gate; the dir is removed
    afterwards so every rep pays the full train+encode+write cost."""
    import shutil
    import tempfile

    from rbql_spark.ops.ann_index import build_ivf_pq_index
    emb = _entry()._t(spark, sf_dir, 'embeddings')
    path = tempfile.mkdtemp(prefix='rbql_bench_idx_')
    try:
        build_ivf_pq_index(emb.select('vec_id', 'embedding'), path,
                           n_cells=16, m=8, ks=16)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _entry():
    import __spark_entry__ as entrymod
    return entrymod


# bench-only measurements that are not queries() gates (they return no
# DataFrame): name -> fn(spark, sf_dir), timed like a query rep
EXTRA_BENCH = {
    'ann_index_build': _bench_ann_index_build,
}


def calibrate(spark) -> dict:
    """Machine fingerprint (r14 verdict #4): round 14 burned a day on a
    phantom 1.4× 'regression' that was the driver VM, so every bench
    artifact now carries two FIXED synthetic probes whose cost depends
    only on the box, never on this repo's code:

    * ``jvm_sec`` — min-of-3 of a pinned 100M-row ``spark.range``
      arithmetic aggregate (one shuffle-free whole-stage-codegen
      pipeline; measures JVM + scheduler + core throughput), and
    * ``py_sec`` — min-of-3 of a pure-Python 3M-iteration spin loop
      (measures single-core Python throughput for Arrow/pandas stages).

    Normalization rule (NOTES_r15): comparing artifact A vs B across
    boxes, divide each per-query time by that artifact's matching probe
    (jvm_sec for JVM-native gates, py_sec for mapInPandas-heavy gates)
    before computing ratios; same-box A/B comparisons need no
    normalization and remain the gold standard (tools/ab.py).
    """
    from pyspark.sql import functions as F
    jvm = []
    for _ in range(3):
        t0 = time.perf_counter()
        (spark.range(100_000_000)
              .select(((F.col('id') * 3) % 7).alias('x'))
              .agg(F.sum('x'), F.count('x')).collect())
        jvm.append(time.perf_counter() - t0)
    py = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(3_000_000):
            acc += i * i
        py.append(time.perf_counter() - t0)
    cpu_model = ''
    try:
        with open('/proc/cpuinfo') as f:
            for ln in f:
                if ln.lower().startswith('model name'):
                    cpu_model = ln.split(':', 1)[1].strip()
                    break
    except OSError:
        pass
    return {'jvm_sec': round(min(jvm), 3), 'py_sec': round(min(py), 3),
            'cpu_model': cpu_model, 'cpus': os.cpu_count()}


def main() -> None:
    from rbql_spark.session import build_session

    spark = build_session(
        app_name='rbql-spark-bench',
        master='local[{}]'.format(CPUS),
        shuffle_partitions=CPUS,
        driver_memory=os.environ.get('SPARK_GRAFT_DRIVER_MEM', '16g'),
    )
    spark.sparkContext.setLogLevel('ERROR')
    try:
        spark.conf.set('spark.ui.enabled', 'false')
    except Exception:
        pass

    import __spark_entry__ as entrymod
    queries = entrymod.queries()

    # warmup: JVM/codegen/python-worker/parquet-footer one-time costs
    from pyspark.sql import functions as F
    spark.range(1000).select(F.sum('id')).collect()
    entrymod._t(spark, SF_DIR, 'lineitem').limit(10).count()

    # machine fingerprint (after warmup, before any query timing)
    cal = calibrate(spark)

    sf = SF_DIR.rstrip('/').rsplit('sf', 1)[-1]
    load_start = os.getloadavg()
    samples: dict[str, list[float]] = {n: [] for n in BENCH_QUERIES}
    failed: set[str] = set()

    def run_once(name: str) -> None:
        t0 = time.perf_counter()
        try:
            if name in EXTRA_BENCH:
                EXTRA_BENCH[name](spark, SF_DIR)
            else:
                df = queries[name](spark, SF_DIR)
                df.write.format('noop').mode('overwrite').save()
            samples[name].append(round(time.perf_counter() - t0, 3))
        except Exception as e:  # keep benching; a failed query reports -1
            failed.add(name)
            print('BENCH ERROR {}: {}'.format(name, e), file=sys.stderr)
        finally:
            # gates that persist stage frames (pipeline_training_data) must
            # not carry cache into the next rep — re-materialize honestly
            spark.catalog.clearCache()

    # round-robin passes: one rep of EVERY query per pass, so a transient
    # contention window hits one rep of many queries, never all reps of one
    for _ in range(max(1, REPS)):
        for name in BENCH_QUERIES:
            if name not in failed:
                run_once(name)
    # sub-second queries are jitter-dominated: extend to min-of-5, still
    # interleaved across the sub-second subset
    for _ in range(5 - max(1, REPS)):
        pending = [n for n in BENCH_QUERIES
                   if n not in failed and samples[n]
                   and min(samples[n]) < 1.0 and len(samples[n]) < 5]
        if not pending:
            break
        for name in pending:
            run_once(name)

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name in BENCH_QUERIES:
        reps = sorted(samples[name])
        if name in failed or not reps:
            timings[name] = -1.0
            medians[name] = -1.0
        else:
            timings[name] = reps[0]
            medians[name] = reps[len(reps) // 2]

    total = round(sum(v for v in timings.values() if v >= 0), 3)
    sf_val = float(sf) if sf.replace('.', '').isdigit() else sf
    # Full record (3-decimal timings, medians, loadavg) goes to the
    # sibling file for round-over-round comparison.
    full_line = json.dumps({
        'metric': 'rbql_spark bench: headline queries end-to-end (noop sink)',
        'value': total,
        'unit': 'sec',
        'queries': timings,
        'queries_median': medians,
        'sf': sf_val,
        'loadavg': {'start': list(load_start), 'end': list(os.getloadavg())},
        'calibration': cal,
    })
    try:
        out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           'BENCH_LOCAL.json')
        with open(out, 'w') as f:
            f.write(full_line + '\n')
    except OSError:
        pass
    # The stdout JSON line must fit ENTIRELY inside a 2000-char log-tail
    # capture or the per-round artifact records "parsed": null and loses
    # the leading per-query rows (rounds 9-12 all truncated).  Emit a
    # compact single line: no medians/loadavg, tight separators, and
    # progressively coarser rounding until it fits with headroom.
    cal_compact = {'jvm': cal['jvm_sec'], 'py': cal['py_sec']}
    for ndigits in (2, 1):
        line = json.dumps({
            'metric': 'bench_total',
            'value': total,
            'unit': 'sec',
            'sf': sf_val,
            'cal': cal_compact,
            'queries': {k: round(v, ndigits) for k, v in timings.items()},
        }, separators=(',', ':'))
        if len(line) <= 1995:
            break
    else:
        # final fallback: even 1-digit rounding overflowed (gate growth) —
        # drop the per-query map rather than silently truncating the tail;
        # the full-precision record is already in BENCH_LOCAL.json
        line = json.dumps({
            'metric': 'bench_total', 'value': total, 'unit': 'sec',
            'sf': sf_val, 'cal': cal_compact, 'queries': {},
            'note': 'per-query map in BENCH_LOCAL.json (stdout cap)',
        }, separators=(',', ':'))
    assert len(line) <= 1995, 'bench stdout line grew past the tail capture'
    spark.stop()
    # printed LAST so no later stdout can push it out of a tail capture
    print(line, flush=True)


if __name__ == '__main__':
    main()
