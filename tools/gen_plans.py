"""Generate PLANS.md: annotated physical plans for headline queries."""
import sys
sys.path.insert(0, '/root/repo')
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master('local[8]')
         .config('spark.sql.shuffle.partitions','8')
         .config('spark.sql.adaptive.enabled','true')
         .config('spark.ui.enabled','false').getOrCreate())
spark.sparkContext.setLogLevel('ERROR')
import __spark_entry__ as e
q = e.queries()
SF = '/root/testdata/sf0.001'

PICKS = [
    ('rbql_select_where', 'Filter + projection through the RBQL engine: the predicate reaches the parquet scan (PushedFilters), only referenced columns are read (ReadSchema), the arithmetic runs in whole-stage codegen.'),
    ('rbql_group_agg', 'TPC-H-Q1-shaped aggregation: map-side partial aggregation before the exchange; exact MEDIAN forces ObjectHashAggregate (typed imperative aggregate) — the one non-codegen operator, inherent to exact percentiles.'),
    ('rbql_inner_join', 'Dimension join: B side broadcast (no shuffle of the fact side).'),
    ('rbql_multikey_join', 'Fact-to-fact self join: intentionally NOT hint-broadcast; at this test scale AQE may still auto-broadcast by size, at 100 TB it becomes a sort-merge join.'),
    ('rbql_select_top_order', 'TOP + ORDER BY compiles to TakeOrderedAndProject: no global sort materialization.'),
    ('rbql_js_filter_order', 'JavaScript-dialect query (round 14): the JS front-end costs the plan NOTHING — the transpiled ECMAScript comparisons translate to pushed parquet conjuncts (GreaterThan + IsNotNull + EqualNullSafe), slice() is a native substring, TOP+ORDER BY is TakeOrderedAndProject, zero Python stages.'),
    ('dedup_exact', 'Exact dedup: single hash-partial/final aggregation on the digest key.'),
    ('sim_ann_ivf', 'IVF-flat ANN: cell assignment is one native projection (centroid literals inline, zero Python stages on the corpus path); candidates come from a broadcast hash join against the probed query cells.'),
    ('sim_ann_lsh', 'Multi-table LSH ANN: ONE corpus FileScan computes all n_tables (table, bucket) ids via a single exploded projection — the per-table-branch shape would rescan the embeddings table n_tables times.'),
    ('decontaminate_ngram', 'Train/test decontamination: the benchmark shingle set broadcasts; the training corpus is scanned once and never shuffled before the join; all hashing native (md5/conv), no Python stage.'),
    ('multimodal_frame_sample', 'Frame sampling: the row-multiplying Python stage sits directly on the scan — no Exchange anywhere.'),
    ('text_repetition', 'Gopher repetition filters: pure per-doc projection — one corpus scan, no shuffle; staged multi-referenced aliases keep the tokenizer and each gram fold evaluated once (CollapseProject would re-inline them).'),
    ('dedup_lines', 'Corpus duplicate-line removal: line digests (never text) shuffle into the partial/final count; the frequent set broadcasts into the marking join; one reconstruction shuffle on doc_id; two corpus scans total.'),
    ('sample_temperature', 'Temperature mixture sampling: one tiny counting aggregation (c_min via a window over the counts, not a second corpus agg) broadcast back onto a stateless filter — the corpus is never shuffled.'),
    ('sim_ann_pq', 'PQ ANN (broadcast_queries default): the ADC sweep is ONE fused Arrow stage on the corpus scan (encode + score + per-batch shortlist prune); the shortlist broadcasts back into the float rescore scan — two corpus scans, no corpus shuffle.'),
    ('pipeline_training_data', 'Composed training-data pipeline with stage materialization: survivor + canonical frames persisted (InMemoryTableScan reuse), quality filter decided in-scan — ≤2 raw corpus FileScans (was 5), ≤8 distinct shuffles, 0 cartesian, 0 Python stages.'),
    ('join_asof', 'As-of join via union-and-carry-forward: ONE shuffle on the by-key feeds a single per-key window (last-non-null carry); no range join, no nested loop, never a cross product.'),
    ('quality_classifier', 'Hashed-feature LR scoring (round-13 shape): per-doc bucket counts computed IN-ROW (sorted-bucket run-length transforms in the scan), so the corpus reaches the per-doc aggregation with zero prior shuffles; the dim+1-row weight table broadcasts. One real corpus Exchange on the whole score path.'),
    ('join_interval', 'Interval join via time-binned equi-join: intervals explode to covered bins, the join on (key, bin) is a hash join (no BroadcastNestedLoopJoin despite the inequality containment filter).'),
    ('sample_shuffle', 'Deterministic global shuffle positions without a one-task window: the corpus row_number window partitions by the content-derived bucket; the only SinglePartition exchange is the n_buckets-row offsets aggregation.'),
    ('sim_ann_index_churn', 'Stored-index search after delete/append churn: PartitionFilters prune to the probed cells, the tombstone set anti-joins via broadcast right after the pruned scan, shortlist + float rescore as the clean-index path.'),
    ('sim_kmeans_cluster', 'Lloyd k-means final assignment: one corpus FileScan, the centroid argmax is a single native projection — NO Exchange anywhere in the plan (per-iteration centroid updates are separate bounded partial-agg jobs that never shuffle the corpus).'),
    ('sim_prototype_prune', 'Prototype-based pruning: the slim (id, cluster, sim) triple shuffles ONCE on cluster_id; both windows (rank + cluster size) reuse that partitioning — exactly one hashpartitioning Exchange, no ordering Exchange.'),
    ('dsir_weights', 'DSIR importance weights: the dim-row bucket models broadcast into the exploded gram stream — the raw corpus is scored without ever shuffling (its only Exchange is the final per-doc partial/final sum); all hashing native md5, zero Python stages.'),
    ('decontaminate_bloom', 'Bloom decontamination: the benchmark collapses to a distinct set-bit table (capped at bloom_bits rows) that BROADCASTS into the corpus (shingle × position) stream; only surviving hit rows shuffle — the corpus side never exchanges before the membership join.'),
    ('quality_classifier', 'LR quality-classifier scoring: the (dim+1)-row trained weight table broadcasts into the exploded gram stream — the corpus is scored without a corpus shuffle (its Exchanges are the per-doc partial/final count and sum aggregations); training ran beforehand as bounded gradient jobs over a persisted doc-partitioned feature triple, only dim+1 rows ever reaching the driver.'),
    ('retrieval_hybrid_rrf', 'Hybrid retrieval fusion: BM25 and cosine lists are each capped upstream (TakeOrderedAndProject / rank<=k), so the RRF union + aggregation + final TakeOrdered touch at most 100 rows — the corpus-scale work stays inside the two retrieval subplans.'),
    ('text_bm25_batch', 'Batch BM25 (N queries, one pass): the distinct query-term table broadcasts into the exploded token stream, so only hit rows ever reach an exchange; per-query top-k is the two-phase salted rank (two bounded window stages), never one task per query.'),
    ('text_c4_line_filter', 'C4 line-level cleaning: one fused per-document projection over the lined view (split, higher-order line filter, re-join) — single corpus FileScan, NO Exchange, no explode; line order preserved inside the row.'),
    ('text_gopher_filter', 'Gopher line-shape rules: every signal (symbol counts, bullet/ellipsis line ratios, alpha-word ratio, required words) is a native expression over the same row — single corpus FileScan, NO Exchange.'),
]

out = ['# PLANS — physical plans of headline queries (sf0.001, local)',
       '',
       'Auto-generated by tools/gen_plans (re-run after planner-affecting changes).',
       'These are the properties tests/test_plans.py asserts.', '']
for name, note in PICKS:
    df = q[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    out.append('## {}'.format(name))
    out.append('')
    out.append(note)
    out.append('')
    out.append('```')
    out.append(plan.strip()[:3000])
    out.append('```')
    out.append('')
open('/root/repo/PLANS.md', 'w').write('\n'.join(out))
print('written')
spark.stop()
