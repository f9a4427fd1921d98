"""Composed training-data pipeline: quality filter → minhash near-dup
dedup (LSH + connected components) → keep canonical → optional
embedding-space curation (SemDeDup + prototype pruning) → decontaminate
vs a benchmark suite → deterministic train split → sequence packing.

One function so the composition itself is a first-class, testable
operator.  The key scale concern is corpus I/O: composed naively, the
stages re-derive the survivor frame from the raw `documents` lineage at
every reuse point, which executed as FIVE full FileScans of the corpus in
the round-7 plan.  At 100 TB that is five full-corpus read passes where
two-to-three suffice, so `materialize=True` (default) persists the two
frames every later stage re-reads:

  * the quality-filter survivor frame (`kept`) — read by the minhash
    pair pipeline, the canonical cut, and (via canon) every later stage;
  * the canonical corpus (`canon`) — read by decontaminate AND re-joined
    against its own flag output.

With both pinned — and the quality filter run in `output='rows'` mode so
the survivor frame is decided in-scan (one corpus pass, no doc_id
self-join) — the executed plan scans the raw corpus at most twice: once
to build the survivor cache, plus once for the benchmark slice when the
benchmark is itself derived from the corpus (tests/test_pipeline_e2e.py
asserts the bound).  StorageLevel is MEMORY_AND_DISK: survivors of an aggressive
quality filter are a fraction of the corpus, and disk spill beats a
re-scan of the raw input.  Persisted frames follow the same lifecycle as
the dedup module's cached builds — call spark.catalog.clearCache()
between pipelines if the session is long-lived.

Reference scope note: the reference engine (rbql_engine.py) has no
pipeline composition; this is part of the deliberate large-scale
training-data superset (SURVEY.md §2 extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from rbql_spark.ops.dedup import (
    decontaminate, keep_canonical, minhash_dedup_pairs,
)
from rbql_spark.ops.sampling import pack_sequences, split_corpus
from rbql_spark.ops.textstats import quality_filter

__all__ = ['training_data_pipeline']


def training_data_pipeline(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    *,
    text_col: str = 'text',
    id_col: str = 'doc_id',
    quality_kwargs: dict | None = None,
    c4_kwargs: dict | None = None,
    gopher_kwargs: dict | None = None,
    classifier_weights: list | None = None,
    classifier_threshold: float = 0.5,
    classifier_kwargs: dict | None = None,
    minhash_kwargs: dict | None = None,
    decontaminate_kwargs: dict | None = None,
    split_kwargs: dict | None = None,
    pack_kwargs: dict | None = None,
    split_name: str = 'train',
    materialize: bool = True,
    export_path: str | None = None,
    export_shards: int = 1024,
    checkpoint_dir: str | None = None,
    with_metrics: bool = False,
    embeddings: DataFrame | None = None,
    embedding_col: str = 'embedding',
    semantic_kwargs: dict | None = None,
    prototype_kwargs: dict | None = None,
    dsir_target: DataFrame | None = None,
    dsir_kwargs: dict | None = None,
) -> DataFrame:
    """Run the full pipeline over `docs`, returning the packed `split_name`
    slice as (doc_id, n_tokens, bucket, bin_id, bin_seq).

    Every stage takes its standalone-gate defaults; per-stage kwargs
    override.  `benchmark=None` skips decontamination.  `materialize`
    persists the survivor and canonical frames (see module docstring);
    pass False to keep the composition fully lazy (e.g. when the caller
    persists at its own boundaries or the corpus fits a single scan).

    `export_path` additionally writes the cleaned `split_name` documents
    (id + text columns, pre-packing) as content-hash-sharded parquet via
    write_sharded and returns that WRITE's verification manifest
    (shard, n_rows, content_checksum) INSTEAD of the packing frame —
    the deployment-shaped tail of the pipeline, where downstream
    training jobs read pruned shards and re-verify content.

    `embeddings` (an (id_col, embedding_col) frame keyed like `docs`)
    enables the embedding-space curation stage AFTER surface dedup and
    BEFORE decontamination — the order the public pipelines use
    (SemDeDup runs on the fuzzy-deduped corpus): `semantic_kwargs`
    (default {}) drives semantic_dedup (drop all but one representative
    of each embedding-near-dup cluster), then `prototype_kwargs` (None →
    skip; e.g. {'k': 64, 'keep_frac': 0.7}) drives prototype_prune.
    Both stages reduce to a left_semi join of surviving ids against the
    canonical frame — the embedding table is scanned by its own
    operators and the corpus itself is never re-shuffled.  Rows of
    `docs` with no embedding row are DROPPED by the stage (the join
    semantics); curate only fully-embedded corpora.

    `classifier_weights` (a classifier_train output) enables the
    model-scored quality stage right AFTER the heuristic filter and
    BEFORE dedup (the GPT-3-recipe order): survivors scoring below
    `classifier_threshold` drop; `classifier_kwargs` passes through to
    classifier_score (ngram_max/seed).  Tokenless survivors emit
    no score row and drop with the stage.

    `dsir_target` (a corpus shaped like `docs`) enables DSIR importance
    resampling AFTER dedup/curation and BEFORE decontamination: the
    surviving corpus is scored against the target's hashed-n-gram
    distribution and cut to `dsir_kwargs['n_select']` documents
    (required; other dsir_sample kwargs pass through).  Selection runs
    on the persisted canonical frame, so the two scoring scans DSIR
    needs hit the stage cache, not raw parquet.  Decontamination stays
    last — selection must never resurrect a benchmark-contaminated doc.

    `with_metrics=True` returns `(result, metrics)` where metrics is a
    list of per-stage dicts {'stage', 'rows_in', 'rows_out'} — the
    survivor funnel a 100 TB operator needs without re-running stages.
    Counts come from the stage frames themselves: `kept`/`canon`/`clean`
    are persisted first (requires materialize=True; raises otherwise),
    so each count materializes a cache the downstream stages reuse
    rather than adding corpus scans, and the raw-input count is a
    parquet metadata-only count.  Metrics are computed eagerly at call
    time (they ARE the materialization points).
    """
    quality_kwargs = dict(quality_kwargs or {})
    minhash_kwargs = dict(minhash_kwargs or {})
    decontaminate_kwargs = dict(decontaminate_kwargs or {})
    split_kwargs = dict(split_kwargs or {})
    pack_kwargs = dict(pack_kwargs or {})
    pack_kwargs.setdefault('max_tokens', 2048)
    if with_metrics and not materialize:
        raise ValueError('with_metrics counts the persisted stage frames;'
                         ' it requires materialize=True')
    metrics: list[dict] = []

    # output='rows' decides the filter in-scan: survivors arrive with
    # their original columns from ONE corpus pass, no doc_id self-join.
    # The optional line-level / line-shape passes (c4_kwargs enables
    # c4_line_filter, which REWRITES text to the cleaned lines;
    # gopher_kwargs enables gopher_quality_filter) are fused projections
    # too, so stacking them keeps the whole curation front a single
    # corpus scan — filters compose in the conventional order:
    # line-clean -> line-shape rules -> doc-level heuristics.
    kept = docs
    if c4_kwargs is not None:
        from rbql_spark.ops.textstats import c4_line_filter
        kept = c4_line_filter(kept, text_col=text_col, id_col=id_col,
                              output='rows', **dict(c4_kwargs))
    if gopher_kwargs is not None:
        from rbql_spark.ops.textstats import gopher_quality_filter
        kept = gopher_quality_filter(kept, text_col=text_col,
                                     id_col=id_col, output='rows',
                                     **dict(gopher_kwargs))
    kept = quality_filter(kept, text_col=text_col, id_col=id_col,
                          output='rows', **quality_kwargs)
    if materialize:
        kept = kept.persist(StorageLevel.MEMORY_AND_DISK)
    if with_metrics:
        # parquet metadata count for the raw side; the kept count IS the
        # survivor-cache materialization the next stages reuse
        metrics.append({'stage': 'quality_filter',
                        'rows_in': docs.count(),
                        'rows_out': kept.count()})

    if classifier_weights is not None:
        # the GPT-3-recipe LR filter, adjacent to the heuristic filter
        # and BEFORE dedup: model-scored quality keeps/drops documents,
        # dedup then runs on the smaller high-quality corpus.  Scoring
        # reads the persisted survivor cache (no extra raw scans);
        # tokenless docs emit no score row and are dropped (they carry
        # no trainable text).  Train via classifier_train upstream.
        from rbql_spark.ops.classifier import classifier_score
        scored = classifier_score(kept, list(classifier_weights),
                                  text_col=text_col, id_col=id_col,
                                  **dict(classifier_kwargs or {}))
        keep_ids = (scored.where(F.col('prob')
                                 >= float(classifier_threshold))
                          .select(F.col('doc_id').alias(id_col)))
        kept = kept.join(keep_ids, id_col, 'left_semi')
        # persist under materialize (not just with_metrics): the stage
        # subtree would otherwise recompute at every later reuse of kept
        if materialize:
            kept = kept.persist(StorageLevel.MEMORY_AND_DISK)
        if with_metrics:
            metrics.append({'stage': 'classifier_filter',
                            'rows_in': metrics[-1]['rows_out'],
                            'rows_out': kept.count()})

    pairs = minhash_dedup_pairs(kept, text_col, id_col, **minhash_kwargs)
    # checkpoint_dir puts the connected-components iteration state on
    # reliable storage (keep_canonical → dedup_clusters contract): on a
    # cluster, executor loss mid-iteration then costs one round, not the
    # whole multi-hour pipeline
    canon = keep_canonical(kept, pairs, id_col=id_col,
                           checkpoint_dir=checkpoint_dir)
    if materialize:
        canon = canon.persist(StorageLevel.MEMORY_AND_DISK)
    if with_metrics:
        metrics.append({'stage': 'dedup_keep_canonical',
                        'rows_in': metrics[-1]['rows_out'],
                        'rows_out': canon.count()})

    if embeddings is not None:
        from rbql_spark.ops.cluster import prototype_prune
        from rbql_spark.ops.similarity import semantic_dedup
        emb = embeddings.select(F.col(id_col), F.col(embedding_col)) \
                        .join(canon.select(id_col), id_col, 'left_semi')
        sem_kept = semantic_dedup(emb, id_col=id_col, vec_col=embedding_col,
                                  **dict(semantic_kwargs or {}))
        canon = canon.join(sem_kept.select(id_col), id_col, 'left_semi')
        # persist under materialize (not just with_metrics): the stage
        # subtree would otherwise recompute inside decontamination's
        # double-read of canon, breaking the ≤2-corpus-scans contract
        if materialize:
            canon = canon.persist(StorageLevel.MEMORY_AND_DISK)
        if with_metrics:
            metrics.append({'stage': 'semantic_dedup',
                            'rows_in': metrics[-1]['rows_out'],
                            'rows_out': canon.count()})
        if prototype_kwargs is not None:
            pruned = prototype_prune(sem_kept, id_col=id_col,
                                     vec_col=embedding_col,
                                     **dict(prototype_kwargs))
            canon = canon.join(pruned.select(id_col), id_col, 'left_semi')
            if materialize:
                canon = canon.persist(StorageLevel.MEMORY_AND_DISK)
            if with_metrics:
                metrics.append({'stage': 'prototype_prune',
                                'rows_in': metrics[-1]['rows_out'],
                                'rows_out': canon.count()})

    if dsir_target is not None:
        from rbql_spark.ops.dsir import dsir_sample
        kw = dict(dsir_kwargs or {})
        if 'n_select' not in kw:
            raise ValueError("dsir_kwargs must include n_select")
        sel = dsir_sample(canon, dsir_target, text_col=text_col,
                          id_col=id_col, **kw)
        canon = canon.join(sel.select(F.col('doc_id').alias(id_col)),
                           id_col, 'left_semi')
        if materialize:
            canon = canon.persist(StorageLevel.MEMORY_AND_DISK)
        if with_metrics:
            metrics.append({'stage': 'dsir_select',
                            'rows_in': metrics[-1]['rows_out'],
                            'rows_out': canon.count()})

    if benchmark is not None:
        flagged = decontaminate(canon, benchmark, text_col=text_col,
                                id_col=id_col, **decontaminate_kwargs)
        clean = canon.join(flagged.select(id_col).dropDuplicates(),
                           id_col, 'left_anti')
        if with_metrics:
            clean = clean.persist(StorageLevel.MEMORY_AND_DISK)
            metrics.append({'stage': 'decontaminate',
                            'rows_in': metrics[-1]['rows_out'],
                            'rows_out': clean.count()})
    else:
        clean = canon

    train = (split_corpus(clean, key_col=id_col, **split_kwargs)
             .where(F.col('split') == split_name))
    if with_metrics:
        train = train.persist(StorageLevel.MEMORY_AND_DISK)
        metrics.append({'stage': 'split_' + split_name,
                        'rows_in': metrics[-1]['rows_out'],
                        'rows_out': train.count()})
    if export_path is not None:
        from rbql_spark.ops.export import write_sharded
        result = write_sharded(train.select(id_col, text_col), export_path,
                               n_shards=export_shards, key_col=id_col)
        return (result, metrics) if with_metrics else result
    result = pack_sequences(train, id_col=id_col, text_col=text_col,
                            **pack_kwargs)
    return (result, metrics) if with_metrics else result
