"""Similarity search over embedding columns (array<float>).

Superset operators (SURVEY §2.8) designed scale-first:

  * cosine_topk_bruteforce — exact top-k: broadcast the (small) query set,
    score every corpus vector with native array expressions
    (zip_with + aggregate → JVM, no Python), rank per query with a
    hash-partitioned window.  The corpus side streams — O(corpus × queries)
    compute but no corpus shuffle.
  * lsh_ann_topk — random-hyperplane LSH: bucket corpus and queries by sign
    bits, join on bucket (optionally multi-probe), exact-rescore candidates.
    The scale path: corpus scored once per matching bucket instead of per
    query.
  * ivf_ann_topk / ivf_ann_topk_int8 — coarse-cell pruning (+ int8
    candidate scoring with exact shortlist rescore).
  * pq_ann_topk — product-quantization ADC scan + exact shortlist rescore.
  * embedding_near_dup_pairs — near-duplicate vectors via bucketed cosine.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    # explicit zero-norm guard: degenerate vectors score -1.0 (sorts last)
    # instead of NULL from Spark's non-ANSI div-by-zero, so the expression
    # path agrees with the Arrow kernels' -1.0 rule for zero-norm vectors
    denom = _norm(a) * _norm(b)
    return F.when(denom > 0, _dot(a, b) / denom).otherwise(F.lit(-1.0))


def _round6_np(x):
    """round-half-AWAY-FROM-ZERO to 6 places on a numpy array — matches
    Spark's F.round (BigDecimal HALF_UP) for negative values too, where a
    plain floor(x*1e6+0.5)/1e6 rounds negative midpoints toward +inf.
    np.where (not copysign) so -0.0 inputs normalize to +0.0."""
    import numpy as np
    out = np.floor(np.abs(x) * 1e6 + 0.5) / 1e6
    return np.where(x < 0, -out, out)


def cosine_topk_bruteforce(corpus: DataFrame, queries: DataFrame, k: int = 10,
                           id_col: str = 'vec_id', vec_col: str = 'embedding',
                           query_id_col: str = 'query_id') -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries: (query_id, embedding).  Result: (query_id, vec_id, cosine_sim)
    with rank ≤ k, deterministic tie-break on vec_id.
    """
    as_double = lambda c: F.transform(c, lambda x: x.cast('double'))  # noqa: E731
    c = corpus.select(F.col(id_col).alias('vec_id'), as_double(F.col(vec_col)).alias('__cv'))
    q = queries.select(F.col(query_id_col).alias('query_id'), as_double(F.col(vec_col)).alias('__qv'))
    scored = (c.join(F.broadcast(q))
               .select('query_id', 'vec_id',
                       F.round(cosine(F.col('__cv'), F.col('__qv')), 6).alias('cosine_sim')))
    # rank on the ROUNDED similarity (+ vec_id) so rankings are reproducible
    # across engines/float orders.  topk_per_group, not a naive per-query
    # window: PARTITION BY query_id holds the ENTIRE corpus per query (a
    # single sort task per query at scale); the salted two-phase rank is
    # exact at salt_buckets× the parallelism.  The final orderBy is over
    # ≤ n_queries×k rows — bounded, not a corpus-scale sort.
    from .skew import topk_per_group
    return (topk_per_group(scored, int(k), ['query_id'],
                           [F.col('cosine_sim').desc(),
                            F.col('vec_id').asc()],
                           salt_key=F.col('vec_id'))
            .select('query_id', 'vec_id', 'cosine_sim', 'rank')
            .orderBy('query_id', 'rank'))


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id from random hyperplanes — native array math."""
    bucket = F.lit(0).cast('long')
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(vec, plane) >= 0, F.lit(1).cast('long')).otherwise(F.lit(0).cast('long'))
        bucket = bucket + F.shiftleft(bit, i)
    return bucket


def lsh_ann_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                 dim: int = 32, n_planes: int = 8, n_tables: int = 4,
                 id_col: str = 'vec_id', vec_col: str = 'embedding',
                 query_id_col: str = 'query_id', seed: int = 42,
                 multiprobe: int = 0) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH + exact rescore.

    Each of n_tables hash tables buckets vectors by n_planes sign bits; a
    query's candidates are corpus vectors sharing its bucket in ANY table.
    Shuffle pattern: corpus explodes ×n_tables, hash join on (table, bucket).

    ALL n_tables bucket ids are computed in ONE projection per side
    (explode over an array of (table, bucket) structs) — Spark does not
    reuse FileScans across union branches, so the per-table-branch shape
    would read the corpus n_tables times (n_tables full scans of a 100 TB
    embeddings table).  One scan, same rows, same result.

    multiprobe > 0 additionally probes, per table, the `multiprobe`
    single-bit-flip neighbor buckets whose hyperplane margins are
    smallest (|dot| rounded to 6, ties to the lower plane index —
    deterministic, oracle-replayable).  Multiprobe is the 100 TB memory
    lever: it buys the recall of extra hash tables by expanding only the
    QUERY side (a few more rows in the broadcast), instead of replicating
    the corpus ×n_tables in the exploded scan.
    """
    as_double = lambda col: F.transform(col, lambda x: x.cast('double'))  # noqa: E731
    c = corpus.select(F.col(id_col).alias('vec_id'), as_double(F.col(vec_col)).alias('__cv'))
    q = queries.select(F.col(query_id_col).alias('query_id'), as_double(F.col(vec_col)).alias('__qv'))
    table_planes = [_hyperplanes(dim, n_planes, seed=seed + 1000 * t)
                    for t in range(n_tables)]

    def _table_buckets(vec: Column, probes: int = 0) -> Column:
        entries = []
        for t, planes in enumerate(table_planes):
            bucket = _bucket_expr(vec, planes)
            entries.append(F.struct(F.lit(t).alias('table'),
                                    bucket.alias('bucket')))
            if probes > 0:
                # flip the `probes` lowest-|margin| plane bits, one at a
                # time: sort (round(|dot|, 6), idx) structs, take the
                # head, XOR the chosen bit into the exact bucket
                margins = F.array(*[
                    F.struct(F.round(F.abs(_dot(vec, F.array(
                        *[F.lit(float(x)) for x in p]))), 6).alias('m'),
                        F.lit(i).alias('idx'))
                    for i, p in enumerate(planes)])
                flips = F.slice(F.array_sort(margins), 1, probes)
                for j in range(min(probes, len(planes))):
                    bit = F.element_at(flips, j + 1)['idx']
                    # shiftleft takes only literal shift counts — 2^bit via
                    # pow is exact well past any plausible n_planes
                    mask = F.pow(F.lit(2.0), bit.cast('double')).cast('long')
                    entries.append(F.struct(
                        F.lit(t).alias('table'),
                        bucket.bitwiseXOR(mask).alias('bucket')))
        return F.explode(F.array(*entries))

    cb = (c.select('vec_id', '__cv', _table_buckets(F.col('__cv')).alias('tb'))
           .select('vec_id', '__cv', 'tb.table', 'tb.bucket'))
    qb = (q.select('query_id', '__qv',
                   _table_buckets(F.col('__qv'), probes=multiprobe).alias('tb'))
           .select('query_id', '__qv', 'tb.table', 'tb.bucket')
           .dropDuplicates(['query_id', 'table', 'bucket']))
    cand = (cb.join(F.broadcast(qb), on=['table', 'bucket'])
              .select('query_id', 'vec_id', '__cv', '__qv')
              .dropDuplicates(['query_id', 'vec_id']))
    # rank on the ROUNDED similarity (+ vec_id) so rankings are reproducible
    # across engines/float orders — same policy as cosine_topk_bruteforce.
    # topk_per_group, not a naive per-query window: a hot LSH bucket can
    # put a corpus-scale candidate set in one query's partition
    from .skew import topk_per_group
    scored = cand.select('query_id', 'vec_id',
                         F.round(cosine(F.col('__cv'), F.col('__qv')), 6)
                          .alias('cosine_sim'))
    return (topk_per_group(scored, int(k), ['query_id'],
                           [F.col('cosine_sim').desc(),
                            F.col('vec_id').asc()],
                           salt_key=F.col('vec_id'))
            .select('query_id', 'vec_id', 'cosine_sim', 'rank')
            .orderBy('query_id', 'rank'))


def train_ivf_centroids(corpus: DataFrame, n_cells: int = 16,
                        seed: int = 42, quantizer: str = 'hash',
                        id_col: str = 'vec_id',
                        vec_col: str = 'embedding') -> list[list[float]]:
    """Train (or hash-select) IVF coarse-quantizer centroids WITHOUT
    running a search — the pre-training face of ivf_ann_topk.

    Training is deterministic per (data, n_cells, seed, quantizer)
    (the round-6 contract: seeded k-means / content-hash selection), so
    callers that run many searches over the same corpus should train
    once, persist the plain ``list[list[float]]``, and pass it back via
    ``ivf_ann_topk(..., centroids=...)`` — retraining the quantizer per
    query batch is pure waste (it was the dominant cost of the
    kmeans-recall benchmark gate before round 12 cached it)."""
    as_double = lambda col: F.transform(col, lambda x: x.cast('double'))  # noqa: E731
    c = corpus.select(F.col(id_col).alias('vec_id'),
                      as_double(F.col(vec_col)).alias('__cv'))
    return _train_centroids(c, n_cells, seed, quantizer)


# Lloyd iterations for the MLlib coarse quantizer — exported so cache
# keys built on top of centroid training (e.g. the benchmark-entry
# centroid cache) can derive their key from the SAME value that drives
# the fit, instead of a hand-written literal that can drift.
KMEANS_MAX_ITER = 20


def _train_centroids(c: DataFrame, n_cells: int, seed: int,
                     quantizer: str) -> list[list[float]]:
    """Coarse-quantizer centroids for IVF (see ivf_ann_topk docstring)."""
    if quantizer == 'kmeans':
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
        train = c.select(array_to_vector(F.col('__cv')).alias('features'))
        model = KMeans(k=n_cells, seed=seed, maxIter=KMEANS_MAX_ITER).fit(train)
        return [[float(x) for x in ctr] for ctr in model.clusterCenters()]
    if quantizer == 'hash':
        cent_rows = (c.select(
                        '__cv',
                        F.md5(F.concat(F.col('vec_id').cast('string'),
                                       F.lit(':{}'.format(seed)))).alias('__h'),
                        'vec_id')
                     .orderBy('__h', 'vec_id')
                     .limit(n_cells)
                     .collect())
        return [[float(x) for x in r['__cv']] for r in cent_rows]
    raise ValueError("quantizer must be 'hash' or 'kmeans'")


def _cell_exprs(centroids: list[list[float]], n_probe: int):
    """(argmax_cell, probe_cells) expression builders over inline centroid
    literals — similarities rounded to 6 places BEFORE comparison so
    argmax/probe order is reproducible across engines."""

    def _sim(vec: Column, cv: list[float]) -> Column:
        return F.round(cosine(vec, F.array(*[F.lit(x) for x in cv])), 6)

    def argmax_cell(vec: Column) -> Column:
        # array_max over (sim, -cell): ties on sim resolve to the larger
        # -cell, i.e. the LOWEST cell index — mirrored by the oracle's
        # ORDER BY sim DESC, cell ASC
        arr = F.array(*[F.struct(_sim(vec, cv).alias('s'),
                                 F.lit(-i).alias('ni'))
                        for i, cv in enumerate(centroids)])
        return -F.array_max(arr)['ni']

    def probe_cells(vec: Column) -> Column:
        # ascending sort of (-sim, cell) = sim DESC, cell ASC; negation
        # applied AFTER rounding so both engines order identical values
        arr = F.array(*[F.struct((-_sim(vec, cv)).alias('ns'),
                                 F.lit(i).alias('cell'))
                        for i, cv in enumerate(centroids)])
        return F.transform(F.slice(F.array_sort(arr), 1, n_probe),
                           lambda s: s['cell'])

    return argmax_cell, probe_cells


def _cells_arrow(df: DataFrame, centroids: list[list[float]], top_n: int,
                 vec_col: str) -> DataFrame:
    """Top-n cell ids per row from a BROADCAST centroid matrix — the
    large-n_cells regime of IVF cell assignment/probing.

    The inline `_cell_exprs` path embeds n_cells × dim doubles as plan
    literals in every expression: correct and shuffle-free, but the plan
    (and its codegen) grows linearly with n_cells — fine in the hundreds,
    pathological at 4096+.  Here the centroids travel once per executor
    as a Spark broadcast variable and the argmax runs as a numpy kernel
    over Arrow batches: plan size is CONSTANT in n_cells, still a single
    scan with no shuffle (each input row expands to its top_n cells
    in-place).

    Ordering matches the inline path: similarities rounded half-up to 6
    places, cells ranked sim DESC then cell ASC (stable argsort of the
    negated sims keeps ties in ascending-cell order).
    """
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.sqrt(np.einsum('ij,ij->i', C, C))
    bc = df.sparkSession.sparkContext.broadcast((C, cn))
    out_schema = StructType(list(df.schema.fields)
                            + [StructField('cell', IntegerType())])

    def assign(batches):
        CC, ccn = bc.value
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64)
                            for v in pdf[vec_col]])
            denom = np.outer(np.sqrt(np.einsum('ij,ij->i', X, X)), ccn)
            with np.errstate(divide='ignore', invalid='ignore'):
                sims = _round6_np((X @ CC.T) / denom)
            sims = np.where(denom > 0, sims, -1.0)
            idx = np.argsort(-sims, axis=1, kind='stable')[:, :top_n]
            out = pdf.loc[pdf.index.repeat(idx.shape[1])].reset_index(drop=True)
            out['cell'] = idx.reshape(-1).astype('int32')
            yield out

    return df.mapInPandas(assign, schema=out_schema)


def ivf_ann_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                 n_cells: int = 16, n_probe: int = 4, n_assign: int = 1,
                 id_col: str = 'vec_id', vec_col: str = 'embedding',
                 query_id_col: str = 'query_id', seed: int = 42,
                 quantizer: str = 'hash',
                 broadcast_queries: bool = True,
                 centroid_strategy: str = 'auto',
                 centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF-flat ANN: partition the corpus into coarse cells around centroid
    vectors; each query probes only its n_probe nearest cells and
    exact-rescores those candidates.

    quantizer='hash' (default) picks centroids by content hash — the
    n_cells corpus vectors with the smallest md5(vec_id:seed): centroid
    quality affects only recall, never correctness, and hash selection
    keeps the pipeline a pure function of the data that the DuckDB
    differential oracle replays value-for-value.  quantizer='kmeans'
    trains a seeded Spark ML k-means coarse quantizer instead — better
    cell balance and recall, but k-means cluster centers are not
    bit-replayable in another engine, so use it where recall matters more
    than a differential oracle.  Assignment/probe/rescore are identical
    for both.

    Scale shape: centroids ride inline in the expressions (n_cells × dim
    literals — broadcast by the plan itself, but they bloat the plan for
    very large n_cells: keep n_cells in the hundreds, shard the index
    beyond that); cell assignment is a single native projection over the
    corpus (argmax via array_max over (sim, -cell) structs — no join, no
    shuffle); candidates come from one corpus ⋈ probed-queries hash join
    on the cell id, touching ~n_probe/n_cells of the corpus per query.
    Note the inline strategy also pays a PER-CALL driver-side cost —
    building and compiling the n_cells × dim literal trees (~4 s at
    16 cells × 64 dims, measured) — that amortizes over a corpus-scale
    scan but dominates small interactive searches: for repeated
    interactive use pass centroid_strategy='arrow' (identical results;
    parity is tested) and pre-trained `centroids`.
    Ranking windows partition by query_id.  Similarities are rounded to 6
    places BEFORE any comparison so argmax/probe/rank order is
    reproducible across engines.

    broadcast_queries=True assumes an interactive-sized query set (each
    executor holds queries × n_probe rows INCLUDING the embedding
    arrays); for bulk query workloads pass False to fall back to a plain
    shuffle join on the cell id.

    n_assign > 1 is INDEX-side multiprobe (FAISS's multi-assignment):
    each corpus vector is indexed in its n_assign nearest cells, so a
    query's probes also catch vectors that sit just across a cell
    boundary.  The candidate set is a strict superset of n_assign=1 —
    recall can only improve — at the cost of replicating the index
    ×n_assign (storage, not scan compute, in a deployment that
    materializes the cell assignment).  Cell ranking reuses the same
    deterministic round-6 probe order, so the DuckDB oracle replays the
    assignment exactly.
    """
    as_double = lambda col: F.transform(col, lambda x: x.cast('double'))  # noqa: E731
    c = corpus.select(F.col(id_col).alias('vec_id'), as_double(F.col(vec_col)).alias('__cv'))
    q = queries.select(F.col(query_id_col).alias('query_id'), as_double(F.col(vec_col)).alias('__qv'))
    # pre-trained centroids (train_ivf_centroids) skip the per-call
    # quantizer training — the repeated-search fast path; they override
    # n_cells/seed/quantizer, which only parameterize training
    if centroids is None:
        centroids = _train_centroids(c, n_cells, seed, quantizer)
    else:
        centroids = [[float(x) for x in cv] for cv in centroids]

    # centroid_strategy: 'inline' embeds the centroids as plan literals
    # (zero Python stages; plan grows with n_cells — keep it for n_cells
    # in the hundreds), 'arrow' ships them as a broadcast variable into a
    # numpy kernel (constant plan size — the n_cells ≥ thousands regime);
    # 'auto' switches on the actual centroid count
    strategy = centroid_strategy
    if strategy == 'auto':
        strategy = 'inline' if len(centroids) <= 256 else 'arrow'
    if strategy == 'arrow':
        assigned = _cells_arrow(c, centroids, top_n=max(1, n_assign),
                                vec_col='__cv')
        probed = _cells_arrow(q, centroids, top_n=n_probe, vec_col='__qv')
    else:
        _argmax_cell, _probe_cells = _cell_exprs(centroids, n_probe)
        if n_assign > 1:
            _, _assign_cells = _cell_exprs(centroids, n_assign)
            assigned = c.select('vec_id', '__cv',
                                F.explode(_assign_cells(F.col('__cv'))).alias('cell'))
        else:
            assigned = c.select('vec_id', '__cv',
                                _argmax_cell(F.col('__cv')).alias('cell'))
        probed = q.select('query_id', '__qv',
                          F.explode(_probe_cells(F.col('__qv'))).alias('cell'))
    # with n_assign=1 a corpus vector lives in exactly one cell and a query
    # probes distinct cells, so candidates are already unique per
    # (query, vec); multi-assignment can surface a pair via several cells
    cand = assigned.join(F.broadcast(probed) if broadcast_queries else probed,
                         'cell')
    if n_assign > 1:
        cand = cand.dropDuplicates(['query_id', 'vec_id'])
    # topk_per_group, not a naive per-query window: each query's probed
    # cells hold ≈ n_probe/n_cells of the corpus — one sort task per
    # query otherwise
    from .skew import topk_per_group
    scored = cand.select('query_id', 'vec_id',
                         F.round(cosine(F.col('__cv'), F.col('__qv')), 6)
                          .alias('cosine_sim'))
    return (topk_per_group(scored, int(k), ['query_id'],
                           [F.col('cosine_sim').desc(),
                            F.col('vec_id').asc()],
                           salt_key=F.col('vec_id'))
            .select('query_id', 'vec_id', 'cosine_sim', 'rank')
            .orderBy('query_id', 'rank'))


def _quantize_int8(vec: Column, scale: float = 127.0) -> Column:
    """Deterministic symmetric int8 quantization: clamp to [-1, 1], scale,
    floor(x + 0.5).  Plain IEEE double math both engines replay bit-for-bit
    (floor(x*127+0.5) avoids engine-specific round-half modes)."""
    return F.transform(vec, lambda x: F.floor(
        F.least(F.greatest(x, F.lit(-1.0)), F.lit(1.0)) * scale + F.lit(0.5)))


def ivf_ann_topk_int8(corpus: DataFrame, queries: DataFrame, k: int = 10,
                      n_cells: int = 16, n_probe: int = 4, n_assign: int = 1,
                      rescore_factor: int = 4,
                      id_col: str = 'vec_id', vec_col: str = 'embedding',
                      query_id_col: str = 'query_id', seed: int = 42,
                      broadcast_queries: bool = True,
                      centroid_strategy: str = 'auto') -> DataFrame:
    """IVF ANN with int8-compressed candidate scoring: probe cells as in
    ivf_ann_topk, order candidates by the cosine of their int8-quantized
    vectors, keep the top rescore_factor × k per query, and exact-rescore
    only that shortlist with the full-precision floats.

    The 100 TB motivation: the candidate sweep is the wide read — scoring
    it from an int8 copy cuts its bytes 4× vs float32 (8× vs double) and
    the shortlist join touches only queries × rescore_factor × k float
    vectors.  Here the int8 column is derived in-plan (the corpus only
    carries floats); a production deployment materializes (vec_id, cell,
    int8 vec) as the stored index and keeps floats in a separate column
    only the rescore reads.  Quantization is deterministic byte math
    (_quantize_int8), so the DuckDB differential oracle replays the whole
    pipeline — shortlist membership included — value-for-value.

    Shuffle shape: one corpus scan computes (cell, int8) inline; the
    probed-query side joins exactly as in ivf_ann_topk (broadcast by
    default, broadcast_queries=False for bulk workloads); the shortlist
    (tiny) BROADCASTS back into a second corpus scan for the float
    rescore — the corpus is never shuffled.

    centroid_strategy / n_assign mirror ivf_ann_topk: 'arrow' ships the
    centroids as a broadcast variable into a numpy kernel (constant plan
    size in n_cells), n_assign > 1 indexes each vector in its n_assign
    nearest cells (index-side multiprobe; the int8 quantization composes
    on the cell-tagged rows either way).
    """
    as_double = lambda col: F.transform(col, lambda x: x.cast('double'))  # noqa: E731
    c = corpus.select(F.col(id_col).alias('vec_id'), as_double(F.col(vec_col)).alias('__cv'))
    q = queries.select(F.col(query_id_col).alias('query_id'), as_double(F.col(vec_col)).alias('__qv'))
    centroids = _train_centroids(c, n_cells, seed, quantizer='hash')

    strategy = centroid_strategy
    if strategy == 'auto':
        strategy = 'inline' if len(centroids) <= 256 else 'arrow'
    if strategy == 'arrow':
        assigned8 = (_cells_arrow(c, centroids, top_n=max(1, n_assign),
                                  vec_col='__cv')
                     .select('vec_id', 'cell',
                             _quantize_int8(F.col('__cv')).alias('__v8')))
        probed8 = (_cells_arrow(q, centroids, top_n=n_probe, vec_col='__qv')
                   .select('query_id', 'cell',
                           _quantize_int8(F.col('__qv')).alias('__q8')))
    else:
        _argmax_cell, _probe_cells = _cell_exprs(centroids, n_probe)
        if n_assign > 1:
            _, _assign_cells = _cell_exprs(centroids, n_assign)
            cell_expr = F.explode(_assign_cells(F.col('__cv')))
        else:
            cell_expr = _argmax_cell(F.col('__cv'))
        assigned8 = c.select('vec_id', cell_expr.alias('cell'),
                             _quantize_int8(F.col('__cv')).alias('__v8'))
        probed8 = q.select('query_id',
                           F.explode(_probe_cells(F.col('__qv'))).alias('cell'),
                           _quantize_int8(F.col('__qv')).alias('__q8'))

    def _sim8(a: Column, b: Column) -> Column:
        na, nb = _dot(a, a), _dot(b, b)
        return F.when((na > 0) & (nb > 0),
                      F.round(_dot(a, b) / (F.sqrt(na) * F.sqrt(nb)), 6)) \
                .otherwise(F.lit(-1.0))

    cand8 = (assigned8.join(F.broadcast(probed8) if broadcast_queries else probed8,
                            'cell')
                      .select('query_id', 'vec_id',
                              _sim8(F.col('__v8'), F.col('__q8')).alias('sim8')))
    if n_assign > 1:
        # multi-assignment can surface a (query, vec) pair via several
        # cells with identical sim8 — dedup before the shortlist rank
        cand8 = cand8.dropDuplicates(['query_id', 'vec_id'])
    # topk_per_group for the candidate-set shortlist rank (corpus-scale
    # per query); the final rescore window below runs over the bounded
    # ≤ k×rescore_factor shortlist and stays a plain window
    from .skew import topk_per_group
    shortlist = topk_per_group(
        cand8, int(k * rescore_factor), ['query_id'],
        [F.col('sim8').desc(), F.col('vec_id').asc()],
        salt_key=F.col('vec_id'), rank_name='r8').select('query_id', 'vec_id')
    # exact rescore: tiny shortlist broadcast into the float column scan
    rescored = (c.join(F.broadcast(shortlist), 'vec_id')
                 .join(F.broadcast(q), 'query_id')
                 .select('query_id', 'vec_id',
                         F.round(cosine(F.col('__cv'), F.col('__qv')), 6).alias('cosine_sim')))
    w = Window.partitionBy('query_id').orderBy(F.col('cosine_sim').desc(), F.col('vec_id').asc())
    return (rescored.withColumn('rank', F.row_number().over(w))
                    .filter(F.col('rank') <= k)
                    .select('query_id', 'vec_id', 'cosine_sim', 'rank')
                    .orderBy('query_id', 'rank'))


def _assign_cells_np(X, centroids):
    """Numpy coarse-cell argmax over rounded cosine sims — the same
    ordering rules as _cell_exprs/_cells_arrow (round-6, ties → lowest
    cell, zero-norm rows → -1.0 sims)."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.sqrt(np.einsum('ij,ij->i', C, C))
    denom = np.outer(np.sqrt(np.einsum('ij,ij->i', X, X)), cn)
    with np.errstate(divide='ignore', invalid='ignore'):
        sims = _round6_np((X @ C.T) / denom)
    sims = np.where(denom > 0, sims, -1.0)
    return np.argsort(-sims, axis=1, kind='stable')[:, 0]


def _residualize_np(X, centroids):
    """X − centroid[assigned_cell] per row (FAISS residual encoding)."""
    import numpy as np
    C = np.asarray(centroids, dtype=np.float64)
    return X - C[_assign_cells_np(X, centroids)]


def _pq_codebooks(c: DataFrame, m: int, ks: int, seed: int,
                  residual_centroids: list[list[float]] | None = None
                  ) -> list[list[list[float]]]:
    """Per-subspace PQ codebooks from hash-selected training vectors: the
    ks corpus vectors with the smallest md5(vec_id:seed) donate their
    subvectors — codebook[j][code] = training_vec[code][j*s:(j+1)*s].
    Content-hash selection keeps the codebook a pure function of the data
    (replayable in any engine); k-means codebooks would buy recall at the
    cost of the differential oracle, as with ivf_ann_topk's quantizers."""
    rows = (c.select('__cv',
                     F.md5(F.concat(F.col('vec_id').cast('string'),
                                    F.lit(':{}'.format(seed)))).alias('__h'),
                     'vec_id')
             .orderBy('__h', 'vec_id')
             .limit(ks)
             .collect())
    vecs = [[float(x) for x in r['__cv']] for r in rows]
    if not vecs:
        raise ValueError('PQ codebook training needs a non-empty corpus '
                         '(got 0 training vectors)')
    if residual_centroids is not None:
        # residual PQ: the codebook entries are donated RESIDUAL
        # subvectors (training vec − its assigned coarse centroid)
        import numpy as np
        R = _residualize_np(np.asarray(vecs, dtype=np.float64),
                            residual_centroids)
        vecs = [[float(x) for x in row] for row in R]
    dim = len(vecs[0])
    if dim % m != 0:
        raise ValueError('dim {} not divisible by m={}'.format(dim, m))
    s = dim // m
    return [[v[j * s:(j + 1) * s] for v in vecs] for j in range(m)]


def _pq_codebooks_kmeans(c: DataFrame, m: int, ks: int, seed: int,
                         sample_size: int = 4096,
                         n_iter: int = 20,
                         residual_centroids: list[list[float]] | None = None
                         ) -> list[list[list[float]]]:
    """Per-subspace k-means PQ codebooks (the FAISS-standard trainer):
    Lloyd iterations over each of the m subvector spaces, run driver-side
    in numpy on a BOUNDED deterministic training sample (the sample_size
    corpus vectors with the smallest md5(vec_id:seed) — the same
    content-hash selection rule as the hash codebooks, so the sample is a
    pure function of the data).  PQ codebooks are conventionally trained
    on a sample at any corpus scale, so the driver-side collect is
    scale-sane: it is O(sample_size × dim), never O(corpus).

    Deterministic given (data, seed, n_iter): init = the ks hash-first
    sample rows' subvectors, ties in assignment go to the lowest code,
    empty clusters keep their previous centroid.  k-means centers are NOT
    bit-replayable in another engine, so kmeans-quantized PQ is gated by
    recall dominance over the hash codebooks rather than a differential
    oracle (see ivf_ann_topk's quantizer note)."""
    import numpy as np

    rows = (c.select('__cv',
                     F.md5(F.concat(F.col('vec_id').cast('string'),
                                    F.lit(':{}'.format(seed)))).alias('__h'),
                     'vec_id')
             .orderBy('__h', 'vec_id')
             .limit(int(sample_size))
             .collect())
    X = np.asarray([[float(x) for x in r['__cv']] for r in rows])
    if X.size == 0:
        raise ValueError('PQ codebook training needs a non-empty corpus '
                         '(got 0 training vectors)')
    if residual_centroids is not None:
        X = _residualize_np(X, residual_centroids)   # Lloyd on residuals
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError('dim {} not divisible by m={}'.format(dim, m))
    s = dim // m
    books = []
    for j in range(m):
        D = X[:, j * s:(j + 1) * s]
        cent = D[:ks].copy()
        if len(cent) < ks:                       # tiny corpus: pad by cycling
            reps = -(-ks // max(1, len(cent)))
            cent = np.tile(cent, (reps, 1))[:ks]
        for _ in range(n_iter):
            d2 = ((D[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            asg = np.argmin(d2, axis=1)          # first min = lowest code
            new = cent.copy()
            for code in range(ks):
                mask = asg == code
                if mask.any():
                    new[code] = D[mask].mean(axis=0)
            if np.array_equal(new, cent):
                break
            cent = new
        books.append([[float(x) for x in row] for row in cent])
    return books


def _pq_code_exprs(books: list[list[list[float]]]):
    """(code_builder, recon_builder) over inline codebook literals —
    shared by pq_ann_topk and ivf_pq_ann_topk."""
    m = len(books)
    s = len(books[0][0])
    book_lits = [F.array(*[F.array(*[F.lit(x) for x in cb]) for cb in books[j]])
                 for j in range(m)]

    def _code(vec: Column, j: int) -> Column:
        # transform with an (entry, index) lambda iterates the codebook as
        # a LOOP in generated code — an unrolled array of ks per-code L2
        # expressions compiles to a multi-second janino job per stage and
        # dominated the runtime; the arithmetic (zip-square fold → sqrt →
        # round 6, ties → lowest code) is unchanged
        sub = F.slice(vec, j * s + 1, s)
        keyed = F.transform(
            book_lits[j],
            lambda cb, i: F.struct(
                F.round(F.sqrt(F.aggregate(
                    F.zip_with(sub, cb, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, v: acc + v)), 6).alias('d'),
                i.alias('code')))
        # array_min over (round(dist, 6), code): min dist, ties → lowest code
        return F.array_min(keyed)['code']

    def _recon(codes: list[Column]) -> Column:
        # decoded vector: concatenation of the m codebook entries
        return F.concat(*[F.element_at(book_lits[j], codes[j] + 1)
                          for j in range(m)])

    return _code, _recon


def _pq_codes_arrow(c: DataFrame, books: list[list[list[float]]],
                    centroids: list[list[float]] | None = None,
                    n_assign: int = 1, residual: bool = False,
                    emit_recon: bool = False) -> DataFrame:
    """Arrow-batched PQ encode: (vec_id, __cv) → (vec_id, __cv, __c0..__c{m-1}).

    Same semantics as the native `_pq_code_exprs` path — per-subspace L2
    argmin on distances rounded to 6 places, ties to the lowest code, and
    the squared-difference sum accumulated in INDEX ORDER so the IEEE
    addition sequence matches the native zip_with/aggregate left fold —
    but the m × ks × s arithmetic runs as numpy kernels over Arrow
    batches instead of interpreted per-element HOF closures (the encode
    dominated the ADC scan's wall time: interpreted higher-order
    functions cost ~µs per element).

    Rounding note: half-away-from-zero at 6 places (_round6_np) — it can
    differ from Spark's BigDecimal HALF_UP only for values within one ulp
    of a decimal grid midpoint, and a difference matters only when it
    flips an argmin between two distances < 1e-6 apart; verified
    value-identical to the native path and the DuckDB replay on the gate
    data.

    `centroids`/`n_assign` optionally FUSE the IVF coarse-cell assignment
    into the same Arrow stage (the ivf_pq centroid_strategy='arrow'
    path): each row additionally gains its n_assign nearest cell ids
    (same ordering rules as _cells_arrow), expanding to n_assign output
    rows — codes + cells from ONE kernel pass over one corpus scan, plan
    size constant in n_cells.

    `residual=True` (requires centroids) encodes FAISS-style residuals:
    each (row, assigned cell) copy encodes `vec − centroid[cell]` — with
    multi-assignment every copy gets its OWN residual codes, as a real
    IVFPQ index stores them.  `emit_recon=True` additionally gathers the
    decoded reconstruction per output row (`__rv` — centroid + codebook
    entries when residual, plain codebook concat otherwise), so the ADC
    scoring downstream needs no plan-side codebook/centroid literals.

    The vec_id output type follows the input column (ids are not
    necessarily bigint).
    """
    import numpy as np
    import pandas as pd

    if residual and centroids is None:
        raise ValueError('residual encoding requires centroids')
    m = len(books)
    s = len(books[0][0])
    cb = [np.asarray(b, dtype=np.float64) for b in books]
    schema = ('vec_id {}, __cv array<double>, '.format(dict(c.dtypes)['vec_id'])
              + ', '.join('__c{} int'.format(j) for j in range(m)))
    if centroids is not None:
        schema += ', cell int'
        C = np.asarray(centroids, dtype=np.float64)
        ccn = np.sqrt(np.einsum('ij,ij->i', C, C))
    if emit_recon:
        schema += ', __rv array<double>'

    def codes_for(Xin):
        """(n, m) int32 code matrix + (n, dim) reconstruction gather."""
        cols, parts = [], []
        for j in range(m):
            sub = Xin[:, j * s:(j + 1) * s]
            sq = (sub[:, None, :] - cb[j][None, :, :]) ** 2   # (n, ks, s)
            acc = sq[:, :, 0].copy()
            for t in range(1, s):
                acc += sq[:, :, t]
            d = _round6_np(np.sqrt(acc))
            # first occurrence of the min = the lowest code (tie rule)
            code = np.argmin(d, axis=1)
            cols.append(code.astype('int32'))
            parts.append(cb[j][code])
        return cols, np.concatenate(parts, axis=1)

    def encode(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64)
                            for v in pdf['__cv']])
            if centroids is not None:
                denom = np.outer(np.sqrt(np.einsum('ij,ij->i', X, X)), ccn)
                with np.errstate(divide='ignore', invalid='ignore'):
                    sims = _round6_np((X @ C.T) / denom)
                sims = np.where(denom > 0, sims, -1.0)
                idx = np.argsort(-sims, axis=1, kind='stable')[:, :max(1, n_assign)]
                cells = idx.reshape(-1)
                out = pdf.loc[pdf.index.repeat(idx.shape[1])].reset_index(drop=True)
                Xe = np.repeat(X, idx.shape[1], axis=0)
                Xq = Xe - C[cells] if residual else Xe
                cols, R = codes_for(Xq)
                res = {'vec_id': out['vec_id'].to_numpy(), '__cv': out['__cv']}
                for j in range(m):
                    res['__c{}'.format(j)] = cols[j]
                res['cell'] = cells.astype('int32')
                if emit_recon:
                    if residual:
                        R = R + C[cells]
                    res['__rv'] = list(R)
                yield pd.DataFrame(res)
            else:
                cols, R = codes_for(X)
                res = {'vec_id': pdf['vec_id'].to_numpy(), '__cv': pdf['__cv']}
                for j in range(m):
                    res['__c{}'.format(j)] = cols[j]
                if emit_recon:
                    res['__rv'] = list(R)
                yield pd.DataFrame(res)

    return c.mapInPandas(encode, schema=schema)


def _pq_adc_scored_arrow(c: DataFrame, qrows: list,
                         qid_type: str, books: list[list[list[float]]],
                         shortk: int | None = None) -> DataFrame:
    """Fused PQ encode + ADC scoring in one Arrow stage:
    (vec_id, __cv) → (query_id, vec_id, pq_sim).

    Per batch: per-subspace argmin codes (identical semantics to
    _pq_codes_arrow), reconstruction gathered from the codebooks, then
    one numpy matmul against the collected query matrix.  pq_sim =
    round(cos(recon, query), 6) with the same degenerate-norm -1.0 rule
    as the expression path (cosine()'s zero-norm guard).  Both id output
    types follow the input columns — ids are not necessarily bigint.

    `shortk` prunes each batch to its top-shortk rows per query (by
    pq_sim desc, vec_id asc — the global shortlist order, so a per-batch
    top-shortk is a strict superset of the batch's contribution to the
    global top-shortk).  At scale this turns the stage's output from
    corpus × queries rows into batches × queries × shortk rows, so the
    shortlist rank shuffles a bounded set instead of the whole pair
    space.

    `qrows` is the collected query set — pq_ann_topk takes this kernel
    only under broadcast_queries=True (the "interactive-sized query
    set" contract); bulk query workloads take its native path with
    broadcast_queries=False.
    """
    import numpy as np
    import pandas as pd

    m = len(books)
    s = len(books[0][0])
    cb = [np.asarray(b, dtype=np.float64) for b in books]
    qids = np.asarray([r['query_id'] for r in qrows])
    Q = np.asarray([[float(x) for x in r['__qv']] for r in qrows])
    qn = np.sqrt(np.einsum('ij,ij->i', Q, Q)) if len(qrows) else None
    schema = 'query_id {}, vec_id {}, pq_sim double'.format(
        qid_type, dict(c.dtypes)['vec_id'])

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0 or len(qids) == 0:
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64)
                            for v in pdf['__cv']])
            parts = []
            for j in range(m):
                sub = X[:, j * s:(j + 1) * s]
                sq = (sub[:, None, :] - cb[j][None, :, :]) ** 2
                acc = sq[:, :, 0].copy()
                for t in range(1, s):
                    acc += sq[:, :, t]
                d = _round6_np(np.sqrt(acc))
                parts.append(cb[j][np.argmin(d, axis=1)])      # (n, s)
            R = np.concatenate(parts, axis=1)                  # (n, dim)
            rn = np.sqrt(np.einsum('ij,ij->i', R, R))
            denom = rn[:, None] * qn[None, :]
            with np.errstate(divide='ignore', invalid='ignore'):
                sims = _round6_np((R @ Q.T) / denom)
            sims = np.where(denom > 0, sims, -1.0)             # (n, nq)
            vids = pdf['vec_id'].to_numpy()
            if shortk is not None and shortk < n:
                qi_out, vi_out, s_out = [], [], []
                for qi in range(len(qids)):
                    # global shortlist order: pq_sim desc, vec_id asc
                    top = np.lexsort((vids, -sims[:, qi]))[:shortk]
                    qi_out.append(np.full(len(top), qids[qi]))
                    vi_out.append(vids[top])
                    s_out.append(sims[top, qi])
                yield pd.DataFrame({'query_id': np.concatenate(qi_out),
                                    'vec_id': np.concatenate(vi_out),
                                    'pq_sim': np.concatenate(s_out)})
            else:
                yield pd.DataFrame({
                    'query_id': np.repeat(qids, n),
                    'vec_id': np.tile(vids, len(qids)),
                    'pq_sim': sims.T.reshape(-1),
                })

    return c.mapInPandas(score, schema=schema)


def pq_ann_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                m: int = 8, ks: int = 16, rescore_factor: int = 4,
                id_col: str = 'vec_id', vec_col: str = 'embedding',
                query_id_col: str = 'query_id', seed: int = 42,
                broadcast_queries: bool = True,
                quantizer: str = 'hash') -> DataFrame:
    """Product-quantization ANN (exhaustive ADC scan + exact rescore):
    split each vector into m subvectors, encode every subvector as its
    nearest codebook entry (ks entries per subspace, L2, ties to the
    lowest code), score (query, corpus) pairs against the RECONSTRUCTED
    vector, keep the top rescore_factor × k per query, exact-rescore that
    shortlist with the full floats.

    The 100 TB motivation: a PQ index stores m uint8 codes per vector —
    for dim=64 float32 that is a 32× smaller scan than the raw embedding
    column, and unlike IVF's cell pruning it degrades recall smoothly
    (every vector is still scored, just approximately).  Here the codes
    are derived in-plan (the corpus only carries floats); a production
    deployment materializes (vec_id, codes) as the stored index.

    Determinism/oracle contract: codebooks are content-hash selections;
    encoding compares round(L2, 6) with ties to the lowest code; the ADC
    score is computed as cosine(query, reconstruction) — one sequential
    fold over the full dim on both engines, so no float-summation-order
    divergence — rounded to 6 before ranking.  DuckDB replays the whole
    pipeline, shortlist membership included.

    Shuffle shape: one corpus scan computes the m argmin codes and the
    decoded reconstruction inline (native expressions over inline
    codebook literals — m × ks × (dim/m) doubles in the plan; shard the
    index beyond codebook sizes in the thousands); queries broadcast into
    the ADC scan (broadcast_queries=False for bulk workloads); the tiny
    shortlist broadcasts back into a second corpus scan for the float
    rescore — the corpus is never shuffled.

    broadcast_queries=True (default) collects the query set into the
    task closure (the broadcast-sized contract) and runs encode + ADC
    score as one numpy kernel over Arrow batches (_pq_adc_scored_arrow —
    same argmin/tie semantics, ~10× less encode wall time).
    broadcast_queries=False keeps the pure-expression path (no Python
    stage in the plan): bulk query workloads get the shuffle join they
    asked for instead of a silent driver collect.

    quantizer='hash' (default) draws codebook entries from content-hash
    selected corpus rows — replayable by the differential oracle;
    quantizer='kmeans' trains per-subspace Lloyd codebooks on a bounded
    hash sample (_pq_codebooks_kmeans) — better quantization error and
    recall, gated by recall dominance instead of an equality oracle.
    """
    as_double = lambda col: F.transform(col, lambda x: x.cast('double'))  # noqa: E731
    c = corpus.select(F.col(id_col).alias('vec_id'), as_double(F.col(vec_col)).alias('__cv'))
    q = queries.select(F.col(query_id_col).alias('query_id'), as_double(F.col(vec_col)).alias('__qv'))

    if broadcast_queries:
        # fused encode + ADC score in one Arrow stage: the kernel already
        # holds the floats and codebooks, so reconstruct and score against
        # the collected query set in numpy (matmul) instead of emitting
        # codes and paying an interpreted 64-dim fold per (corpus×query)
        # pair.  Queries are the broadcast-sized side by contract.  The
        # two small driver-side jobs (codebook selection, query collect)
        # overlap on separate scheduler threads.
        import concurrent.futures as _cf
        _train = {'hash': _pq_codebooks, 'kmeans': _pq_codebooks_kmeans}[quantizer]
        with _cf.ThreadPoolExecutor(2) as ex:
            fb = ex.submit(_train, c, m, ks, seed)
            fq = ex.submit(q.collect)
        books, qrows = fb.result(), fq.result()
        scored = _pq_adc_scored_arrow(c, qrows, dict(q.dtypes)['query_id'],
                                      books, shortk=k * rescore_factor)
        # per-batch pre-pruning bounds this to partitions × shortk rows
        # per query, but partition count is unbounded at scale — rank
        # via the salted two-phase topk_per_group
        from .skew import topk_per_group
        shortlist = topk_per_group(
            scored, int(k * rescore_factor), ['query_id'],
            [F.col('pq_sim').desc(), F.col('vec_id').asc()],
            salt_key=F.col('vec_id'),
            rank_name='rq').select('query_id', 'vec_id')
        rescored = (c.join(F.broadcast(shortlist), 'vec_id')
                     .join(F.broadcast(q), 'query_id')
                     .select('query_id', 'vec_id',
                             F.round(cosine(F.col('__cv'), F.col('__qv')), 6)
                              .alias('cosine_sim')))
        w = Window.partitionBy('query_id').orderBy(F.col('cosine_sim').desc(),
                                                   F.col('vec_id').asc())
        return (rescored.withColumn('rank', F.row_number().over(w))
                        .filter(F.col('rank') <= k)
                        .select('query_id', 'vec_id', 'cosine_sim', 'rank')
                        .orderBy('query_id', 'rank'))

    # bulk queries (broadcast_queries=False): staged projections — codes
    # → reconstruction → per-row norm, so the argmins run once per corpus
    # ROW and the (join-replicated) pair expression touches only
    # precomputed columns
    books = {'hash': _pq_codebooks,
             'kmeans': _pq_codebooks_kmeans}[quantizer](c, m, ks, seed)
    _code, _recon = _pq_code_exprs(books)
    coded = c.select('vec_id', *[_code(F.col('__cv'), j).alias('__c{}'.format(j))
                                 for j in range(m)])
    decoded = (coded.select('vec_id',
                            _recon([F.col('__c{}'.format(j)) for j in range(m)])
                            .alias('__rv'))
                    .select('vec_id', '__rv',
                            _dot(F.col('__rv'), F.col('__rv')).alias('__rn2')))
    qn = q.select('query_id', '__qv', _dot(F.col('__qv'), F.col('__qv')).alias('__qn2'))

    pair_sim = F.when(
        (F.col('__rn2') > 0) & (F.col('__qn2') > 0),
        F.round(_dot(F.col('__rv'), F.col('__qv'))
                / (F.sqrt(F.col('__rn2')) * F.sqrt(F.col('__qn2'))), 6)
    ).otherwise(F.lit(-1.0))
    scored = (decoded.join(qn)
                     .select('query_id', 'vec_id', pair_sim.alias('pq_sim')))
    # the PQ candidate set is corpus-scale per query (full ADC sweep, or
    # probed-cell fraction for IVF-PQ) — shortlist-rank via the salted
    # two-phase topk_per_group, never one partition per query; the final
    # rescore window below is over the bounded k×rescore_factor shortlist
    from .skew import topk_per_group
    shortlist = topk_per_group(
        scored, int(k * rescore_factor), ['query_id'],
        [F.col('pq_sim').desc(), F.col('vec_id').asc()],
        salt_key=F.col('vec_id'), rank_name='rq').select('query_id', 'vec_id')
    rescored = (c.join(F.broadcast(shortlist), 'vec_id')
                 .join(F.broadcast(q), 'query_id')
                 .select('query_id', 'vec_id',
                         F.round(cosine(F.col('__cv'), F.col('__qv')), 6).alias('cosine_sim')))
    w = Window.partitionBy('query_id').orderBy(F.col('cosine_sim').desc(), F.col('vec_id').asc())
    return (rescored.withColumn('rank', F.row_number().over(w))
                    .filter(F.col('rank') <= k)
                    .select('query_id', 'vec_id', 'cosine_sim', 'rank')
                    .orderBy('query_id', 'rank'))


def _ivf_pq_residual_frames(c: DataFrame, q: DataFrame,
                            books: list[list[list[float]]],
                            centroids: list[list[float]],
                            strategy: str, encoder: str,
                            n_probe: int, n_assign: int):
    """(decoded, probed) frames for residual IVF-PQ (see ivf_pq_ann_topk).

    decoded = (vec_id, cell, __rv, __rn2) with __rv the residual-decoded
    reconstruction (assigned centroid + residual codebook entries);
    probed = (query_id, cell, __qv, __qn2).  encoder='arrow': the fused
    kernel emits the reconstruction directly, so no codebook or centroid
    literal reaches the plan (constant plan size — pair it with
    strategy='arrow' for the large-n_cells regime).  encoder='native'
    builds residual + reconstruction inline from centroid literals
    (inline regime only).
    """
    m = len(books)
    if encoder == 'arrow':
        coded = _pq_codes_arrow(c, books, centroids=centroids,
                                n_assign=max(1, n_assign), residual=True,
                                emit_recon=True)
        decoded = coded.select('vec_id', 'cell', '__rv',
                               _dot(F.col('__rv'), F.col('__rv')).alias('__rn2'))
    else:
        if strategy == 'arrow':
            raise ValueError("residual IVF-PQ with encoder='native' embeds "
                             "centroid literals in the plan; use "
                             "centroid_strategy='inline' (or the arrow "
                             "encoder for constant plan size)")
        _argmax_cell, _probe_cells = _cell_exprs(centroids, n_probe)
        cent_lit = F.array(*[F.array(*[F.lit(float(x)) for x in cv])
                             for cv in centroids])
        if n_assign > 1:
            _, _assign_cells = _cell_exprs(centroids, n_assign)
            cell_expr = F.explode(_assign_cells(F.col('__cv')))
        else:
            cell_expr = _argmax_cell(F.col('__cv'))
        tagged = c.select('vec_id', '__cv', cell_expr.alias('cell'))
        resv = F.zip_with(F.col('__cv'),
                          F.element_at(cent_lit, F.col('cell') + 1),
                          lambda x, y: x - y)
        _code, _recon = _pq_code_exprs(books)
        coded = tagged.select('vec_id', 'cell',
                              *[_code(resv, j).alias('__c{}'.format(j))
                                for j in range(m)])
        recon = F.zip_with(F.element_at(cent_lit, F.col('cell') + 1),
                           _recon([F.col('__c{}'.format(j)) for j in range(m)]),
                           lambda x, y: x + y)
        decoded = (coded.select('vec_id', 'cell', recon.alias('__rv'))
                        .select('vec_id', 'cell', '__rv',
                                _dot(F.col('__rv'), F.col('__rv')).alias('__rn2')))
    if strategy == 'arrow':
        probed = (_cells_arrow(q, centroids, top_n=n_probe, vec_col='__qv')
                  .select('query_id', 'cell', '__qv',
                          _dot(F.col('__qv'), F.col('__qv')).alias('__qn2')))
    else:
        _, _probe_cells = _cell_exprs(centroids, n_probe)
        probed = q.select('query_id',
                          F.explode(_probe_cells(F.col('__qv'))).alias('cell'),
                          F.col('__qv'),
                          _dot(F.col('__qv'), F.col('__qv')).alias('__qn2'))
    return decoded, probed


def ivf_pq_ann_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    n_cells: int = 16, n_probe: int = 4, n_assign: int = 1,
                    m: int = 8, ks: int = 16, rescore_factor: int = 4,
                    id_col: str = 'vec_id', vec_col: str = 'embedding',
                    query_id_col: str = 'query_id', seed: int = 42,
                    broadcast_queries: bool = True,
                    encoder: str = 'arrow',
                    quantizer: str = 'hash',
                    centroid_strategy: str = 'auto',
                    residual: bool = False) -> DataFrame:
    """IVF-PQ ANN — the production-standard composition (FAISS's IVFPQ
    shape, non-residual variant): coarse cells prune WHICH vectors are
    touched (each query scores only its n_probe nearest cells, ~n_probe /
    n_cells of the corpus), PQ codes shrink WHAT is read per touched
    vector (m bytes instead of dim floats), and the exact float rescore
    touches only the rescore_factor × k shortlist.

    One corpus projection computes cell + codes + reconstruction + norm
    inline; candidates come from the broadcast probed-query join on the
    cell id, scored against the PQ reconstruction; the shortlist
    broadcasts back into the float rescore scan.  Two corpus scans, no
    corpus shuffle, every stage deterministic (hash centroids +
    codebooks, round-6 compares) — the DuckDB oracle replays cells,
    codes, ADC scores, and shortlist membership value-for-value.

    centroid_strategy / n_assign mirror ivf_ann_topk: 'inline' embeds the
    centroids as plan literals (zero extra Python stages; plan grows with
    n_cells), 'arrow' ships them as a broadcast variable into the same
    Arrow kernel that computes the PQ codes — encode + cell assignment
    fused in ONE MapInPandas, plan size constant in n_cells (the
    large-index regime); 'auto' switches on the centroid count.
    n_assign > 1 indexes each corpus vector in its n_assign nearest cells
    (index-side multiprobe; candidates a strict superset, replicating the
    stored index ×n_assign, not the scan compute).

    residual=True encodes FAISS-style RESIDUALS (vec − assigned-cell
    centroid; codebooks trained on residual subvectors): when the corpus
    CLUSTERS (intra-cell variance ≪ total variance — real-world
    embedding distributions), residual magnitudes are much smaller than
    raw vectors and the same m × ks code budget quantizes finer
    (reconstruction-dominance tested on clustered data with
    quantizer='kmeans').  On near-isotropic vectors — like this repo's
    synthetic gate embeddings, mean best-cell cosine ≈ 0.57 — residuals
    are nearly as large as the vectors and raw encoding reconstructs
    BETTER, so residual stays opt-in rather than default.  Deterministic
    given (data, seed) but NOT replayed by the DuckDB differential
    oracle (the residual subtraction threads centroids through every
    stage of the replay SQL); evidence is the cross-encoder/strategy
    agreement + clustered-dominance tests, the same gating as
    quantizer='kmeans'.  With encoder='arrow' the fused kernel emits the
    reconstruction directly (no codebook/centroid literals in the plan);
    encoder='native' builds the residual inline (element_at over centroid
    literals — inline regime only: centroid_strategy='arrow' with a
    native encoder raises).
    """
    as_double = lambda col: F.transform(col, lambda x: x.cast('double'))  # noqa: E731
    c = corpus.select(F.col(id_col).alias('vec_id'), as_double(F.col(vec_col)).alias('__cv'))
    q = queries.select(F.col(query_id_col).alias('query_id'), as_double(F.col(vec_col)).alias('__qv'))
    # quantizer steers BOTH trainers: coarse cells (_train_centroids) and
    # PQ codebooks; 'kmeans' buys recall at the cost of the differential
    # oracle (gated by recall dominance instead)
    centroids = _train_centroids(c, n_cells, seed, quantizer=quantizer)
    books = {'hash': _pq_codebooks,
             'kmeans': _pq_codebooks_kmeans}[quantizer](
        c, m, ks, seed,
        residual_centroids=centroids if residual else None)
    _code, _recon = _pq_code_exprs(books)

    strategy = centroid_strategy
    if strategy == 'auto':
        strategy = 'inline' if len(centroids) <= 256 else 'arrow'

    if residual:
        decoded, probed = _ivf_pq_residual_frames(
            c, q, books, centroids, strategy, encoder,
            n_probe=n_probe, n_assign=n_assign)
    elif strategy == 'arrow':
        if encoder == 'arrow':
            # codes + n_assign cells from ONE fused kernel / one scan
            coded = (_pq_codes_arrow(c, books, centroids=centroids,
                                     n_assign=max(1, n_assign))
                     .select('vec_id', 'cell',
                             *['__c{}'.format(j) for j in range(m)]))
        else:
            native_codes = c.select(
                'vec_id', '__cv',
                *[_code(F.col('__cv'), j).alias('__c{}'.format(j))
                  for j in range(m)])
            coded = (_cells_arrow(native_codes, centroids,
                                  top_n=max(1, n_assign), vec_col='__cv')
                     .select('vec_id', 'cell',
                             *['__c{}'.format(j) for j in range(m)]))
        probed = (_cells_arrow(q, centroids, top_n=n_probe, vec_col='__qv')
                  .select('query_id', 'cell', '__qv',
                          _dot(F.col('__qv'), F.col('__qv')).alias('__qn2')))
    else:
        _argmax_cell, _probe_cells = _cell_exprs(centroids, n_probe)
        # arrow encoder emits codes from a numpy kernel and keeps __cv in
        # the batch so the inline cell expressions compose on top — still
        # one corpus scan for cell + codes
        base = _pq_codes_arrow(c, books) if encoder == 'arrow' else c
        if encoder == 'arrow':
            code_cols = [F.col('__c{}'.format(j)) for j in range(m)]
        else:
            code_cols = [_code(F.col('__cv'), j).alias('__c{}'.format(j))
                         for j in range(m)]
        if n_assign > 1:
            _, _assign_cells = _cell_exprs(centroids, n_assign)
            cell_expr = F.explode(_assign_cells(F.col('__cv')))
        else:
            cell_expr = _argmax_cell(F.col('__cv'))
        coded = base.select('vec_id', cell_expr.alias('cell'), *code_cols)
        probed = q.select('query_id',
                          F.explode(_probe_cells(F.col('__qv'))).alias('cell'),
                          F.col('__qv'),
                          _dot(F.col('__qv'), F.col('__qv')).alias('__qn2'))
    if not residual:
        decoded = (coded.select('vec_id', 'cell',
                                _recon([F.col('__c{}'.format(j)) for j in range(m)])
                                .alias('__rv'))
                        .select('vec_id', 'cell', '__rv',
                                _dot(F.col('__rv'), F.col('__rv')).alias('__rn2')))

    pair_sim = F.when(
        (F.col('__rn2') > 0) & (F.col('__qn2') > 0),
        F.round(_dot(F.col('__rv'), F.col('__qv'))
                / (F.sqrt(F.col('__rn2')) * F.sqrt(F.col('__qn2'))), 6)
    ).otherwise(F.lit(-1.0))
    scored = (decoded.join(F.broadcast(probed) if broadcast_queries else probed,
                           'cell')
                     .select('query_id', 'vec_id', pair_sim.alias('pq_sim')))
    if n_assign > 1:
        # multi-assignment surfaces a (query, vec) pair once per assigned
        # cell; under residual encoding each cell copy carries its OWN
        # residual codes, so the copies' pq_sims can differ — reduce with
        # max() (deterministic) rather than dropDuplicates (keeps an
        # arbitrary copy, making shortlist membership partition-order-
        # dependent).  Non-residual copies score identically, so max is
        # a no-op there.
        scored = (scored.groupBy('query_id', 'vec_id')
                        .agg(F.max('pq_sim').alias('pq_sim')))
    # the PQ candidate set is corpus-scale per query (full ADC sweep, or
    # probed-cell fraction for IVF-PQ) — shortlist-rank via the salted
    # two-phase topk_per_group, never one partition per query; the final
    # rescore window below is over the bounded k×rescore_factor shortlist
    from .skew import topk_per_group
    shortlist = topk_per_group(
        scored, int(k * rescore_factor), ['query_id'],
        [F.col('pq_sim').desc(), F.col('vec_id').asc()],
        salt_key=F.col('vec_id'), rank_name='rq').select('query_id', 'vec_id')
    rescored = (c.join(F.broadcast(shortlist), 'vec_id')
                 .join(F.broadcast(q), 'query_id')
                 .select('query_id', 'vec_id',
                         F.round(cosine(F.col('__cv'), F.col('__qv')), 6).alias('cosine_sim')))
    w = Window.partitionBy('query_id').orderBy(F.col('cosine_sim').desc(), F.col('vec_id').asc())
    return (rescored.withColumn('rank', F.row_number().over(w))
                    .filter(F.col('rank') <= k)
                    .select('query_id', 'vec_id', 'cosine_sim', 'rank')
                    .orderBy('query_id', 'rank'))


def embedding_near_dup_pairs(corpus: DataFrame, threshold: float = 0.95,
                             dim: int = 32, n_planes: int = 12,
                             id_col: str = 'vec_id', vec_col: str = 'embedding',
                             seed: int = 42) -> DataFrame:
    """Near-duplicate embedding pairs: LSH bucket self-join + exact cosine."""
    planes = _hyperplanes(dim, n_planes, seed)
    as_double = lambda col: F.transform(col, lambda x: x.cast('double'))  # noqa: E731
    c = corpus.select(F.col(id_col).alias('vec_id'), as_double(F.col(vec_col)).alias('__v'),
                      _bucket_expr(as_double(F.col(vec_col)), planes).alias('bucket'))
    l, r = c.alias('l'), c.alias('r')
    cand = (l.join(r, (F.col('l.bucket') == F.col('r.bucket'))
                   & (F.col('l.vec_id') < F.col('r.vec_id')))
             .select(F.col('l.vec_id').alias('vec_a'), F.col('r.vec_id').alias('vec_b'),
                     cosine(F.col('l.__v'), F.col('r.__v')).alias('cosine_sim')))
    return (cand.filter(F.col('cosine_sim') >= threshold)
                .select('vec_a', 'vec_b', F.round('cosine_sim', 6).alias('cosine_sim')))


def semantic_dedup(corpus: DataFrame, threshold: float = 0.95,
                   dim: int = 32, n_planes: int = 12,
                   id_col: str = 'vec_id', vec_col: str = 'embedding',
                   seed: int = 42,
                   checkpoint_dir: str | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): deduplicate a corpus
    by EMBEDDING similarity — documents whose representations are
    near-identical under cosine are semantic duplicates even when their
    surface text differs (translations, templated rewrites, boilerplate
    variants that n-gram dedup misses).  Returns the surviving corpus rows:
    one representative (the min id) per semantic-duplicate cluster plus
    every row in no cluster.

    Pure composition of existing scale paths — nothing new shuffles:
    embedding_near_dup_pairs (LSH bucket self-join, never all-pairs)
    produces the ≥threshold pair set, dedup_clusters (per-partition
    union-find + star contraction) labels components, and a left_anti join
    removes non-representatives.  The paper clusters with k-means and
    dedups within cells; the LSH-bucket prefilter plays the same
    candidate-bounding role with the advantage of a deterministic,
    engine-replayable decision rule.  Cluster-iteration scratch state
    follows dedup_clusters' checkpoint_dir contract.
    """
    from rbql_spark.ops.dedup import dedup_clusters

    pairs = embedding_near_dup_pairs(corpus, threshold=threshold, dim=dim,
                                     n_planes=n_planes, id_col=id_col,
                                     vec_col=vec_col, seed=seed) \
        .select(F.col('vec_a').alias('doc_a'), F.col('vec_b').alias('doc_b'))
    clusters = dedup_clusters(pairs, checkpoint_dir=checkpoint_dir)
    removed = (clusters.where(F.col('doc_id') != F.col('cluster_id'))
                       .select(F.col('doc_id').alias(id_col)))
    return corpus.join(removed, id_col, 'left_anti')
