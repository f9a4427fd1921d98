"""Deduplication operators for large-scale text pipelines (superset of the
reference — SURVEY §2.8 flags these as deliberate supersets; designed for
100 TB-class document tables).

Hot-path math stays in native Spark SQL expressions (xxhash64/md5, array
transforms) so whole-stage codegen applies, except the two per-document
kernels Catalyst would run interpreted — minhash signatures and simhash
fingerprints — which are Arrow-batched numpy passes.  The only shuffles are
the groupBy/join on candidate keys.

  * exact_dedup        — hash-groupBy on normalized text (1 shuffle)
  * minhash_signatures — k-shingle → 64-bit hash → per-permutation min
  * lsh_candidate_pairs— band signatures → equi-self-join on (band, sig)
  * jaccard_verify     — exact token-set Jaccard on candidate pairs
  * simhash            — 64-bit sign-sum fingerprint
  * ngram_jaccard_pairs— banded exact n-gram Jaccard (LSH prefilter + verify)
  * dedup_lines        — corpus-level duplicate-line removal (C4-style)
  * keep_canonical     — pairs → clusters → corpus minus non-representatives
  * decontaminate      — train/test benchmark n-gram overlap flagging
  * minhash_match      — new-batch vs existing-index incremental near-dup
"""

from __future__ import annotations

import math
import os
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: universal-hashing modulus for minhash.  Shingle
# hashes are 32-bit and a < 2^30 so a*s + b < 2^62 — no int64 overflow.
_PRIME31 = (1 << 31) - 1

# Vectorized-kernel memory bounds.  Both are per-worker working-set caps, NOT
# correctness knobs: results are identical at any setting (tests run them at
# tiny values to prove it).
#   * minhash: the permutation tile is num_perm × |uniq shingles| int64 —
#     the flush threshold derives from a fixed byte budget so the tile stays
#     ≤_MINHASH_TILE_BYTES at any num_perm (2^17 uniq at 64 perms / 64 MB),
#     no matter how large or vocabulary-diverse the Arrow batch is.  Bigger
#     tiles also dedup shared shingles across MORE documents per hash+matmul
#     (flushing every 2^16 cost +43% on the sf0.1 near-dup corpus).
#     _MINHASH_FLUSH_UNIQ overrides the derived count when set — tests force
#     tiny tiles to prove flush-invariance.
#   * simhash: distinct-token vote rows memoized per worker; reset between
#     documents once the cap is crossed (never mid-document — handed-out row
#     indices for the in-flight doc must stay valid).
_MINHASH_TILE_BYTES = 64 << 20
_MINHASH_FLUSH_UNIQ: int | None = None

# dedup_clusters hybrid finish: when the contracted star forest has at
# most this many edges (~16 bytes each — measured BEFORE collecting),
# the union-find finishes on the driver in one bounded Arrow collect
# instead of O(log d) distributed alternation rounds.  0 disables.
CC_DRIVER_FINISH_EDGES = 500000
_SIMHASH_MEMO_CAP = 1 << 20

# spread_partitions' per-task input target for CPU-heavy row operators
# (see its docstring for the sf0.1 sweep that chose it).
SPREAD_BYTES_PER_TASK = 256 << 10


def spread_partitions(df: DataFrame, expansion: float = 1.0) -> DataFrame:
    """Repartition when the scan yields fewer partitions than cores.

    Small-file inputs (one parquet file → one partition) would otherwise run
    expression-heavy per-row operators on a single task.  At bulk scale the
    scan already produces ≥cores partitions and this is a no-op.

    Size-aware raising (r17, r16 verdict #5): the batch target derives
    from the plan's input bytes — ``min(cores, max(floor,
    ceil(bytes × expansion / SPREAD_BYTES_PER_TASK)))`` with the
    floor at ``min(cores, STREAM_MIN_PARTITIONS)``.  Always spreading
    to FULL ``defaultParallelism`` made 8 cores beat 32 on kilobyte
    inputs (multimodal decode 0.62, text_lm_score 0.76 in the r16
    8-vs-32 scaling block): per-task Arrow/Python setup outweighed the
    work.  The per-task byte target is deliberately tiny (256 KB of
    compressed parquet, swept at sf0.1: multimodal decode 1.61->1.02 s,
    dedup_clusters 1.63->1.19 s vs the full-width spread, nothing
    slower) because these operators do orders of magnitude more CPU
    per byte than a shuffle (md5 per shingle, image decode per row);
    inputs past ~cores x 256 KB — any real corpus — still spread to
    every core, so the 100 TB behavior is unchanged.  Unknown sizes
    keep the full-width spread (the safe direction at scale).

    Streaming inputs (round-16): a micro-batch arriving as one small
    parquet file is ONE scan task no matter the session's parallelism
    (a single-row-group file cannot be split), so the fused projections
    and Arrow kernels built on this helper ran each batch
    single-threaded — measured 3× the whole-drain floor on the
    quality-filter stream at sf0.1.  Streams therefore repartition to
    the default parallelism: one cheap round-robin shuffle of the raw
    batch rows (deterministic under retry — Spark sorts before
    round-robin repartition) buys cores-wide execution of the heavy
    stage (size-deriving per micro-batch is not possible — the plan is
    built once, batches vary).  A source that already delivers wide
    batches pays one redundant pass-through shuffle.
    """
    if df.isStreaming:
        return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    from rbql_spark.tuning import (
        STREAM_MIN_PARTITIONS, scan_partition_estimate,
    )
    cores = df.sparkSession.sparkContext.defaultParallelism
    # current width and input bytes from the ANALYZED plan when the
    # frame is a narrow chain over file scans — df.rdd.getNumPartitions
    # builds a physical plan the later execution throws away (measured
    # 150-200 ms per call, paid at every spread-based operator build);
    # the .rdd fallback remains for frames whose width bytes cannot
    # predict (post-shuffle, cached, local).  An under-estimate only
    # risks one redundant round-robin pass over a provably small input.
    cur, nbytes = scan_partition_estimate(df)
    if cur is None:
        cur = df.rdd.getNumPartitions()
    if cur >= cores:
        return df
    if nbytes is None:
        target = cores
    else:
        floor = min(cores, STREAM_MIN_PARTITIONS)
        want = math.ceil(nbytes * max(expansion, 1.0) / SPREAD_BYTES_PER_TASK)
        target = min(cores, max(floor, want))
    if cur < target:
        return df.repartition(target)
    return df


def normalize_text(col: Column) -> Column:
    return F.regexp_replace(F.trim(F.lower(col)), r'\s+', ' ')


def tokens(col: Column) -> Column:
    """Lowercased word tokens (letters+digits runs)."""
    t = F.split(F.lower(col), r'[^\p{L}\p{N}]+', -1)
    return F.filter(t, lambda x: x != '')


def _text_digest(norm: Column, hash_fn: str) -> Column:
    """Digest of normalized text with hash_fn-INVARIANT NULL semantics:
    a NULL text gives a NULL digest under BOTH hash functions.  md5 does
    this natively (SQL NULL propagation), but xxhash64(NULL) is the seed
    constant (42) — left as-is, NULL-text docs would hash-collide with
    each other and with any indexed NULL-text doc under xxhash64 while
    always surviving the anti-join under md5 (round-12 advisory).  The
    NULL digest still forms ONE group in a groupBy (both Spark and
    DuckDB group NULLs together) and never matches in a join, so under
    either hash_fn: NULL texts collapse within a frame but are never
    reported 'seen' across an index."""
    if hash_fn == 'md5':
        return F.md5(F.encode(norm, 'utf-8'))
    return F.when(norm.isNotNull(), F.xxhash64(norm))


def exact_dedup(df: DataFrame, text_col: str, id_col: str,
                hash_fn: str = 'xxhash64') -> DataFrame:
    """One representative (min id) per exact-normalized-text group.

    Single hash shuffle on the digest key; at 100 TB enable AQE for skew
    handling of pathological dup groups.  hash_fn='md5' gives a digest
    reproducible in other engines (e.g. a DuckDB oracle); xxhash64 is the
    cheaper default.  NULL texts share one NULL-digest group under both
    hash functions (see _text_digest).
    """
    key = _text_digest(normalize_text(F.col(text_col)), hash_fn)
    return (df.groupBy(key.alias('text_hash'))
              .agg(F.min(F.col(id_col)).alias('keep_id'),
                   F.count(F.lit(1)).alias('dup_count')))


def let_once(bound: Column, body) -> Column:
    """Evaluate `bound` ONCE per row and hand it to `body` as a lambda
    variable (via a single-element transform).  Catalyst has no
    common-subexpression elimination inside interpreted HOF lambdas: a
    subtree referenced in a lambda body is re-evaluated on EVERY loop
    iteration — e.g. a gram expression slicing `tokens(text)` re-tokenizes
    the document once per gram (~25× for a 100-token doc, measured 3.2s →
    0.5s on the sf0.1 lined-view build).  Binding the subtree to a lambda
    variable makes each loop reference a cheap attribute lookup."""
    return F.element_at(F.transform(F.array(bound), body), 1)


def word_shingles(col: Column, k: int = 3) -> Column:
    """Array of xxhash64 values of k-word shingles (document tokenized
    once — see let_once)."""
    def grams(ta: Column) -> Column:
        n = F.size(ta)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(n >= k, F.array_distinct(F.transform(
            idx, lambda i: F.xxhash64(F.concat_ws(' ', F.slice(ta, i + 1, k)))
        ))).otherwise(F.array(F.xxhash64(F.concat_ws(' ', ta))))
    return let_once(tokens(col), grams)


def word_shingles_md5(col: Column, k: int = 3) -> Column:
    """Array of 32-bit md5-derived k-word shingle hashes (first 8 hex chars)
    — same hash the vectorized minhash kernel uses, reproducible in any
    engine with md5() (the DuckDB differential oracle replays it)."""
    def h32(s: Column) -> Column:
        return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast('long')

    def grams(ta: Column) -> Column:
        n = F.size(ta)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(n >= k, F.array_distinct(F.transform(
            idx, lambda i: h32(F.concat_ws(' ', F.slice(ta, i + 1, k)))
        ))).otherwise(F.array(h32(F.concat_ws(' ', ta))))
    return let_once(tokens(col), grams)


def decontaminate(train: DataFrame, benchmark: DataFrame,
                  text_col: str = 'text', id_col: str = 'doc_id',
                  shingle_k: int = 3, min_overlap: int = 1,
                  hash_fn: str = 'md5',
                  broadcast_benchmark: bool = True) -> DataFrame:
    """Train/test decontamination: flag training documents sharing
    ≥min_overlap distinct k-word shingles with any benchmark document →
    (doc_id, bench_id, n_overlap).

    The canonical pre-training hygiene pass: benchmark suites are tiny
    (thousands of prompts) while the training corpus is the 100 TB side,
    so the benchmark's exploded shingle set is BROADCAST — the corpus is
    scanned exactly once, its shingles stream through a broadcast hash
    join (no corpus shuffle), and only the surviving hits shuffle into the
    per-(train, benchmark) overlap count.  All hashing is native Catalyst
    (md5/conv) — no Python stage.

    hash_fn='md5' (default) keeps the pipeline replayable by the DuckDB
    oracle; 'xxhash64' is the cheaper engine-local variant.

    broadcast_benchmark=True fits the normal case (benchmark suites are
    executor-memory sized); pass False for a benchmark set too large to
    broadcast — the join falls back to a shuffle on the shingle hash.

    Output is UNORDERED (as are all pair/label producers in this module):
    a display sort would range-shuffle the entire result set.
    """
    sh = (word_shingles_md5(F.col(text_col), k=shingle_k) if hash_fn == 'md5'
          else word_shingles(F.col(text_col), k=shingle_k))
    # the explode is INLINE (generator child = the shingle expression, not
    # a projected attribute): Catalyst only infers a size()>0 filter from
    # attribute-fed generates, and pushing that filter back through the
    # defining Project re-expands the tokenize+md5 expression — measured
    # 2x the whole gate at sf0.1 (guide §1.3: one evaluation per row)
    t = train.select(F.col(id_col).alias('doc_id'), F.explode(sh).alias('sh'))
    b = benchmark.select(F.col(id_col).alias('bench_id'),
                         F.explode(sh).alias('sh'))
    # shingle arrays are array_distinct per document, so each (id, sh) row
    # is unique per side and the overlap count is a plain count
    return (t.join(F.broadcast(b) if broadcast_benchmark else b, 'sh')
             .groupBy('doc_id', 'bench_id')
             .agg(F.count(F.lit(1)).alias('n_overlap'))
             .where(F.col('n_overlap') >= min_overlap))


def _bloom_positions(sh: Column, bloom_hashes: int, bloom_bits: int,
                     seed: int) -> Column:
    """Array of the `bloom_hashes` bit positions of shingle-hash `sh` —
    48-bit md5-derived values mod bloom_bits, one per salt index, all
    native Catalyst so any engine with md5() replays them."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(int(bloom_hashes) - 1)),
        lambda i: F.conv(F.substring(F.md5(F.concat(
            sh.cast('string'), F.lit(':bloom:{}:'.format(seed)),
            i.cast('string'))), 1, 12), 16, 10).cast('long')
        % F.lit(int(bloom_bits)))


def _bloom_pack_bitmap(spark, bits: DataFrame, bloom_bits: int):
    """Collect the (bounded, ≤ bloom_bits-row) set-bit position frame into
    a numpy bitmap of bloom_bits/8 bytes and broadcast it."""
    import numpy as np
    set_bits = np.fromiter((r['pos'] for r in bits.collect()),
                           dtype=np.int64)
    bm = np.zeros((int(bloom_bits) + 7) // 8, dtype=np.uint8)
    if len(set_bits):
        np.bitwise_or.at(bm, set_bits >> 3,
                         np.left_shift(1, (set_bits & 7).astype(np.uint8),
                                       dtype=np.uint8))
    return spark.sparkContext.broadcast(bm)


def _bloom_member_flags(t: DataFrame, bc, bloom_hashes: int, bloom_bits: int,
                        seed: int, carry_cols: tuple = (),
                        carry_schema: str = '') -> DataFrame:
    """(doc_id, sh[, carry…]) → (doc_id, flag[, carry…]): flag=1 iff every
    bloom position of the shingle is set in the broadcast bitmap.
    Position hashing stays native Catalyst; only the O(1) bit test runs
    in the Arrow kernel — stateless, so it composes into Structured
    Streaming plans too (carry_cols threads e.g. an event-time column
    through, with its schema appended via carry_schema)."""
    import numpy as np
    k = int(bloom_hashes)
    pos_df = t.select('doc_id', *carry_cols, _bloom_positions(
        F.col('sh'), bloom_hashes, bloom_bits, seed).alias('ps'))
    schema = 'doc_id long, flag long' + \
        (', ' + carry_schema if carry_schema else '')

    def member(batches):
        import pandas as pd
        bmv = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            flat = np.concatenate(pdf['ps'].to_numpy())
            hit = (bmv[flat >> 3] >> (flat & 7).astype(np.uint8)) & 1
            ends = np.cumsum(pdf['ps'].map(len).to_numpy())
            starts = np.concatenate(([0], ends[:-1]))
            allhit = np.add.reduceat(hit, starts) == k
            # reduceat on an empty segment would misbehave, but every
            # shingle emits exactly k positions
            out = {'doc_id': pdf['doc_id'],
                   'flag': allhit.astype('int64')}
            for c in carry_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return pos_df.mapInPandas(member, schema=schema)


def decontaminate_bloom(train: DataFrame, benchmark: DataFrame,
                        text_col: str = 'text', id_col: str = 'doc_id',
                        shingle_k: int = 3, min_hits: int = 1,
                        bloom_bits: int = 1 << 20, bloom_hashes: int = 3,
                        seed: int = 42) -> DataFrame:
    """Bloom-filter decontamination — the scale path of decontaminate()
    for when the benchmark side is itself corpus-sized (e.g. "flag
    anything that overlaps our eval CORPUS", or cross-corpus leakage
    sweeps): → (doc_id, n_flagged_shingles) for training docs with
    ≥ min_hits shingles whose every bloom position is set.

    decontaminate() broadcasts the benchmark's full shingle set, which
    grows without bound; here the benchmark collapses into a classic
    Bloom filter — `bloom_hashes` md5-derived positions per shingle in a
    `bloom_bits`-wide bit space — so what ships to every executor is
    capped at min(bloom_bits, hashes × bench_shingles) DISTINCT set bits
    no matter how large the benchmark grows.  The trade is bloom
    semantics: the flagged set is a SUPERSET of the true overlap (false
    positive rate ≈ (1 − e^(−k·n/m))^k; the 2^20/3-hash default holds
    <1% to ~200k benchmark shingles — size bloom_bits to the benchmark),
    which is the safe direction for contamination screens: borderline
    docs get a second exact pass or are dropped.

    Everything stays in Catalyst: the set-bit positions stay a
    DataFrame, broadcast-hash-joined against the corpus' exploded
    (shingle × position) stream — one corpus scan, no corpus shuffle,
    the only shuffles are over surviving hit rows; a shingle is
    bloom-positive iff all `bloom_hashes` of its position rows find a
    partner (count == k is exact even when a shingle's own positions
    collide).  The DuckDB oracle replays it value-for-value.

    Output is UNORDERED (pair/label producers never pay a display sort).

    Duplicate id rows in `train` (same doc twice) are an upstream
    malformation; they still flag correctly (per distinct shingle, via
    salt-index counting).
    """
    sh = word_shingles_md5(F.col(text_col), k=shingle_k)
    bits = (benchmark.select(F.explode(sh).alias('sh'))
                     .select(F.explode(_bloom_positions(
                         F.col('sh'), bloom_hashes, bloom_bits, seed))
                         .alias('pos'))
                     .distinct())
    t = (spread_partitions(train)
         .select(F.col(id_col).alias('doc_id'), F.explode(sh).alias('sh')))
    tp = (t.select('doc_id', 'sh', F.posexplode(_bloom_positions(
              F.col('sh'), bloom_hashes, bloom_bits, seed))
              .alias('__i', 'pos'))
           .join(F.broadcast(bits), 'pos'))
    # countDistinct over the salt INDEX, not count(*): duplicate
    # (doc_id, sh) rows (e.g. an upstream union glitch repeating a doc)
    # would inflate a plain count to 2k ≠ k and silently UNFLAG a truly
    # contaminated document — the one direction a contamination screen
    # must never err in; distinct-index counting is duplicate-proof
    positive = (tp.groupBy('doc_id', 'sh')
                  .agg(F.countDistinct('__i').alias('__n'))
                  .where(F.col('__n') == int(bloom_hashes)))
    return (positive.groupBy('doc_id')
                    .agg(F.count(F.lit(1)).cast('long')
                         .alias('n_flagged_shingles'))
                    .where(F.col('n_flagged_shingles') >= min_hits))


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rnd = random.Random(seed)
    return [(rnd.randrange(1, 1 << 30), rnd.randrange(0, 1 << 30))
            for _ in range(num_perm)]


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       num_perm: int = 64, shingle_k: int = 3,
                       seed: int = 42, hash_fn: str = 'crc32',
                       carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """(id, signature array<long>[num_perm], shingles) per document.

    Each permutation j: min over shingles s of (a_j*s + b_j) mod M.

    One Arrow-batched pass per task: tokenize, hash each distinct word
    k-shingle to 32 bits, and run the num_perm×|shingles| min-reduction
    as one numpy matrix op per tile of documents.  Spark's higher-order
    array functions (transform/array_min) execute *interpreted* — num_perm
    interpreted lanes over every shingle measured ~10× slower at sf0.1.

    hash_fn: 'crc32' (cheapest, default) or 'md5' — 32-bit shingle hash from
    the first 8 md5 hex chars, reproducible in any engine with md5()
    (used by the DuckDB differential oracle).
    """
    df = spread_partitions(df)
    params = _perm_params(num_perm, seed)

    a_vec = [a for a, _ in params]
    b_vec = [b for _, b in params]
    k = shingle_k
    use_md5 = hash_fn == 'md5'
    flush_uniq = (_MINHASH_FLUSH_UNIQ if _MINHASH_FLUSH_UNIQ
                  else max(1024, _MINHASH_TILE_BYTES // (8 * num_perm)))
    src = df.select(F.col(id_col).alias('doc_id'), F.col(text_col).alias('__text'),
                    *[F.col(c) for c in carry_cols])
    carry_ddl = ''.join(', {} {}'.format(c, df.schema[c].dataType.simpleString())
                        for c in carry_cols)

    def run(batches):
        import hashlib
        import re as _re
        import zlib

        import numpy as np
        import pandas as pd
        if use_md5:
            h32 = lambda bs: int(hashlib.md5(bs).hexdigest()[:8], 16)  # noqa: E731
        else:
            h32 = zlib.crc32
        A = np.asarray(a_vec, dtype=np.int64)[:, None]
        B = np.asarray(b_vec, dtype=np.int64)[:, None]
        token_rgx = _re.compile(r'[^\W_]+', _re.UNICODE)
        for pdf in batches:
            # Hash each distinct shingle once per tile (duplicate docs
            # share every shingle; even unrelated docs share many), and
            # run the num_perm × |uniq| permutation table as one matrix
            # op per TILE, slicing per-doc columns out of it — instead
            # of per-doc hashing + per-doc matmuls.  A tile closes once
            # it accumulates _MINHASH_FLUSH_UNIQ distinct shingle
            # hashes, so peak memory is bounded regardless of how
            # vocabulary-diverse the batch is (an unbounded batch-level
            # table reaches multi-GB on disjoint-vocabulary corpora).
            uniq: dict[int, int] = {}   # 32-bit shingle hash → column
            gmemo: dict[str, int] = {}  # gram text → hash (per tile)
            cols_per_doc: list = []
            sh_out: list = []
            sig_out: list = []

            def flush():
                s = np.fromiter(uniq, dtype=np.int64, count=len(uniq))
                perm = (A * s[None, :] + B) % _PRIME31  # num_perm × n_uniq
                for cols in cols_per_doc:
                    sh_out.append(s[cols])
                    sig_out.append(perm[:, cols].min(axis=1))
                uniq.clear()
                gmemo.clear()
                cols_per_doc.clear()

            for text in pdf['__text']:
                toks = token_rgx.findall((text or '').lower())
                if len(toks) >= k:
                    grams = {' '.join(toks[i:i + k])
                             for i in range(len(toks) - k + 1)}
                else:
                    grams = {' '.join(toks)}
                # column set keyed by HASH value: two grams colliding
                # under the 32-bit hash collapse to one column, so the
                # emitted shingle arrays stay duplicate-free — matching
                # the SQL oracle's list_distinct.
                cols = {uniq.setdefault(
                            gmemo.get(g) if g in gmemo
                            else gmemo.setdefault(g, h32(g.encode('utf-8'))),
                            len(uniq))
                        for g in grams}
                cols_per_doc.append(np.fromiter(cols, dtype=np.intp,
                                                count=len(cols)))
                if len(uniq) >= flush_uniq:
                    flush()
            flush()
            out = {'doc_id': pdf['doc_id'],
                   'shingles': pd.Series(sh_out, index=pdf.index, dtype='object'),
                   'signature': pd.Series(sig_out, index=pdf.index, dtype='object')}
            for c in carry:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    carry = list(carry_cols)
    return src.mapInPandas(
        run,
        schema='doc_id long, shingles array<long>, signature array<long>'
               + carry_ddl)


def _band_keys(sig_df: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band_idx, band_hash) — one row per signature band."""
    band_arr = F.array(*[
        F.xxhash64(F.concat_ws(',', *[F.col('signature')[b * rows_per_band + r].cast('string')
                                      for r in range(rows_per_band)]))
        for b in range(bands)
    ])
    return sig_df.select('doc_id', F.posexplode(band_arr).alias('band_idx', 'band_hash'))


def lsh_candidate_pairs(sig_df: DataFrame, bands: int = 16,
                        rows_per_band: int = 4) -> DataFrame:
    """Documents sharing any identical band of the signature → candidate pair.

    Scale path: explode to (band_idx, band_hash, id), equi-self-join on the
    band key (hash-partitioned shuffle join — intentionally NOT broadcast),
    distinct (id_a < id_b) pairs.
    """
    banded = _band_keys(sig_df, bands, rows_per_band)
    left = banded.alias('l')
    right = banded.alias('r')
    pairs = (left.join(right,
                       (F.col('l.band_idx') == F.col('r.band_idx'))
                       & (F.col('l.band_hash') == F.col('r.band_hash'))
                       & (F.col('l.doc_id') < F.col('r.doc_id')))
                  .select(F.col('l.doc_id').alias('doc_a'),
                          F.col('r.doc_id').alias('doc_b'))
                  .distinct())
    return pairs


def jaccard_verify(pairs: DataFrame, sig_df: DataFrame,
                   threshold: float = 0.7) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs (join back the arrays)."""
    sh = sig_df.select(F.col('doc_id'), F.col('shingles'))
    j = (pairs
         .join(sh.withColumnsRenamed({'doc_id': 'doc_a', 'shingles': 'sh_a'}), 'doc_a')
         .join(sh.withColumnsRenamed({'doc_id': 'doc_b', 'shingles': 'sh_b'}), 'doc_b'))
    inter = F.size(F.array_intersect('sh_a', 'sh_b'))
    union = F.size(F.array_union('sh_a', 'sh_b'))
    jac = F.when(union > 0, inter.cast('double') / union.cast('double')).otherwise(F.lit(0.0))
    return (j.select('doc_a', 'doc_b', jac.alias('jaccard'))
             .filter(F.col('jaccard') >= threshold))


def minhash_dedup_pairs(df: DataFrame, text_col: str, id_col: str,
                        num_perm: int = 64, shingle_k: int = 3,
                        bands: int = 16, rows_per_band: int = 4,
                        threshold: float = 0.7, seed: int = 42,
                        hash_fn: str = 'crc32',
                        eager: bool = False) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH bands → verify.

    Signatures are persisted (memory-and-disk) — both the band join and the
    verify join consume them; recomputing the signature pass twice would
    double the dominant cost.  The cache entry outlives the (lazy) result
    by default; eager=True materializes the pair set, unpersists the
    signature cache, and returns a lineage-truncated result — same
    lifecycle contract as simhash_near_dups(eager=True).
    """
    from pyspark import StorageLevel
    sig = minhash_signatures(df, text_col, id_col, num_perm, shingle_k, seed,
                             hash_fn=hash_fn) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    cand = lsh_candidate_pairs(sig, bands, rows_per_band)
    out = jaccard_verify(cand, sig, threshold)
    if eager:
        out = out.localCheckpoint(True)
        sig.unpersist()
    return out


def minhash_match(batch: DataFrame, index: DataFrame,
                  text_col: str = 'text', id_col: str = 'doc_id',
                  num_perm: int = 64, shingle_k: int = 3,
                  bands: int = 16, rows_per_band: int = 4,
                  threshold: float = 0.7, seed: int = 42,
                  hash_fn: str = 'crc32',
                  broadcast_batch: bool | None = None,
                  broadcast_max_rows: int = 1_000_000,
                  eager: bool = False) -> DataFrame:
    """Incremental near-dup detection: match a NEW batch of documents
    against an EXISTING corpus (the index side) → (batch_id, index_id,
    jaccard ≥ threshold).  The ingestion-time hygiene pass: before adding
    a crawl increment to a 100 TB corpus, find what the corpus already
    (nearly) contains — without the O(corpus²) self-join that
    minhash_dedup_pairs' full-corpus pass implies.

    Same signature scheme as minhash_dedup_pairs (identical num_perm /
    bands / seed produce identical band keys), so a production deployment
    stores the index side's (signature, shingles) ONCE and every
    increment only signs its own documents.  The band join is asymmetric:
    batch bands (the small side) BROADCAST against the index band stream
    — the corpus is never shuffled.  broadcast_batch=None (the default)
    measures rather than assumes "small": the batch signatures are
    already persisted for the band+verify reuse, so counting them is one
    job the lazy plan would run anyway; the batch's band rows
    (n_batch × bands) broadcast only when ≤ broadcast_max_rows, else the
    band join falls back to a hash join on the band key — an
    index-sized "batch" (a full re-crawl) would otherwise OOM the
    executors at exactly the scale the incremental path exists for.
    Pass True/False to skip the measuring job.
    Both verify joins hash-partition on candidate ids (candidates are
    band-collision-sized, not corpus-sized).  Both signature DataFrames
    persist for the band+verify reuse; eager=True materializes the match
    set and unpersists them — same lifecycle contract as
    minhash_dedup_pairs(eager=True).
    """
    from pyspark import StorageLevel
    bsig = minhash_signatures(batch, text_col, id_col, num_perm, shingle_k,
                              seed, hash_fn=hash_fn) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    isig = minhash_signatures(index, text_col, id_col, num_perm, shingle_k,
                              seed, hash_fn=hash_fn) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    bb = _band_keys(bsig, bands, rows_per_band) \
        .withColumnsRenamed({'doc_id': 'batch_id'})
    ib = _band_keys(isig, bands, rows_per_band) \
        .withColumnsRenamed({'doc_id': 'index_id'})
    if broadcast_batch is None:
        broadcast_batch = bsig.count() * bands <= broadcast_max_rows
    cand = (ib.join(F.broadcast(bb) if broadcast_batch else bb,
                    ['band_idx', 'band_hash'])
              .select('batch_id', 'index_id')
              .distinct())
    j = (cand
         .join(bsig.select(F.col('doc_id').alias('batch_id'),
                           F.col('shingles').alias('sh_b')), 'batch_id')
         .join(isig.select(F.col('doc_id').alias('index_id'),
                           F.col('shingles').alias('sh_i')), 'index_id'))
    inter = F.size(F.array_intersect('sh_b', 'sh_i'))
    union = F.size(F.array_union('sh_b', 'sh_i'))
    jac = F.when(union > 0, inter.cast('double') / union.cast('double')) \
           .otherwise(F.lit(0.0))
    out = (j.select('batch_id', 'index_id', jac.alias('jaccard'))
            .filter(F.col('jaccard') >= threshold))
    if eager:
        out = out.localCheckpoint(True)
        bsig.unpersist()
        isig.unpersist()
    return out


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        n: int = 3, threshold: float = 0.5,
                        bands: int = 8, rows_per_band: int = 2,
                        seed: int = 7, hash_fn: str = 'crc32',
                        eager: bool = False) -> DataFrame:
    """Exact n-gram Jaccard similarity with an LSH prefilter (never
    all-pairs).  eager: as in minhash_dedup_pairs."""
    from pyspark import StorageLevel
    sig = minhash_signatures(df, text_col, id_col,
                             num_perm=bands * rows_per_band,
                             shingle_k=n, seed=seed, hash_fn=hash_fn) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    cand = lsh_candidate_pairs(sig, bands, rows_per_band)
    out = jaccard_verify(cand, sig, threshold)
    if eager:
        out = out.localCheckpoint(True)
        sig.unpersist()
    return out


def dedup_clusters(pairs: DataFrame, max_iter: int = 30,
                   checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components over a near-dup pair graph → (doc_id,
    cluster_id) with cluster_id = min doc id of the component (the
    canonical "keep one representative per duplicate cluster" step after
    minhash/simhash pair generation).

    Two phases, both shuffle-shaped — no driver-side graph state, so a
    100 TB pair set just means wider shuffles:

    1. Per-partition contraction: one mapInPandas pass runs a plain
       union-find over each task's edges and emits that partition's
       spanning star forest (node → partition-local component min), at
       most one edge per distinct node in the partition.  This consumes
       the (expensive) upstream pair pipeline exactly ONCE without
       shuffling it, and shrinks the edge state by the average
       in-partition cluster size before any iteration starts.  Worker
       memory is O(distinct nodes per partition) — bounded by the scan
       partition size, never the corpus.
    2. Large-star / small-star alternation (Kiveris et al., "Connected
       Components in MapReduce and Beyond", public algorithm) on the
       contracted forest: large-star hangs each node's larger neighbors
       under its neighborhood minimum, small-star re-hangs the smaller
       ones; the edge-set fixpoint is exactly the min-rooted star forest.
       Converges in O(log d) alternations — fewer rounds than min-label
       propagation on chain-shaped components.  Each star is a window
       min over one hash partitioning (no self-join: a groupBy+join-back
       would recompute its input twice), so an alternation is one linear
       pipeline; a lazy checkpoint's convergence count is its
       materializing action.  AQE coalesces each round's shuffles to
       the contracted state's size, which is usually orders of magnitude
       smaller than the corpus the session is tuned for.

    checkpoint_dir: when set, each round's state is written as parquet to
    checkpoint_dir/round-N (reliable storage — HDFS/object store on a
    cluster) instead of executor-local checkpoint blocks, so losing an
    executor mid-iteration doesn't kill the run; superseded round files
    are deleted as the iteration advances, and only the FINAL round's
    files remain because the returned (lazy) DataFrame reads them —
    point checkpoint_dir at a scratch path and remove it once done with
    the result.  No SparkContext-global state (setCheckpointDir) is
    touched.  Results are identical either way; the reliable path costs
    one extra (write) job per round.
    """
    import os

    spark = pairs.sparkSession
    round_paths: list[str] = []

    def _rm_path(path: str) -> None:
        sc = spark.sparkContext
        hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
        fs.delete(hpath, True)

    def _save(df: DataFrame, name: str) -> DataFrame:
        """Truncate lineage: parquet round files (reliable) or
        localCheckpoint (lazy — the caller's next count materializes)."""
        if checkpoint_dir:
            p = os.path.join(checkpoint_dir, name)
            df.write.mode('overwrite').parquet(p)
            round_paths.append(p)
            return spark.read.parquet(p)
        return df.localCheckpoint(False)

    def _forest(batches):
        import pandas as pd
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf['src'], pdf['dst']):
                a, b = int(a), int(b)
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        out = [(x, find(x)) for x in parent]
        yield pd.DataFrame({'src': pd.Series([x for x, r in out if x != r], dtype='int64'),
                            'dst': pd.Series([r for x, r in out if x != r], dtype='int64')})

    # Oriented big→small forest edges.  distinct() merges identical edges
    # re-emitted by different partitions; every original node survives (as
    # src if locally non-root, as dst otherwise — components always have
    # ≥2 nodes, so a global min is some partition's root with children).
    forest = (pairs.select(F.col('doc_a').alias('src'), F.col('doc_b').alias('dst'))
                   .mapInPandas(_forest, schema='src long, dst long')
                   .distinct())
    E = _save(forest, 'round-0')
    n_state = E.count()

    # Hybrid finish (round-16): the per-partition contraction has already
    # collapsed the pair graph to ≤ one edge per distinct node; when that
    # forest fits comfortably on the driver, finishing the union-find
    # locally replaces O(log d) alternation rounds — each costing 2–3
    # jobs of second-scale scheduling overhead on a state that is by now
    # tiny — with one bounded Arrow collect (n_state is MEASURED before
    # collecting, so the transfer is provably ≤ the threshold; ~16 bytes
    # per edge).  Labels are identical by construction: both paths emit
    # (node → component-min) for every forest node.  At 100 TB a
    # duplicate-heavy corpus whose contracted forest exceeds the
    # threshold keeps the fully-distributed alternation.
    if 0 < n_state <= CC_DRIVER_FINISH_EDGES:
        pdf = E.toPandas()
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(pdf['src'], pdf['dst']):
            a, b = int(a), int(b)
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        labels = [(x, find(x)) for x in parent]
        # the result below is driver-materialized (createDataFrame) — no
        # lazy read depends on the round files, so drop them now, same
        # scratch hygiene as the distributed path's superseded rounds
        if checkpoint_dir:
            for p in round_paths:
                try:
                    _rm_path(p)
                except Exception:
                    pass  # best-effort scratch hygiene
        import pandas as pd
        return spark.createDataFrame(
            pd.DataFrame({'doc_id': pd.Series([x for x, _ in labels],
                                              dtype='int64'),
                          'cluster_id': pd.Series([r for _, r in labels],
                                                  dtype='int64')}),
            schema='doc_id long, cluster_id long')

    try:
        from pyspark.sql import Window
        for it in range(max_iter):
            if n_state == 0:
                break
            # large-star: every neighbor v > u hangs under min(N(u) ∪ {u})
            bi = (E.select(F.explode(F.array(
                      F.struct(F.col('src').alias('u'), F.col('dst').alias('v')),
                      F.struct(F.col('dst').alias('u'), F.col('src').alias('v'))))
                      .alias('e'))
                   .select('e.u', 'e.v'))
            lg = (bi.withColumn('mn', F.min('v').over(Window.partitionBy('u')))
                    .where(F.col('v') > F.col('u'))
                    .select(F.col('v').alias('src'),
                            F.least(F.col('u'), F.col('mn')).alias('dst'))
                    .distinct())
            # small-star: all (smaller) neighbors re-hang under the min
            sm = (lg.withColumn('mn', F.min('dst').over(Window.partitionBy('src')))
                    .select(F.explode(F.array(
                        F.struct(F.col('src').alias('s'), F.col('mn').alias('d')),
                        F.struct(F.col('dst').alias('s'), F.col('mn').alias('d'))))
                        .alias('e'))
                    .select(F.col('e.s').alias('src'), F.col('e.d').alias('dst'))
                    .where(F.col('src') != F.col('dst'))
                    .distinct())
            E2 = _save(sm, 'round-{}'.format(it + 1))
            # convergence = multiset equality: equal counts (one job) is
            # the cheap necessary test; the exceptAll proof (a second
            # job) only runs when counts match — non-final rounds save a
            # full pass
            n2 = E2.count()
            converged = n2 == n_state and E2.exceptAll(E).count() == 0
            E, n_state = E2, n2
            if converged:
                break
    finally:
        if checkpoint_dir:
            # superseded rounds are dead weight; the final round backs the
            # lazily-returned result and must stay
            for p in round_paths[:-1]:
                try:
                    _rm_path(p)
                except Exception:
                    pass  # best-effort scratch hygiene
    # At the fixpoint every component is a star rooted at its min: non-min
    # nodes appear once as src, the min only as dst.  The groupBy also
    # keeps output well-formed (one row per id) if max_iter cut off early.
    labels = (E.select(F.explode(F.array(
                  F.struct(F.col('src').alias('id'), F.col('dst').alias('label')),
                  F.struct(F.col('dst').alias('id'), F.col('dst').alias('label'))))
                  .alias('e'))
               .select('e.id', 'e.label')
               .groupBy('id').agg(F.min('label').alias('label')))
    return labels.select(F.col('id').alias('doc_id'),
                         F.col('label').alias('cluster_id'))


def dedup_lines(df: DataFrame, text_col: str = 'text', id_col: str = 'doc_id',
                min_count: int = 2, line_sep: str = '\n',
                hash_fn: str = 'md5',
                broadcast_frequent: bool | None = None,
                broadcast_max_rows: int = 1_000_000) -> DataFrame:
    """Corpus-level duplicate-line removal (the C4-style boilerplate pass):
    drop every line whose trimmed text occurs ≥min_count times ACROSS the
    corpus, rebuild each document from its surviving lines →
    (doc_id, clean_text, n_lines, n_removed).

    Scale shape: two shuffles, both on narrow keys.  (1) The frequency
    count shuffles (line_hash) pairs — a 64/128-bit digest, never line
    text — with map-side partial aggregation absorbing the boilerplate
    heavy hitters ('all rights reserved' is pre-summed per task).  The
    surviving frequent set is tiny relative to the corpus (heavy hitters
    by definition) and is BROADCAST into the marking join, so the corpus
    line stream is never shuffled for the lookup.  (2) Document
    reconstruction groups (pos, line) rows by doc_id — inherent to
    reassembly and exactly what you'd run at 100 TB.  The corpus is
    scanned exactly twice (count pass, rebuild pass) — the minimum
    without persisting the exploded lines.  Empty-after-trim lines never
    participate in counting or removal (blank separators would otherwise
    be 'frequent' everywhere and vanish).

    hash_fn='md5' keeps the digest replayable by other engines (the
    DuckDB oracle compares trimmed line text — equality is identical);
    'xxhash64' is the cheaper engine-local variant.

    broadcast_frequent=None (the default) decides at runtime, exactly as
    dedup_spans does: the frequent-line set is NOT inherently bounded — a
    boilerplate-heavy corpus makes most lines "frequent", and
    force-broadcasting it would fail at precisely the scale this C4 pass
    targets — so the set is persisted, counted (one eager measuring job
    that performs the count pass the lazy plan would run anyway), and
    broadcast only when ≤ broadcast_max_rows.  The marking join then
    reads the cached frequent set, so the corpus is still scanned exactly
    twice and the persisted set (heavy hitters only) outlives the call
    like any cached lineage.  Pass True/False to skip the measuring job
    when the corpus's duplication profile is already known.
    """
    t = F.col(text_col)
    # line_sep is a LITERAL separator: F.split takes a Java regex, so an
    # unescaped '|' or '.' would split on every character while the
    # DuckDB oracle's string_split stays literal — escape it (re.escape
    # backslashes every non-alphanumeric, which Java regex accepts)
    import re as _re
    lines = F.split(t, _re.escape(line_sep), -1)
    base = df.select(F.col(id_col).alias('doc_id'),
                     F.posexplode(lines).alias('pos', 'line'))
    norm = F.trim(F.col('line'))
    key = (F.md5(F.encode(norm, 'utf-8')) if hash_fn == 'md5'
           else F.xxhash64(norm).cast('string'))
    base = base.withColumn('__key', F.when(norm != '', key))
    freq = (base.where(F.col('__key').isNotNull())
                .groupBy('__key').agg(F.count(F.lit(1)).alias('__cnt'))
                .where(F.col('__cnt') >= min_count)
                .select('__key', F.lit(True).alias('__dup')))
    if broadcast_frequent is None:
        from pyspark.storagelevel import StorageLevel

        from rbql_spark.tuning import apply_plan_width

        # the measuring count runs EAGERLY: size its shuffle now (r17)
        freq = apply_plan_width(freq).persist(StorageLevel.MEMORY_AND_DISK)
        broadcast_frequent = freq.count() <= broadcast_max_rows
    # LEFT join (not anti) so every line — removed or kept — reaches the
    # per-doc rebuild: n_lines/n_removed fall out of the same aggregation
    # and fully-scrubbed documents still emit a row (empty clean_text),
    # without a third corpus scan for the id spine
    marked = base.join(F.broadcast(freq) if broadcast_frequent else freq,
                       '__key', 'left')
    kept_struct = F.when(F.col('__dup').isNull(), F.struct('pos', 'line'))
    return (marked.groupBy('doc_id')
                  .agg(F.count(F.lit(1)).cast('long').alias('n_lines'),
                       F.count('__dup').cast('long').alias('n_removed'),
                       F.concat_ws(line_sep, F.transform(
                           # collect_list skips the nulls = the removed lines
                           F.array_sort(F.collect_list(kept_struct)),
                           lambda x: x['line'])).alias('clean_text'))
                  .select('doc_id', 'clean_text', 'n_lines', 'n_removed'))


def keep_canonical(df: DataFrame, pairs: DataFrame, id_col: str = 'doc_id',
                   checkpoint_dir: str | None = None) -> DataFrame:
    """The dedup pipeline's final cut: given near-dup pairs, keep ONE
    representative (the min id) per duplicate cluster plus every document
    not in any pair — i.e. the deduplicated corpus itself, not just the
    pair/cluster report.

    Composition of existing pieces: dedup_clusters labels each clustered
    doc with its component min; members ≠ label are the removal set; a
    left_anti join (hash shuffle on the id key — at 100 TB the removal
    set is usually far smaller than the corpus, and AQE will broadcast it
    when it fits) filters the corpus.  Cluster iteration state follows
    dedup_clusters' checkpoint_dir contract.
    """
    clusters = dedup_clusters(pairs, checkpoint_dir=checkpoint_dir)
    removed = (clusters.where(F.col('doc_id') != F.col('cluster_id'))
                       .select(F.col('doc_id').alias(id_col)))
    return df.join(removed, id_col, 'left_anti')


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash: per token hash, sum ±1 per bit position, sign → bit.

    Token hashes are md5-derived 64-bit values (first 16 md5 hex chars),
    voted by a single numpy bit-vote kernel per Arrow batch — one
    vectorized pass instead of 64 interpreted HOF lanes, and reproducible
    in any engine with md5(), which the DuckDB differential oracle
    exploits.  Fingerprints ride as two's-complement int64.
    """
    df = spread_partitions(df)
    src = df.select(F.col(id_col).alias('doc_id'), F.col(text_col).alias('__text'))

    memo_cap = _SIMHASH_MEMO_CAP

    def run(batches):
        import hashlib
        import re as _re

        import numpy as np
        import pandas as pd
        token_rgx = _re.compile(r'[^\W_]+', _re.UNICODE)
        shifts = np.arange(64, dtype=np.uint64)
        # token → row index into the preallocated vote table; natural
        # language repeats tokens heavily, so md5 runs once per distinct
        # token per worker instead of once per occurrence.  The memo is
        # reset BETWEEN documents once it crosses the cap — never
        # mid-document: row indices already handed out for the in-flight
        # doc must stay valid (a mid-doc reset would make them point into
        # an emptied table → wrong fingerprints at >cap vocabularies).
        memo: dict[str, int] = {}
        state = {'table': np.empty((1024, 64), dtype=np.int16), 'n': 0}

        def vote_row(tok):
            idx = memo.get(tok)
            if idx is None:
                h = np.uint64(int(hashlib.md5(tok.encode('utf-8')).hexdigest()[:16], 16))
                table, idx = state['table'], state['n']
                if idx == len(table):
                    table = np.concatenate([table, np.empty_like(table)])
                    state['table'] = table
                table[idx] = (((h >> shifts) & np.uint64(1)).astype(np.int16) * 2 - 1)
                memo[tok] = idx
                state['n'] = idx + 1
            return idx

        for pdf in batches:
            out = []
            for text in pdf['__text']:
                if state['n'] >= memo_cap:  # between-documents only
                    memo.clear()
                    state['n'] = 0
                toks = token_rgx.findall((text or '').lower())
                if not toks:
                    out.append(0)
                    continue
                idxs = np.fromiter((vote_row(t) for t in toks),
                                   dtype=np.intp, count=len(toks))
                # fancy-index the 2-D table: copies len(toks) rows, not
                # the whole memo table (a list-of-rows np.asarray here
                # would be O(total vocabulary) per document).
                votes = state['table'][idxs].sum(axis=0, dtype=np.int64)
                bits = (votes > 0).astype(np.uint64)
                fp = np.bitwise_or.reduce(bits << shifts)
                out.append(int(fp.astype(np.int64)))
            yield pd.DataFrame({'doc_id': pdf['doc_id'],
                                'simhash': pd.Series(out, index=pdf.index, dtype='int64')})

    return src.mapInPandas(run, schema='doc_id long, simhash long')


def simhash_near_dups(df: DataFrame, text_col: str, id_col: str,
                      max_hamming: int = 3,
                      eager: bool = False) -> DataFrame:
    """Near-dup pairs by SimHash using the 4-block pigeonhole trick: split the
    64-bit fingerprint into max_hamming+1 blocks — any pair within the
    Hamming radius shares at least one exact block → equi-join per block,
    then exact Hamming verify (bit_count of XOR).  The block candidate
    generation has recall 1 by construction, so the output equals the exact
    all-pairs Hamming answer — which is what the DuckDB oracle computes.

    Fingerprints are persisted before the self-join: the two join branches
    are separate scans of the same subplan, and without the persist each
    would run the (dominant-cost) fingerprint kernel over the whole corpus
    independently — twice the work at any scale.  By default the cache
    entry outlives this call (the result is lazy, so there is no safe
    point to unpersist here); long-lived sessions issuing many dedup
    calls should either unpersist consumed results /
    spark.catalog.clearCache() between pipelines — same lifecycle as
    minhash_dedup_pairs' persisted signatures — or pass eager=True, which
    materializes the pair set (localCheckpoint), unpersists the
    fingerprint cache before returning, and hands back a
    lineage-truncated result: no cache hygiene left to the caller, at the
    cost of computing the pairs up front."""
    from pyspark import StorageLevel
    fps = simhash(df, text_col, id_col).persist(StorageLevel.MEMORY_AND_DISK)
    nblocks = max_hamming + 1
    width = 64 // nblocks
    block_arr = F.array(*[
        F.shiftright(F.col('simhash'), i * width).bitwiseAND(F.lit((1 << width) - 1))
        for i in range(nblocks)
    ])
    blocked = fps.select('doc_id', 'simhash',
                         F.posexplode(block_arr).alias('block_idx', 'block_val'))
    l, r = blocked.alias('l'), blocked.alias('r')
    cand = (l.join(r, (F.col('l.block_idx') == F.col('r.block_idx'))
                   & (F.col('l.block_val') == F.col('r.block_val'))
                   & (F.col('l.doc_id') < F.col('r.doc_id')))
             .select(F.col('l.doc_id').alias('doc_a'), F.col('r.doc_id').alias('doc_b'),
                     F.col('l.simhash').alias('fp_a'), F.col('r.simhash').alias('fp_b'))
             .distinct())
    hamming = F.bit_count(F.col('fp_a').bitwiseXOR(F.col('fp_b')))
    out = (cand.select('doc_a', 'doc_b', hamming.alias('hamming'))
               .filter(F.col('hamming') <= max_hamming))
    if eager:
        out = out.localCheckpoint(True)
        fps.unpersist()
    return out


def dedup_spans(df: DataFrame, text_col: str = 'text',
                id_col: str = 'doc_id', k: int = 5, min_count: int = 2,
                broadcast_frequent: bool | None = None,
                broadcast_max_rows: int = 1_000_000) -> DataFrame:
    """Duplicate n-gram SPAN detection — the substring-level dedup signal
    of "Deduplicating Training Data Makes Language Models Better" (Lee
    et al. 2021), re-expressed for Spark: every k-token rolling window
    whose text occurs ≥min_count times ACROSS the corpus marks its token
    span as duplicated.  Returns per-document
    (doc_id, n_tokens, n_windows, n_dup_windows, dup_token_frac) where
    dup_token_frac is the fraction of token positions covered by at
    least one duplicated window — the retain/trim/drop signal finer than
    dedup_lines (line-level) or minhash (document-level).

    Scale shape (the dedup_lines pattern one level down): window DIGESTS
    — never window text — shuffle into one partial/final frequency
    count; the surviving frequent set (heavy hitters by definition) is
    BROADCAST into the marking join, so the corpus window stream is
    never shuffled for the lookup; coverage sums min(k, gap) over the
    document's sorted duplicate starts — O(n_dup) per doc, no k-fold
    position expansion.  Two corpus
    scans (per-doc totals, window pass); suffix arrays — the paper's
    exact machinery — are replaced by the rolling-window hash join,
    which finds every duplicated span of length ≥ k at 1/k the
    index cost, the standard large-scale approximation.
    broadcast_frequent=False falls back to a shuffle join when the
    frequent set itself is too large to broadcast.

    Documents shorter than k tokens have no windows (n_windows = 0,
    frac 0.0); a window repeated WITHIN one document counts toward the
    corpus frequency — internal boilerplate is duplication too.
    Deterministic md5 window digests keep the whole pipeline replayable
    by the DuckDB differential oracle.

    broadcast_frequent=None (the default) decides at runtime: the
    frequent set is NOT inherently bounded — on a duplicate-heavy corpus
    most windows are frequent, and force-broadcasting it would fail at
    exactly the scale this operator targets — so the set is persisted,
    counted, and broadcast only when ≤ broadcast_max_rows (the count
    reuses the cached digests; the marking join reads the same cache, so
    no extra corpus scan).  Pass True/False to skip the measuring job
    when the caller already knows the corpus's duplication profile.

    Cache lifetime (auto mode only): the measuring job runs EAGERLY at
    call time, and the persisted frequent set backs the lazily-returned
    frame — it stays in the Spark cache until the session ends or the
    caller unpersists it (`spark.catalog.clearCache()` or
    df.unpersist() on the cached frame).  Long-lived sessions invoking
    this repeatedly should pass an explicit True/False, which keeps the
    call fully lazy and cache-free.
    """
    df = spread_partitions(df)
    t = F.coalesce(F.col(text_col), F.lit(''))
    base = df.select(F.col(id_col).alias('doc_id'),
                     F.size(tokens(t)).alias('n_tokens')) \
             .withColumn('n_windows',
                         F.greatest(F.col('n_tokens') - k + 1,
                                    F.lit(0)).cast('long'))

    def winarr(ta: Column) -> Column:
        n = F.size(ta)
        # slice-to-length keeps the sequence ascending AND empty when
        # n < k (sequence(0, negative) would descend)
        idx = F.slice(F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
                      1, F.greatest(n - k + 1, F.lit(0)))
        return F.transform(
            idx, lambda s: F.struct(
                s.alias('s'),
                F.md5(F.encode(F.concat_ws(' ', F.slice(ta, s + 1, k)),
                               'utf-8')).alias('h')))

    wins = (df.select(F.col(id_col).alias('doc_id'),
                      F.explode(let_once(tokens(t), winarr)).alias('w'))
              .select('doc_id', F.col('w.s').alias('s'),
                      F.col('w.h').alias('h')))
    freq = (wins.groupBy('h').agg(F.count(F.lit(1)).alias('__cnt'))
                .where(F.col('__cnt') >= min_count)
                .select('h'))
    if broadcast_frequent is None:
        from pyspark.storagelevel import StorageLevel

        from rbql_spark.tuning import apply_plan_width

        # the measuring count runs EAGERLY: size its shuffle now (r17)
        freq = apply_plan_width(freq).persist(StorageLevel.MEMORY_AND_DISK)
        broadcast_frequent = freq.count() <= broadcast_max_rows
    if broadcast_frequent:
        freq = F.broadcast(freq)
    dup = wins.join(freq, 'h').select('doc_id', 's')
    # coverage from SORTED starts in O(n_dup): the first window covers k
    # positions, each later one adds min(k, gap to its predecessor) —
    # no k-fold position expansion (a boilerplate-heavy document would
    # otherwise blow one aggregation row up k x before the distinct)
    srt = F.array_sort('__starts')
    pair_len = F.greatest(F.size(srt) - 1, F.lit(0))
    covered = F.lit(k) + F.aggregate(
        F.zip_with(F.slice(srt, 2, pair_len), F.slice(srt, 1, pair_len),
                   lambda a, b: F.least(F.lit(k), a - b)),
        F.lit(0), lambda acc, x: acc + x)
    agg = (dup.groupBy('doc_id')
              .agg(F.count(F.lit(1)).alias('__nd'),
                   F.collect_list('s').alias('__starts'))
              .withColumn('__covered', covered)
              .select('doc_id', '__nd', '__covered'))
    return (base.join(agg, 'doc_id', 'left')
                .select('doc_id', 'n_tokens', 'n_windows',
                        F.coalesce(F.col('__nd'), F.lit(0))
                         .alias('n_dup_windows'),
                        F.round(F.when(
                            F.col('n_tokens') > 0,
                            F.coalesce(F.col('__covered'), F.lit(0))
                            / F.col('n_tokens')).otherwise(F.lit(0.0)), 6)
                         .alias('dup_token_frac')))


def exact_dedup_incremental(batch: DataFrame, index: DataFrame,
                            text_col: str = 'text', id_col: str = 'doc_id',
                            hash_fn: str = 'xxhash64',
                            broadcast_index: bool | None = None,
                            broadcast_max_rows: int = 5_000_000) -> DataFrame:
    """Exact dedup of a NEW batch against a stored digest index →
    (text_hash, doc_id): one row per batch document whose normalized
    text is unseen — not in `index` (a frame with a `text_hash` column,
    e.g. a previous exact_dedup output or this function's) and the
    min-id holder of its digest within the batch.  Union the returned
    text_hash column into the stored index to advance it — the exact
    counterpart of minhash_match's stored-band-index contract (the
    streaming face is streaming.stream_exact_dedup).

    `hash_fn` must match the one the index was built with (same default
    as exact_dedup: xxhash64 → BIGINT digests, 'md5' → hex strings for
    external-engine replay).  A digest-type mismatch would otherwise
    coerce to NULL/double in the join and silently report every indexed
    duplicate as unseen, so the index's text_hash dtype is validated
    against the chosen hash_fn up front.  NULL-text docs collapse to one
    NULL-digest row per batch and are NEVER reported seen, under both
    hash functions (_text_digest; previously xxhash64 hashed NULL to its
    seed constant and diverged from the md5 path).

    Scale shape: the batch collapses to first-seen digests in one
    partial/final aggregation (digests shuffle, never text), then a
    LEFT ANTI join against the index.  The index is corpus-scale, so
    broadcast_index=None (default) persists its distinct digest set,
    counts it (one eager measuring job — the dedup_lines contract), and
    broadcasts only under broadcast_max_rows; a hash join otherwise.
    """
    key = _text_digest(normalize_text(F.col(text_col)), hash_fn)
    idx_type = dict(index.dtypes).get('text_hash')
    if idx_type is None:
        raise ValueError('exact_dedup_incremental: index needs a '
                         'text_hash column')
    want = 'string' if hash_fn == 'md5' else 'bigint'
    if idx_type != want:
        raise ValueError(
            'exact_dedup_incremental: index text_hash is {} but '
            'hash_fn={!r} produces {} — pass the hash_fn the index was '
            'built with'.format(idx_type, hash_fn, want))
    firsts = (spread_partitions(batch)
              .select(key.alias('text_hash'), F.col(id_col).alias('doc_id'))
              .groupBy('text_hash')
              .agg(F.min('doc_id').alias('doc_id')))
    idx = index.select('text_hash').distinct()
    if broadcast_index is None:
        from pyspark.storagelevel import StorageLevel
        idx = idx.persist(StorageLevel.MEMORY_AND_DISK)
        broadcast_index = idx.count() <= int(broadcast_max_rows)
    return firsts.join(F.broadcast(idx) if broadcast_index else idx,
                       'text_hash', 'left_anti')


def contamination_report(train: DataFrame, benchmark: DataFrame,
                         text_col: str = 'text', id_col: str = 'doc_id',
                         shingle_k: int = 3, min_overlap: int = 1,
                         hash_fn: str = 'md5',
                         broadcast_benchmark: bool = True) -> DataFrame:
    """Per-benchmark-document contamination summary — the eval-hygiene
    report built on decontaminate's hit table → one row PER BENCHMARK
    DOC: (bench_id, n_contaminating_docs, max_overlap, total_overlap),
    zeros for clean items.  Where decontaminate answers "which training
    docs must go", this answers the auditor's question: "which eval
    items leak, and how badly" — the table a benchmark owner reviews
    before trusting a score.

    Scale shape: the expensive part IS decontaminate (one corpus scan,
    broadcast benchmark shingles); the hit table is contamination-sized,
    its per-bench aggregation is tiny, and the zero-rows come from ONE
    left join of the distinct benchmark ids against it.
    """
    hits = decontaminate(train, benchmark, text_col=text_col,
                         id_col=id_col, shingle_k=shingle_k,
                         min_overlap=min_overlap, hash_fn=hash_fn,
                         broadcast_benchmark=broadcast_benchmark)
    per = (hits.groupBy('bench_id')
               .agg(F.count_distinct('doc_id').alias('__n'),
                    F.max('n_overlap').alias('__mx'),
                    F.sum('n_overlap').alias('__tot')))
    bench_ids = benchmark.select(F.col(id_col).alias('bench_id')).distinct()
    return (bench_ids.join(per, 'bench_id', 'left')
            .select('bench_id',
                    F.coalesce(F.col('__n'), F.lit(0)).cast('long')
                     .alias('n_contaminating_docs'),
                    F.coalesce(F.col('__mx'), F.lit(0)).cast('long')
                     .alias('max_overlap'),
                    F.coalesce(F.col('__tot'), F.lit(0)).cast('long')
                     .alias('total_overlap')))
