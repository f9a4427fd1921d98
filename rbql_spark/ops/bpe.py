"""BPE tokenizer training (superset op, SURVEY §2.8): learn byte-pair
merge rules from a corpus — the vocabulary-induction step of an LLM data
pipeline, downstream of top_ngrams' seed counts.

Word-level BPE (the standard formulation): the corpus collapses to its
distinct-word vocabulary with frequencies ONCE (the only corpus-scale
job); every merge round then runs over the (distributed, but
vocabulary-sized) symbol table — count adjacent symbol pairs weighted by
word frequency, pick the most frequent pair (ties: left ASC, right ASC),
merge it everywhere left-to-right non-overlapping.  All symbol math is
deterministic string/array expressions, so the DuckDB differential
oracle replays every round — the learned merge table is value-checked,
not just row-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import let_once, tokens

# symbol separator inside the encoded symbol string; tokens() yields
# letter/digit runs only, so '/' can never occur inside a symbol
_SEP = '/'


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(left_sym, right_sym, pair_count) over the vocabulary, weighted by
    word frequency.  One explode + one partial+final sum."""
    def pairs(s):
        n = F.size(s)
        idx = F.sequence(F.lit(0), n - 2)
        return F.when(n >= 2, F.transform(
            idx, lambda i: F.struct(F.element_at(s, i + 1).alias('left_sym'),
                                    F.element_at(s, i + 2).alias('right_sym'))
        )).otherwise(F.array().cast(
            'array<struct<left_sym:string,right_sym:string>>'))

    return (vocab.select(F.explode(let_once(F.split('syms', _SEP), pairs))
                         .alias('p'), 'wcount')
                 .groupBy('p.left_sym', 'p.right_sym')
                 .agg(F.sum('wcount').alias('pair_count')))


def _apply_merge(left: str, right: str):
    """Column builder: merge every adjacent (left, right) symbol pair in
    the encoded symbol string, left-to-right non-overlapping — a fold
    seeded with the first symbol (mirroring DuckDB's list_reduce, which
    has no separate init) whose accumulator is the rebuilt string; the
    pair matches only on exact symbol boundaries (acc == left, or acc
    ending in SEP+left)."""
    def fold(s):
        return F.aggregate(
            F.slice(s, 2, F.size(s) - 1), F.element_at(s, 1),
            lambda acc, x: F.when(
                ((acc == F.lit(left)) | acc.endswith(_SEP + left))
                & (x == F.lit(right)),
                F.concat(acc, x)
            ).otherwise(F.concat(acc, F.lit(_SEP), x)))

    return let_once(F.split('syms', _SEP), fold)


def train_bpe(df: DataFrame, text_col: str = 'text',
              n_merges: int = 8) -> DataFrame:
    """Learn n_merges BPE merge rules → (rank, left_sym, right_sym,
    merged, pair_count), rank 1 = first/most-frequent merge.  Stops early
    if the vocabulary runs out of adjacent pairs.

    Scale shape: ONE corpus-scale aggregation (distinct words +
    frequencies); each round is two vocabulary-sized jobs — a pair-count
    aggregation whose argmax is a 1-row TakeOrdered to the driver
    (inherent to sequential BPE: round r+1's counts depend on round r's
    merge), and a stateless merge projection.  The vocabulary stays a
    distributed DataFrame throughout (web-scale corpora have
    billion-entry vocabularies); per-round localCheckpoints keep the
    plan flat and stop the corpus aggregation from re-running every
    round.  The driver holds only the n_merges learned rules.

    Checkpoint lifecycle: each round's localCheckpoint supersedes the
    previous one; superseded checkpoint blocks are freed by Spark's
    ContextCleaner once the rebound `vocab` reference drops them (no
    explicit unpersist API exists for localCheckpoint state) — a
    long-lived session running many trainings reclaims them at GC, not
    instantly.
    """
    spark = df.sparkSession
    words = df.select(F.explode(tokens(F.col(text_col))).alias('word'))
    vocab = (words.groupBy('word').agg(F.count(F.lit(1)).alias('wcount'))
                  .select(F.concat_ws(_SEP, F.split('word', '')).alias('syms'),
                          'wcount')
                  .localCheckpoint())
    merges: list[tuple] = []
    for r in range(int(n_merges)):
        best = (_pair_counts(vocab)
                .orderBy(F.col('pair_count').desc(),
                         F.col('left_sym').asc(), F.col('right_sym').asc())
                .limit(1).collect())
        if not best:
            break
        left, right, cnt = best[0]['left_sym'], best[0]['right_sym'], best[0]['pair_count']
        merges.append((r + 1, left, right, left + right, int(cnt)))
        vocab = vocab.select(_apply_merge(left, right).alias('syms'),
                             'wcount').localCheckpoint()
    return spark.createDataFrame(
        merges,
        'rank long, left_sym string, right_sym string, '
        'merged string, pair_count long')


def apply_bpe(df: DataFrame, merges: list[tuple[str, str]],
              text_col: str = 'text', id_col: str = 'doc_id') -> DataFrame:
    """Tokenize documents with a learned merge list (rank order) →
    (doc_id, bpe_tokens array<string>, n_bpe_tokens).  A pure projection
    — each document's words fold through the merges inside the scan
    tasks, no shuffle.

    Tokenization stays native (the same `tokens()` expression train_bpe
    uses, so word boundaries never drift), and the merge fold runs as an
    Arrow kernel with a per-task WORD memo — each distinct word is
    encoded once per task and every later occurrence is a dict hit.  A
    Catalyst fold executes interpreted (no codegen for lambda bodies,
    the NOTES_r13 A/B) and re-folds every word OCCURRENCE; it measured
    3.5× slower than the memoized kernel at sf0.1.  The kernel's
    whole-symbol left-to-right non-overlapping scan is the same fold as
    _apply_merge's separator-boundary accumulator (symbols never contain
    the separator, so `acc == left or acc.endswith(SEP+left)` ⟺ the
    previously emitted symbol equals `left`), which is what the DuckDB
    oracle replays.
    """
    mlist = [(str(left), str(right)) for left, right in merges]
    id_type = df.schema[id_col].dataType.simpleString()
    src = df.select(F.col(id_col).alias('doc_id'),
                    tokens(F.col(text_col)).alias('__toks'))

    def run(batches):
        import pandas as pd
        memo: dict = {}

        def enc_word(w):
            syms = memo.get(w)
            if syms is None:
                syms = list(w)
                for left, right, both in folds:
                    out = []
                    i = 0
                    n = len(syms)
                    while i < n:
                        if (i + 1 < n and syms[i] == left
                                and syms[i + 1] == right):
                            out.append(both)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    syms = out
                memo[w] = syms
            return syms

        folds = [(left, right, left + right) for left, right in mlist]
        for pdf in batches:
            col = []
            for ta in pdf['__toks']:
                if ta is None:
                    col.append(None)
                    continue
                row: list = []
                for w in ta:
                    row.extend(enc_word(w))
                col.append(row)
            yield pd.DataFrame({
                'doc_id': pdf['doc_id'],
                'bpe_tokens': pd.Series(col, index=pdf.index, dtype='object'),
            })

    out = src.mapInPandas(
        run, schema='doc_id {}, bpe_tokens array<string>'.format(id_type))
    return out.select('doc_id', 'bpe_tokens',
                      F.size('bpe_tokens').cast('long').alias('n_bpe_tokens'))


def bpe_vocab(encoded: DataFrame, tokens_col: str = 'bpe_tokens') -> DataFrame:
    """Deterministic id vocabulary over a BPE-tokenized corpus (the
    apply_bpe output) → (token, token_id) with dense contiguous ids
    0..V-1 assigned in TOKEN-ASCENDING order — rerun-stable,
    partition-layout-invariant, and replayable by a SQL engine
    (row_number over the sorted distinct tokens).

    Scale shape: the distinct-token aggregation is corpus-scale; the id
    assignment avoids the one-task global window with the lexicographic
    two-phase rank — rank within the FIRST-CHARACTER bucket (prefix
    buckets preserve global token order), then add per-bucket offsets
    from one bucket-count aggregation whose result is alphabet-sized.
    The only single-partition stage is that tiny offsets window (the
    shuffle_corpus precedent).
    """
    from pyspark.sql import Window

    toks = (encoded.select(F.explode(F.col(tokens_col)).alias('token'))
                   .where(F.col('token').isNotNull() & (F.col('token') != ''))
                   .distinct()
                   .withColumn('__b', F.substring('token', 1, 1)))
    wb = Window.partitionBy('__b').orderBy(F.col('token').asc())
    ranked = toks.withColumn('__r', F.row_number().over(wb))
    sizes = (ranked.groupBy('__b').agg(F.count(F.lit(1)).alias('__n')))
    woff = Window.orderBy(F.col('__b').asc()) \
                 .rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.withColumn('__off',
                               F.coalesce(F.sum('__n').over(woff),
                                          F.lit(0)))
    return (ranked.join(F.broadcast(offsets.select('__b', '__off')), '__b')
                  .select('token',
                          (F.col('__off') + F.col('__r') - 1)
                          .cast('long').alias('token_id')))


def encode_bpe_ids(encoded: DataFrame, vocab: DataFrame,
                   tokens_col: str = 'bpe_tokens', id_col: str = 'doc_id',
                   unk_id: int = -1,
                   broadcast_vocab: bool | None = None,
                   broadcast_max_rows: int = 5_000_000) -> DataFrame:
    """Map BPE tokens to integer ids under a (token, token_id) vocabulary
    → (doc_id, token_ids array<long>, n_tokens, n_unk): the model-ready
    tail of the tokenizer path (compose with sampling.pack_sequences to
    build training bins over id counts).  Tokens absent from the
    vocabulary encode as `unk_id` and are counted in n_unk — the
    train-vocab-applied-to-new-data contract.

    Scale shape (round-16): when the vocabulary fits the broadcast
    budget — the overwhelmingly common case; vocabularies are fixed
    model parameters, tiny next to the corpus — the (token → id) dict
    ships to the tasks and the whole encoding is ONE stateless Arrow
    projection over the corpus scan: no explode, no join, no corpus
    shuffle (the old shape exploded to (doc, pos, token), joined, and
    rebuilt arrays with a corpus-wide groupBy — one full corpus
    Exchange now removed; same output by construction since the
    positions were only ever used to restore the array order the
    projection never loses).  The vocabulary is sized with a guarded
    `limit(broadcast_max_rows+1).collect()` — one bounded job, the
    ops.dedup broadcast-guard pattern.  A larger-than-budget vocab (a
    billion-entry web vocab) falls back to the explode + LEFT-join +
    groupBy rebuild, which scales arbitrarily.  Documents with zero
    tokens emit an empty array.
    """
    from pyspark.storagelevel import StorageLevel

    v = vocab.select(F.col('token').alias('__tok'),
                     F.col('token_id').alias('__tid'))
    vocab_rows = None
    if broadcast_vocab is None or broadcast_vocab:
        cap = int(broadcast_max_rows)
        if broadcast_vocab is None:
            # probe + (maybe) join both read the vocab build — cache it
            # across them; released below if the dict path wins
            v = v.persist(StorageLevel.MEMORY_AND_DISK)
        rows = v.limit(cap + 1).collect()
        if len(rows) <= cap:
            if broadcast_vocab is None:
                v.unpersist()
            vocab_rows = rows
        elif broadcast_vocab:
            raise ValueError(
                'encode_bpe_ids: vocabulary exceeds broadcast_max_rows={} '
                'but broadcast_vocab=True was forced; raise the cap or let '
                'the join path handle it'.format(cap))
    if vocab_rows is not None:
        return _encode_ids_arrow(encoded, vocab_rows, tokens_col, id_col,
                                 int(unk_id))
    pos = (encoded.select(F.col(id_col).alias('doc_id'),
                          F.posexplode_outer(F.col(tokens_col))
                           .alias('__pos', '__tok')))
    joined = pos.join(F.broadcast(v) if broadcast_vocab else v,
                      '__tok', 'left')
    tid = F.when(F.col('__pos').isNull(), F.lit(None)) \
           .otherwise(F.coalesce(F.col('__tid'), F.lit(int(unk_id))))
    per = (joined.select('doc_id', '__pos', tid.alias('__id'))
                 .groupBy('doc_id')
                 .agg(F.array_sort(F.collect_list(
                          F.struct(F.col('__pos').alias('p'),
                                   F.col('__id').alias('i')))).alias('__s')))
    # posexplode_outer keeps a zero-token document alive as one
    # NULL-position row; its NULL id is filtered here so such docs emit
    # an EMPTY id array (every real token has a non-null id: vocab hit
    # or unk_id)
    ids = F.filter(F.transform(F.col('__s'), lambda s: s['i']),
                   lambda x: x.isNotNull())
    return per.select(
        'doc_id', ids.alias('token_ids'),
        F.size(ids).cast('long').alias('n_tokens'),
        F.size(F.filter(ids, lambda x: x == int(unk_id)))
         .cast('long').alias('n_unk'))


def _encode_ids_arrow(encoded: DataFrame, vocab_rows, tokens_col: str,
                      id_col: str, unk_id: int) -> DataFrame:
    """Broadcast-dict id encoding behind encode_bpe_ids: one stateless
    Arrow projection, the vocabulary as a task-local dict.  Matches the
    join path cell-for-cell: per-token id = vocab hit or unk_id (null
    tokens, impossible from apply_bpe but legal in a generic frame, are
    vocab misses → unk_id, exactly the LEFT-join's null → coalesce);
    a null or empty token array yields an EMPTY id array (the
    posexplode_outer + filter contract)."""
    vd = {r['__tok']: int(r['__tid']) for r in vocab_rows}
    id_type = encoded.schema[id_col].dataType.simpleString()
    bc = encoded.sparkSession.sparkContext.broadcast(vd)
    src = encoded.select(F.col(id_col).alias('doc_id'),
                         F.col(tokens_col).alias('__toks'))

    def run(batches):
        import pandas as pd
        d = bc.value
        unk = int(unk_id)
        for pdf in batches:
            ids_col: list = []
            n_col: list = []
            u_col: list = []
            for ta in pdf['__toks']:
                if ta is None:
                    ids_col.append([])
                    n_col.append(0)
                    u_col.append(0)
                    continue
                ids = [d.get(t, unk) for t in ta]
                ids_col.append(ids)
                n_col.append(len(ids))
                u_col.append(sum(1 for i in ids if i == unk))
            yield pd.DataFrame({
                'doc_id': pdf['doc_id'],
                'token_ids': pd.Series(ids_col, index=pdf.index,
                                       dtype='object'),
                'n_tokens': pd.Series(n_col, index=pdf.index, dtype='int64'),
                'n_unk': pd.Series(u_col, index=pdf.index, dtype='int64'),
            })

    return src.mapInPandas(
        run, schema='doc_id {}, token_ids array<long>, n_tokens long, '
                    'n_unk long'.format(id_type))
