"""Text-analysis operators for training-data pipelines (superset, scale-first).

Everything is native Spark SQL expressions (regexp/length/aggregate) — one
narrow projection, no shuffle, no Python in the hot path.

  * token_stats        — token/char counts (whitespace + BPE-ish regex)
  * quality_score      — length/punctuation/stopword/uppercase heuristics
  * language_id        — stopword-hit n-gram heuristic over a small lexicon
  * doc_fingerprint    — order-sensitive rolling hash of the token stream
  * repetition_stats   — Gopher-style within-doc repetition fractions
  * top_ngrams         — corpus-wide most-frequent word n-grams
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import spread_partitions, tokens

# A BPE-ish segmentation: word pieces, numbers, or single non-space symbols —
# close to the common GPT-2 pretokenizer shape, public knowledge.
BPE_ISH_REGEX = r"\p{L}+|\p{N}+|[^\s\p{L}\p{N}]"

_STOPWORDS = {
    'en': ['the', 'and', 'of', 'to', 'in', 'is', 'that', 'for', 'with', 'was'],
    'de': ['der', 'die', 'und', 'das', 'ist', 'nicht', 'ein', 'mit', 'für', 'von'],
    'fr': ['le', 'la', 'et', 'les', 'des', 'est', 'pour', 'dans', 'que', 'une'],
    'es': ['el', 'la', 'de', 'que', 'los', 'es', 'para', 'con', 'una', 'por'],
}


def token_stats(df: DataFrame, text_col: str = 'text', id_col: str = 'doc_id') -> DataFrame:
    """Whitespace tokens, BPE-ish piece count, char statistics per document."""
    # expansion=8: pure regex/HOF projections do ~8x the CPU
    # per compressed byte of a shuffle-bound op, so the sized
    # spread gets proportionally more tasks (r17 full-bench A/B:
    # width 8 cost quality_score/redact_pii 20-40% vs width ~19)
    df = spread_partitions(df, expansion=8.0)
    t = F.col(text_col)
    ws_tokens = F.filter(F.split(t, r'\s+', -1), lambda x: x != '')
    bpe_count = F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_REGEX), 0))
    return df.select(
        F.col(id_col),
        F.length(t).cast('long').alias('n_chars'),
        F.size(ws_tokens).cast('long').alias('n_tokens_ws'),
        bpe_count.cast('long').alias('n_tokens_bpe'),
        F.size(F.array_distinct(tokens(t))).cast('long').alias('n_unique_words'),
        F.length(F.regexp_replace(t, r'[^\p{L}]', '')).cast('long').alias('n_letters'),
        F.length(F.regexp_replace(t, r'[^\p{N}]', '')).cast('long').alias('n_digits'),
    )


def quality_score(df: DataFrame, text_col: str = 'text', id_col: str = 'doc_id') -> DataFrame:
    """Heuristic quality features + a composite score in [0, 1].

    Every count is a native regexp_count/regexp_replace expression — no
    higher-order array functions (Catalyst executes lambda HOFs
    *interpreted*, outside whole-stage codegen; the original HOF version
    measured ~2× slower at sf0.1).  Sum of word lengths == count of
    non-whitespace chars, so mean_word_len needs no per-word fold.
    """
    # expansion=8: pure regex/HOF projections do ~8x the CPU
    # per compressed byte of a shuffle-bound op, so the sized
    # spread gets proportionally more tasks (r17 full-bench A/B:
    # width 8 cost quality_score/redact_pii 20-40% vs width ~19)
    df = spread_partitions(df, expansion=8.0)
    t = F.col(text_col)
    n_chars = F.length(t).cast('double')
    n_words = F.regexp_count(t, F.lit(r'\S+')).cast('double')
    n_punct = F.regexp_count(t, F.lit(r'[\p{Punct}]')).cast('double')
    n_upper = F.regexp_count(t, F.lit(r'[A-Z]')).cast('double')
    # non-space chars = total − whitespace; counting the (sparser)
    # whitespace class is measurably cheaper than counting \S
    word_chars = (F.length(t) - F.regexp_count(t, F.lit(r'\s'))).cast('double')
    # a token equals a stopword iff the whole [L N]+ run matches: anchor on
    # a consumed non-token char (or start) + a lookahead — tokens are
    # delimiter-separated, so consuming the delimiter never masks the next
    # match, and it benches ~2× faster than a lookbehind
    stop_rgx = (r'(?:^|[^\p{L}\p{N}])(?:' + '|'.join(_STOPWORDS['en'])
                + r')(?![\p{L}\p{N}])')
    n_stop = F.regexp_count(F.lower(t), F.lit(stop_rgx)).cast('double')
    # token-run COUNT is case-invariant — skip the lower() allocation
    n_toks = F.regexp_count(t, F.lit(r'[\p{L}\p{N}]+')).cast('double')
    mean_word_len = F.when(n_words > 0, word_chars / n_words).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    upper_ratio = F.when(n_chars > 0, n_upper / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_toks > 0, n_stop / n_toks).otherwise(F.lit(0.0))
    score = (
        F.when((n_words >= 5) & (n_words <= 100000), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((mean_word_len >= 3) & (mean_word_len <= 12), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.2, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(upper_ratio <= 0.3, F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return df.select(
        F.col(id_col),
        F.round(mean_word_len, 4).alias('mean_word_len'),
        F.round(punct_ratio, 4).alias('punct_ratio'),
        F.round(upper_ratio, 4).alias('upper_ratio'),
        F.round(stop_ratio, 4).alias('stopword_ratio'),
        score.alias('quality_score'),
    )


def _langid_exprs(text: Column) -> tuple[Column, dict[str, Column]]:
    """(lang_pred, per-language score columns) — shared by language_id and
    quality_filter.  One boundary-guarded regexp_extract_all over the
    combined lexicon collects the distinct stopword hits; per-language
    scores intersect that (tiny) hit array — ~1.6× faster than tokenizing
    the whole text into an array and intersecting per language
    (interpreted HOF lanes)."""
    all_words = sorted({w for ws in _STOPWORDS.values() for w in ws})
    hit_rgx = (r'(?:^|[^\p{L}\p{N}])(' + '|'.join(all_words)
               + r')(?![\p{L}\p{N}])')
    hits = F.array_distinct(
        F.regexp_extract_all(F.lower(text), F.lit(hit_rgx), 1))
    scores = {}
    for lang, words in _STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        scores[lang] = F.size(F.array_intersect(hits, arr))
    langs = sorted(_STOPWORDS)  # deterministic tie-break: alphabetical
    best_score = F.greatest(*[scores[l] for l in langs])
    pred = F.lit('und')
    for lang in reversed(langs):
        pred = F.when(scores[lang] == best_score, F.lit(lang)).otherwise(pred)
    pred = F.when(best_score <= 0, F.lit('und')).otherwise(pred)
    return pred, scores


def language_id(df: DataFrame, text_col: str = 'text', id_col: str = 'doc_id') -> DataFrame:
    """Tiny stopword-lexicon language classifier (deterministic heuristic).

    Scores each language by stopword hits in the token set; argmax wins,
    'und' (undetermined) when no hits.  (Expression shape: see
    _langid_exprs.)
    """
    # expansion=8: pure regex/HOF projections do ~8x the CPU
    # per compressed byte of a shuffle-bound op, so the sized
    # spread gets proportionally more tasks (r17 full-bench A/B:
    # width 8 cost quality_score/redact_pii 20-40% vs width ~19)
    df = spread_partitions(df, expansion=8.0)
    pred, scores = _langid_exprs(F.col(text_col))
    out = [F.col(id_col), pred.alias('lang_pred')]
    out += [scores[l].cast('long').alias('score_{}'.format(l))
            for l in sorted(_STOPWORDS)]
    return df.select(*out)


# PII patterns kept within the RE2-compatible subset (char classes,
# bounded repeats, \b — no lookaround/backrefs) so Java regex (Spark) and
# RE2 (DuckDB oracle) agree byte-for-byte.
PII_PATTERNS = {
    'email': r'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
    'ipv4': r'\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
    'phone': r'\+\d{1,3}[ -]\d{3}[ -]\d{3,4}[ -]?\d{0,4}\b',
}
_PII_ORDER = ['email', 'ipv4', 'phone']


def redact_pii(df: DataFrame, text_col: str = 'text', id_col: str = 'doc_id') -> DataFrame:
    """Scrub emails / IPv4s / phone-ish numbers from documents:
    (doc_id, clean_text, n_email, n_ipv4, n_phone).

    Pure regexp_count/regexp_replace projection — no shuffle, no Python;
    patterns applied in a fixed order so the output is deterministic."""
    # expansion=8: pure regex/HOF projections do ~8x the CPU
    # per compressed byte of a shuffle-bound op, so the sized
    # spread gets proportionally more tasks (r17 full-bench A/B:
    # width 8 cost quality_score/redact_pii 20-40% vs width ~19)
    df = spread_partitions(df, expansion=8.0)
    t = F.col(text_col)
    counts = [F.regexp_count(t, F.lit(PII_PATTERNS[k])).cast('long')
              .alias('n_{}'.format(k)) for k in _PII_ORDER]
    clean = t
    for k in _PII_ORDER:
        clean = F.regexp_replace(clean, PII_PATTERNS[k],
                                 '<{}>'.format(k.upper()))
    return df.select(F.col(id_col), clean.alias('clean_text'), *counts)


def doc_fingerprint(df: DataFrame, text_col: str = 'text', id_col: str = 'doc_id',
                    hash_fn: str = 'xxhash64') -> DataFrame:
    """Order-sensitive 32-bit rolling hash over the token stream:
    fp = fold((acc * 31 + h32(token)) & 0xFFFFFFFF) — a polynomial rolling
    hash; same token multiset in different order → different fingerprint
    (unlike minhash), making it a cheap exact-sequence signature.

    hash_fn 'xxhash64' (cheapest) or 'md5' (token hash = first 8 md5 hex
    chars — reproducible in any engine with md5(); used by the DuckDB
    differential oracle, which recomputes the same fold via list_reduce)."""
    # expansion=8: pure regex/HOF projections do ~8x the CPU
    # per compressed byte of a shuffle-bound op, so the sized
    # spread gets proportionally more tasks (r17 full-bench A/B:
    # width 8 cost quality_score/redact_pii 20-40% vs width ~19)
    df = spread_partitions(df, expansion=8.0)
    mask32 = F.lit((1 << 32) - 1)
    toks = tokens(F.col(text_col))
    if hash_fn == 'md5':
        h32 = lambda t: F.conv(F.substring(F.md5(F.encode(t, 'utf-8')), 1, 8), 16, 10).cast('long')  # noqa: E731
    else:
        h32 = lambda t: F.xxhash64(t).bitwiseAND(mask32)  # noqa: E731
    # per-step & MASK32 keeps every intermediate < 2^38 — safe under Spark's
    # default ANSI overflow checking
    fp = F.aggregate(
        toks, F.lit(0).cast('long'),
        lambda acc, t: (acc * F.lit(31) + h32(t)).bitwiseAND(mask32)
    )
    return df.select(F.col(id_col), fp.alias('fingerprint'),
                     F.size(toks).alias('n_tokens'))


def _repetition_finalize(stats: DataFrame, id_col: str) -> DataFrame:
    """Fractions + rounding from the per-doc INTEGER repetition stats
    (__nc/__nw/__nu/__bc/__bm/__dp) — shared by both engines, so their
    outputs are bit-identical: the engines differ only in how they count,
    and counting is exact integer math."""
    nc = F.col('__nc').cast('double')
    nw = F.col('__nw')
    dup_word = F.when(nw > 0,
                      1.0 - F.col('__nu') / nw.cast('double')
                      ).otherwise(F.lit(0.0))
    top_frac = F.when(nc > 0, F.col('__bm') / nc).otherwise(F.lit(0.0))
    dup_frac = F.when(nc > 0, F.col('__dp') / nc).otherwise(F.lit(0.0))
    return stats.select(
        F.col(id_col),
        F.round(dup_word, 6).alias('dup_word_frac'),
        F.col('__bc').cast('long').alias('top_ngram_count'),
        F.round(top_frac, 6).alias('top_ngram_char_frac'),
        F.round(dup_frac, 6).alias('dup_ngram_char_frac'),
    )


def repetition_stats(df: DataFrame, text_col: str = 'text',
                     id_col: str = 'doc_id', top_n: int = 2,
                     dup_n: int = 3) -> DataFrame:
    """Gopher-style within-document repetition features (Rae et al.,
    "Scaling Language Models: ... Gopher", public quality-filter recipe):

      * dup_word_frac       — 1 − |distinct words| / |words|
      * top_ngram_char_frac — (count of the most frequent top_n-gram ×
                              its char length) / doc chars; ties on count
                              break toward the larger char mass, so the
                              value (not the winning gram) is deterministic
      * dup_ngram_char_frac — Σ over dup_n-grams occurring ≥2 times of
                              (count × gram char length) / doc chars — the
                              published approximation that counts each
                              occurrence's chars (overlaps can push the
                              numerator past the doc length; no clamp, so
                              the value stays a pure sum DuckDB replays)

    Scale shape: one narrow pass, NO shuffle — the per-doc gram frequency
    problem is solved inside the scan tasks, never by explode + groupBy
    (which would shuffle a gram stream ~n× the corpus size to answer a
    per-document question).

    One Arrow-batched pass counts the integer stats per document
    (dict-based gram counting — Catalyst HOF lambdas run interpreted, and
    a sorted-gram-array fold measured ~3× slower at sf0.1); the fraction
    arithmetic is a native projection over those integers.
    """
    # expansion=8: pure regex/HOF projections do ~8x the CPU
    # per compressed byte of a shuffle-bound op, so the sized
    # spread gets proportionally more tasks (r17 full-bench A/B:
    # width 8 cost quality_score/redact_pii 20-40% vs width ~19)
    df = spread_partitions(df, expansion=8.0)
    tn, dn = int(top_n), int(dup_n)
    src = df.select(F.col(id_col), F.col(text_col).alias('__text'))

    def run(batches):
        import re as _re

        import pandas as pd
        token_rgx = _re.compile(r'[^\W_]+', _re.UNICODE)

        def gram_stats(toks, n):
            if len(toks) < n:
                return 0, 0, 0
            counts: dict[str, int] = {}
            for i in range(len(toks) - n + 1):
                g = ' '.join(toks[i:i + n])
                counts[g] = counts.get(g, 0) + 1
            best_cnt = max(counts.values())
            best_mass = max(c * len(g) for g, c in counts.items()
                            if c == best_cnt)
            dup = sum(c * len(g) for g, c in counts.items() if c >= 2)
            return best_cnt, best_mass, dup

        for pdf in batches:
            out = {'__nc': [], '__nw': [], '__nu': [],
                   '__bc': [], '__bm': [], '__dp': []}
            for text in pdf['__text']:
                t = text or ''
                toks = token_rgx.findall(t.lower())
                bc, bm, _ = gram_stats(toks, tn)
                _, _, dp = gram_stats(toks, dn)
                out['__nc'].append(len(t))
                out['__nw'].append(len(toks))
                out['__nu'].append(len(set(toks)))
                out['__bc'].append(bc)
                out['__bm'].append(bm)
                out['__dp'].append(dp)
            res = pd.DataFrame({id_col: pdf[id_col]})
            for k, v in out.items():
                res[k] = pd.Series(v, index=pdf.index, dtype='int64')
            yield res

    schema = ('{} long, __nc long, __nw long, __nu long, '
              '__bc long, __bm long, __dp long').format(id_col)
    return _repetition_finalize(src.mapInPandas(run, schema=schema), id_col)


def quality_filter(df: DataFrame, text_col: str = 'text',
                   id_col: str = 'doc_id',
                   min_words: int = 5, max_words: int = 100000,
                   mean_word_len_range: tuple = (3.0, 12.0),
                   max_punct_ratio: float = 0.2,
                   max_upper_ratio: float = 0.3,
                   min_stopword_ratio: float = 0.0,
                   allowed_langs: list[str] | None = None,
                   output: str = 'flags') -> DataFrame:
    """The end-to-end C4/Gopher-style corpus filter: apply the standard
    heuristic rules in ONE fused projection → (doc_id, keep, reasons) with
    `reasons` the '|'-joined names of every failed rule (deterministic
    rule order), empty when the document survives.

    Rules (each optional via its threshold): word-count bounds, mean word
    length band, punctuation/uppercase character-ratio caps, minimum
    English-stopword ratio, and a predicted-language allowlist (the
    language_id heuristic).  Composing the individual ops via joins would
    scan the corpus once per feature family and shuffle on doc_id per
    join; here every signal is a native expression over the same row —
    one corpus scan, zero shuffles, whole filter decision in-scan.
    """
    # expansion=8: pure regex/HOF projections do ~8x the CPU
    # per compressed byte of a shuffle-bound op, so the sized
    # spread gets proportionally more tasks (r17 full-bench A/B:
    # width 8 cost quality_score/redact_pii 20-40% vs width ~19)
    df = spread_partitions(df, expansion=8.0)
    # coalesce NULL text to '' so every rule signal is defined: a NULL
    # document must fail too_few_words, not slide past NULL-valued
    # conditions (the DuckDB replay tokenizes coalesce(text, '') too)
    t = F.coalesce(F.col(text_col), F.lit(''))
    n_chars = F.length(t).cast('double')
    n_words = F.regexp_count(t, F.lit(r'\S+')).cast('double')
    n_punct = F.regexp_count(t, F.lit(r'[\p{Punct}]')).cast('double')
    n_upper = F.regexp_count(t, F.lit(r'[A-Z]')).cast('double')
    word_chars = (F.length(t) - F.regexp_count(t, F.lit(r'\s'))).cast('double')
    stop_rgx = (r'(?:^|[^\p{L}\p{N}])(?:' + '|'.join(_STOPWORDS['en'])
                + r')(?![\p{L}\p{N}])')
    n_stop = F.regexp_count(F.lower(t), F.lit(stop_rgx)).cast('double')
    n_toks = F.regexp_count(t, F.lit(r'[\p{L}\p{N}]+')).cast('double')
    mean_wl = F.when(n_words > 0, word_chars / n_words).otherwise(F.lit(0.0))
    punct_r = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    upper_r = F.when(n_chars > 0, n_upper / n_chars).otherwise(F.lit(0.0))
    stop_r = F.when(n_toks > 0, n_stop / n_toks).otherwise(F.lit(0.0))
    lang_pred, _ = _langid_exprs(t)

    lo, hi = mean_word_len_range
    rules = [
        ('too_few_words', n_words < float(min_words)),
        ('too_many_words', n_words > float(max_words)),
        ('mean_word_len', (mean_wl < float(lo)) | (mean_wl > float(hi))),
        ('punct_ratio', punct_r > float(max_punct_ratio)),
        ('upper_ratio', upper_r > float(max_upper_ratio)),
        ('stopword_ratio', stop_r < float(min_stopword_ratio)),
    ]
    if allowed_langs is not None:
        rules.append(('lang', ~lang_pred.isin([str(x) for x in allowed_langs])))
    failed = F.filter(
        F.array(*[F.when(cond, F.lit(name)).otherwise(F.lit(''))
                  for name, cond in rules]),
        lambda x: x != '')
    if output == 'rows':
        # survivors with their original columns, decided in-scan: ONE
        # corpus pass, zero joins — the shape a 100 TB pipeline wants
        # (flags mode forces a second scan + doc_id join to recover rows)
        return df.where(F.size(failed) == 0)
    if output != 'flags':
        raise ValueError("output must be 'flags' or 'rows', got {!r}"
                         .format(output))
    return df.select(
        F.col(id_col),
        (F.size(failed) == 0).alias('keep'),
        F.array_join(failed, '|').alias('reasons'))


def lm_score(df: DataFrame, lm_corpus: DataFrame | None = None,
             text_col: str = 'text', id_col: str = 'doc_id',
             broadcast_lm: bool | None = None, order: int = 1,
             broadcast_max_rows: int = 1_000_000) -> DataFrame:
    """N-gram language-model scoring (the KenLM-style perplexity quality
    signal): train add-one-smoothed probabilities on `lm_corpus`
    (default: the scored corpus itself), then score each document →
    (doc_id, n_scored_tokens, avg_neg_logprob), rounded to 6.  High
    values flag gibberish / out-of-domain documents.

    order=1: per-token −ln((count+1)/(total+vocab)).
    order=2: conditional bigrams −ln((c(prev,w)+1)/(c(prev)+vocab)) —
    the scoring join carries (prev, bigram) pairs against BOTH count
    tables (broadcast with the same gate); documents shorter than two
    tokens emit nothing at order 2.

    Scale shape: ONE aggregation over the LM corpus builds the token
    counts; total and vocabulary size come from a window over that
    (tiny-relative) counts table, never a second corpus scan.  Scoring
    explodes the target corpus' tokens and joins the LM table, then one
    groupBy on doc_id.  Unseen tokens smooth to count 0 via the left
    join.  Both engines sum ~doc-length logs whose accumulated
    float-order error sits far below the 1e-6 rounding grid, so the
    DuckDB oracle replays the score.

    broadcast_lm=None (the default) decides at runtime: unigram vocab
    grows sublinearly (Heaps' law) but the order-2 bigram table grows
    near-linearly with LM-corpus size, so neither is inherently
    broadcastable — the count tables are persisted, counted (the
    measuring job doubles as the LM-build pass, which the cached tables
    then serve to both the scalar aggregate and the scoring join, saving
    a redundant LM-corpus scan the lazy plan pays), and broadcast only
    when every table is ≤ broadcast_max_rows.  Pass True/False to skip
    the measuring job.
    """
    from .dedup import let_once
    lm_src = lm_corpus if lm_corpus is not None else df
    uni = (lm_src.select(F.explode(tokens(F.col(text_col))).alias('tok'))
                 .groupBy('tok').agg(F.count(F.lit(1)).alias('__cnt')))
    if broadcast_lm is None:
        from pyspark.storagelevel import StorageLevel

        from rbql_spark.tuning import apply_plan_width

        # the LM build+measure job runs EAGERLY inside this call, before
        # any caller-level width scoping can see the final plan — size
        # its shuffle here or a sub-advisory corpus pays the 16x-initial
        # map-side shuffle-file overhead on the cache-build pass (r17)
        uni = apply_plan_width(uni).persist(StorageLevel.MEMORY_AND_DISK)
        broadcast_lm = uni.count() <= broadcast_max_rows
        _bi_auto = True
    else:
        _bi_auto = False
    # vocabulary size (and, at order 1, total tokens): one tiny 1-row
    # aggregate of the counts table, broadcast-cross-joined onto every
    # scored row (a corpus-wide window for the constants would
    # single-partition the exploded token stream)
    scalars = uni.agg(F.sum('__cnt').alias('__total'),
                      F.count(F.lit(1)).alias('__vocab'))

    if order == 2:
        def bigram_structs(ta):
            n = F.size(ta)
            idx = F.sequence(F.lit(0), F.greatest(n - 2, F.lit(0)))
            return F.when(n >= 2, F.transform(
                idx, lambda i: F.struct(
                    F.element_at(ta, i + 1).alias('prev'),
                    F.concat_ws(' ', F.slice(ta, i + 1, 2)).alias('gram'))
            )).otherwise(F.array().cast(
                'array<struct<prev:string,gram:string>>'))

        def bigrams(src, with_id):
            cols = ([F.col(id_col).alias('doc_id')] if with_id else [])
            return (src.select(*cols,
                               F.explode(let_once(tokens(F.col(text_col)),
                                                  bigram_structs)).alias('bg'))
                       .select(*(['doc_id'] if with_id else []),
                               'bg.prev', 'bg.gram'))

        bi = bigrams(lm_src, False).groupBy('gram') \
            .agg(F.count(F.lit(1)).alias('__bcnt'))
        if _bi_auto and broadcast_lm:
            # the bigram table is the larger of the two — it must pass the
            # same gate before both LM tables are forced to broadcast
            from pyspark.storagelevel import StorageLevel
            bi = apply_plan_width(bi).persist(StorageLevel.MEMORY_AND_DISK)
            broadcast_lm = bi.count() <= broadcast_max_rows
        scored = (bigrams(df, True)
                  .crossJoin(F.broadcast(scalars.select('__vocab')))
                  .join(F.broadcast(bi) if broadcast_lm else bi, 'gram', 'left')
                  .join(F.broadcast(uni.withColumnRenamed('tok', 'prev'))
                        if broadcast_lm else uni.withColumnRenamed('tok', 'prev'),
                        'prev', 'left'))
        neg_lp = -F.log((F.coalesce(F.col('__bcnt'), F.lit(0)) + 1.0)
                        / (F.coalesce(F.col('__cnt'), F.lit(0)) + F.col('__vocab')))
    else:
        scored = (df.select(F.col(id_col).alias('doc_id'),
                            F.explode(tokens(F.col(text_col))).alias('tok'))
                    .crossJoin(F.broadcast(scalars))
                    .join(F.broadcast(uni) if broadcast_lm else uni,
                          'tok', 'left'))
        neg_lp = -F.log((F.coalesce(F.col('__cnt'), F.lit(0)) + 1.0)
                        / (F.col('__total') + F.col('__vocab')))
    return (scored.withColumn('__nlp', neg_lp)
                  .groupBy('doc_id')
                  .agg(F.count(F.lit(1)).cast('long').alias('n_scored_tokens'),
                       F.round(F.sum('__nlp') / F.count(F.lit(1)), 6)
                       .alias('avg_neg_logprob')))


def top_ngrams(df: DataFrame, text_col: str = 'text',
               n: int = 2, k: int = 100) -> DataFrame:
    """Corpus-wide most-frequent word n-grams → (ngram, n_occurrences),
    the vocabulary-induction / BPE-seed-count primitive of a training-data
    pipeline.

    Scale shape: tokenize + n-gram expansion run inside the scan tasks
    (native HOF expressions, no Python); the only shuffle is the
    partial+final count on the gram key (map-side combine absorbs the
    heavy-hitter skew that makes naive gram counting fall over — the
    'the of'-class grams are pre-summed per task); the top-k is a
    TakeOrderedAndProject, never a global sort.  Ordering is total
    (count DESC, ngram ASC), so the k-cut is deterministic.  Documents
    shorter than n words contribute nothing (this is frequency counting,
    not the shingle signature path, which pads short docs).
    """
    from .dedup import let_once

    def _grams(ta: Column) -> Column:
        nn = F.size(ta)
        idx = F.sequence(F.lit(0), F.greatest(nn - n, F.lit(0)))
        return F.when(nn >= n, F.transform(
            idx, lambda i: F.concat_ws(' ', F.slice(ta, i + 1, n))
        )).otherwise(F.array().cast('array<string>'))

    grams = let_once(tokens(F.col(text_col)), _grams)
    return (df.select(F.explode(grams).alias('ngram'))
              .groupBy('ngram')
              .agg(F.count(F.lit(1)).alias('n_occurrences'))
              .orderBy(F.col('n_occurrences').desc(), F.col('ngram').asc())
              .limit(k))


def _embed_hash(tok: Column, seed: int) -> Column:
    """md5 of the token salted with the embed seed — the ONE hash both
    the bucket and the sign derive from (shared by the distributed and
    inline embedding paths so they are value-identical by construction)."""
    return F.md5(F.concat(tok, F.lit(':embed:{}'.format(seed))))


def _embed_bucket(h: Column, dim: int) -> Column:
    return F.conv(F.substring(h, 1, 8), 16, 10).cast('long') % F.lit(int(dim))


def _embed_sign(h: Column) -> Column:
    return F.when(F.conv(F.substring(h, 9, 1), 16, 10).cast('long')
                  % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))


def embed_hashing_inline(text: Column, dim: int = 64,
                         seed: int = 42) -> Column:
    """``embed_hashing``'s exact computation as ONE pure array expression
    over a single text column — no token explode, no vote shuffle, no
    zero-vector join (guide §2: the distributed plan costs three
    shuffle-stage job floors ~1 s to embed ONE query row).  O(dim ×
    tokens) expression work per row, so corpus-side embedding keeps the
    exploded-aggregate path; this is for query-sized frames/literals.

    Value-identical to ``embed_hashing`` on the same text: same
    tokenizer, same md5 bucket/sign votes (±1 integer-valued double
    sums — order-free exact), same index-ordered norm fold and
    per-component round, all evaluated by the same Spark expressions
    (proven cell-for-cell in tests/test_ops.py)."""
    toks = tokens(F.coalesce(text, F.lit('')))
    votes = F.transform(toks, lambda tok: F.struct(
        _embed_bucket(_embed_hash(tok, seed), dim).alias('b'),
        _embed_sign(_embed_hash(tok, seed)).alias('s')))
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(int(dim) - 1)),
        lambda i: F.aggregate(
            votes, F.lit(0.0),
            lambda acc, v: acc + F.when(v['b'] == i.cast('long'), v['s'])
                                  .otherwise(F.lit(0.0))))
    norm = F.sqrt(F.aggregate(
        F.transform(raw, lambda x: x * x),
        F.lit(0.0), lambda a, v: a + v))
    return F.when(norm > 0,
                  F.transform(raw, lambda x: F.round(x / norm, 6))) \
            .otherwise(raw)


def embed_hashing(df: DataFrame, dim: int = 64, text_col: str = 'text',
                  id_col: str = 'doc_id', seed: int = 42,
                  tokens_col: str | None = None) -> DataFrame:
    """Feature-hashing document embeddings (the "hashing trick",
    Weinberger et al. 2009): every token votes ±1 into md5-chosen buckets
    of a dim-wide vector, which is then L2-normalized → (doc_id,
    embedding array<double>).

    The model-free path from text to the similarity/ANN/index stack: no
    external encoder exists in this environment, but hashed
    bag-of-words embeddings are a real technique (near-dup detection,
    cheap clustering, mixture diagnostics) — cosine on these vectors
    approximates token-multiset overlap.  Deterministic md5 bucket+sign
    per token makes the vectors a pure function of the data, replayed
    value-for-value by the DuckDB differential oracle.

    Scale shape: one corpus scan → explode tokens → ONE partial/final
    aggregation keyed (doc, bucket) → one reduction to the dense vector
    per doc (map lookup per dimension, O(dim)).  Token hashing and the
    ±1 votes are exact integer-valued double math, so bucket sums are
    order-independent; normalization divides by the fold-ordered L2 norm
    and rounds to 6 places (the cross-engine compare grid).  Documents
    with no tokens embed as the zero vector.

    ``tokens_col``: the caller hands a frame that ALREADY carries the
    word-token array (rbql_spark.ops.dedup.tokens of the coalesced
    text) — tokenization and partition spreading are skipped, so a
    persisted shared projection can feed this and a bm25 branch from
    one corpus scan (guide §6 scan sharing, r16 verdict #3).
    """
    if tokens_col is None:
        df = spread_partitions(df)
        toks = F.filter(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(''))),
                    r'[^\p{L}\p{N}]+', -1),
            lambda x: x != '')
    else:
        toks = F.col(tokens_col)
    ex = df.select(F.col(id_col).alias('doc_id'),
                   F.explode_outer(toks).alias('__tok'))
    h = _embed_hash(F.col('__tok'), seed)
    bucket = _embed_bucket(h, dim)
    sign = _embed_sign(h)
    votes = (ex.where(F.col('__tok').isNotNull())
               .select('doc_id', bucket.alias('__b'), sign.alias('__s'))
               .groupBy('doc_id', '__b')
               .agg(F.sum('__s').alias('__v')))
    dense = (votes.groupBy('doc_id')
                  .agg(F.map_from_entries(
                      F.collect_list(F.struct('__b', '__v'))).alias('__m'))
                  .select('doc_id',
                          F.transform(
                              F.sequence(F.lit(0), F.lit(int(dim) - 1)),
                              lambda i: F.coalesce(
                                  F.element_at(F.col('__m'), i), F.lit(0.0)))
                          .alias('__raw')))
    # docs whose text yields zero tokens still get a (zero) embedding row
    base = df.select(F.col(id_col).alias('doc_id'))
    zero = F.array_repeat(F.lit(0.0), int(dim))
    withvec = (base.join(dense, 'doc_id', 'left')
                   .select('doc_id', F.coalesce(F.col('__raw'), zero)
                           .alias('__raw')))
    norm = F.sqrt(F.aggregate(
        F.transform(F.col('__raw'), lambda x: x * x),
        F.lit(0.0), lambda a, v: a + v))
    emb = F.when(norm > 0,
                 F.transform(F.col('__raw'),
                             lambda x: F.round(x / norm, 6))) \
           .otherwise(F.col('__raw'))
    return withvec.select('doc_id', emb.alias('embedding'))


def bm25_score(df: DataFrame, query_terms: list[str], k1: float = 1.2,
               b: float = 0.75, top_k: int = 100,
               text_col: str = 'text', id_col: str = 'doc_id',
               tokens_col: str | None = None) -> DataFrame:
    """BM25 lexical retrieval over the corpus for one query (the Lucene
    formula: idf = ln(1 + (N − df + 0.5)/(df + 0.5)), tf saturation with
    k1, length normalization with b against the corpus mean length) →
    top_k (doc_id, bm25, rank), scores rounded to 6 places before the
    deterministic (score DESC, doc_id ASC) ranking.

    The lexical side of the retrieval stack next to the ANN operators:
    vector search catches semantics, BM25 catches exact term salience —
    production retrieval runs both and fuses.

    Scale shape: ONE corpus scan computes per-doc length and the
    query-term frequencies in-scan (the term list is a broadcast-sized
    literal array — a QUERY, not a second corpus); document frequencies
    and the corpus length stats are two small aggregations over that
    projection; both broadcast back into the scoring projection.  Only
    docs containing ≥1 query term are scored (the others score 0 and
    are never materialized); TakeOrderedAndProject caps the result at
    top_k.  Everything is exact integer counts + double arithmetic on
    rounded outputs — replayed value-for-value by the DuckDB oracle.
    """
    if not query_terms:
        raise ValueError('bm25_score needs at least one query term')
    terms = sorted({t.lower() for t in query_terms})
    term_lit = F.array(*[F.lit(x) for x in terms])
    from .dedup import let_once

    # tokenize ONCE per row (let_once): dl plus one filter per query
    # term would otherwise re-tokenize the document per reference —
    # per-term occurrence counts are computed in-scan against the
    # broadcast term literal (no token explode of the whole corpus)
    def proj(ta: Column) -> Column:
        return F.struct(
            F.size(ta).alias('dl'),
            F.transform(term_lit,
                        lambda q: F.size(F.filter(ta, lambda x: x == q)))
             .alias('tfs'))

    if tokens_col is None:
        df = spread_partitions(df)
        packed = let_once(tokens(F.coalesce(F.col(text_col), F.lit(''))),
                          proj)
    else:
        # caller hands a pre-tokenized (often persisted, scan-shared)
        # frame — the array is materialized, so no let_once needed
        packed = proj(F.col(tokens_col))
    base = df.select(F.col(id_col).alias('doc_id'),
                     packed.alias('__p')) \
             .select('doc_id', F.col('__p.dl').alias('dl'),
                     F.col('__p.tfs').alias('tfs'))
    stats = base.agg(F.count(F.lit(1)).alias('n_docs'),
                     F.avg('dl').alias('avgdl'))
    # posexplode_OUTER: tfs is a fixed-length array (one slot per query
    # term, never empty/null) so outer yields identical rows — but the
    # non-outer form makes Catalyst infer a size()>0 filter and push it
    # through the packed projection, re-evaluating the tokenize+tf
    # expression 2 extra times per corpus row (guide §1.3)
    hit = base.select('doc_id', 'dl',
                      F.posexplode_outer('tfs').alias('ti', 'tf')) \
              .where(F.col('tf') > 0)
    dfreq = hit.groupBy('ti').agg(F.count(F.lit(1)).alias('df_t'))
    idf = F.log(F.lit(1.0)
                + (F.col('n_docs') - F.col('df_t') + 0.5)
                / (F.col('df_t') + 0.5))
    contrib = (hit.join(F.broadcast(dfreq), 'ti')
                  .crossJoin(F.broadcast(stats))
                  .select('doc_id',
                          (idf * (F.col('tf') * (k1 + 1))
                           / (F.col('tf') + k1 * (1 - b + b * F.col('dl')
                                                  / F.col('avgdl'))))
                          .alias('__c')))
    from pyspark.sql import Window
    scored = contrib.groupBy('doc_id') \
                    .agg(F.round(F.sum('__c'), 6).alias('bm25'))
    # TakeOrderedAndProject caps the candidate set FIRST; the ranking
    # window then runs over at most top_k rows (a global row_number
    # window over all matching docs would single-partition them)
    top = scored.orderBy(F.col('bm25').desc(), F.col('doc_id').asc()) \
                .limit(top_k)
    w = Window.orderBy(F.col('bm25').desc(), F.col('doc_id').asc())
    return top.withColumn('rank', F.row_number().over(w))


def rrf_fuse(rankings: list[DataFrame], k: int = 60, top_k: int = 100,
             id_col: str = 'doc_id', rank_col: str = 'rank',
             group_cols: list[str] | None = None) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of N ranked
    retrieval lists → (doc_id, rrf_score, n_lists, rank).

    score(d) = Σ_lists 1/(k + rank_d); a list where d is absent
    contributes 0 (n_lists counts the lists that returned d).  Scores
    round to 6 places and the final rank orders (rrf_score DESC, doc_id
    ASC) — fully deterministic, so the DuckDB oracle replays the fusion
    value-for-value.  The canonical hybrid-retrieval combiner for
    bm25_score (lexical) + the ANN operators (semantic); k=60 is the
    published default.

    `group_cols` fuses PER GROUP (e.g. ['query_id'] over
    bm25_score_queries + a multi-query ANN ranking): ranks are assumed
    per-group in the inputs, scores aggregate per (group, id), and
    top_k / the output rank apply within each group via the skew-safe
    topk_per_group — batch retrieval fusion, never one task per query.

    Scale shape: the inputs are top-k lists — already bounded upstream
    (TakeOrderedAndProject in bm25_score, rank<=k in the ANN ops) — so
    the union/agg/sort here touch at most Σ top-k rows per group
    regardless of corpus size; the heavy lifting stays in the retrieval
    plans.
    """
    if not rankings:
        raise ValueError('rrf_fuse needs at least one ranking')
    g = list(group_cols or [])
    parts = [r.select(*g, F.col(id_col).alias('doc_id'),
                      (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col)))
                      .alias('__c'))
             for r in rankings]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    scored = (u.groupBy(*g, 'doc_id')
               .agg(F.round(F.sum('__c'), 6).alias('rrf_score'),
                    F.count(F.lit(1)).alias('n_lists')))
    if g:
        from .skew import topk_per_group
        return topk_per_group(
            scored, int(top_k), g,
            [F.col('rrf_score').desc(), F.col('doc_id').asc()],
            salt_key=F.col('doc_id'))
    top = scored.orderBy(F.col('rrf_score').desc(),
                         F.col('doc_id').asc()).limit(int(top_k))
    from pyspark.sql import Window
    w = Window.orderBy(F.col('rrf_score').desc(), F.col('doc_id').asc())
    return top.withColumn('rank', F.row_number().over(w))


def bm25_score_queries(df: DataFrame, queries: DataFrame, k1: float = 1.2,
                       b: float = 0.75, top_k: int = 100,
                       text_col: str = 'text', id_col: str = 'doc_id',
                       query_id_col: str = 'query_id',
                       query_text_col: str = 'text',
                       salt_buckets: int = 32) -> DataFrame:
    """Batch BM25: top_k lexical matches for EVERY query in `queries`
    (query_id, text) → (query_id, doc_id, bm25, rank) — per-query
    results identical to bm25_score(df, tokens(query)) (engines-agree
    tested).  The batch face of retrieval: decontamination-by-retrieval
    sweeps and RAG-eval runs score thousands of queries, not one.

    Each query's terms are its distinct lowercase tokens; a query whose
    text yields no tokens returns no rows.  Scores round to 6 and rank
    deterministically (bm25 DESC, doc_id ASC).

    Scale shape: the corpus tokenizes in TWO scans (length stats +
    term explode — persist upstream if not a cheap parquet re-read;
    the single-query operator's in-scan literal counting cannot host
    an unbounded term set).  The exploded token stream joins the
    BROADCAST distinct-term table FIRST, so only hit rows ever reach
    an exchange; document frequencies and the (query, term) fan-out
    are broadcast joins over dim-of-the-query-set tables.  Per-query
    top-k uses skew.topk_per_group — exact rank at salt_buckets×
    parallelism, never one task per query.
    """
    from .dedup import spread_partitions, tokens
    from .skew import topk_per_group
    qt = F.coalesce(F.col(query_text_col), F.lit(''))
    qterms = queries.select(F.col(query_id_col).alias('query_id'),
                            F.explode(F.array_distinct(tokens(qt)))
                            .alias('__term'))
    df = spread_partitions(df)
    t = F.coalesce(F.col(text_col), F.lit(''))
    stats = df.select(F.size(tokens(t)).alias('__dl')) \
              .agg(F.count(F.lit(1)).alias('n_docs'),
                   F.avg('__dl').alias('avgdl'))
    # explode_OUTER: a no-token doc emits one null __term row that the
    # inner term join drops, so rows are identical — while the non-outer
    # form's inferred size()>0 filter would re-tokenize every corpus row
    # a second time once pushed through the projection (guide §1.3)
    base = (df.select(F.col(id_col).alias('doc_id'), tokens(t).alias('__ta'))
              .select('doc_id', F.size('__ta').alias('dl'),
                      F.explode_outer('__ta').alias('__term')))
    terms = qterms.select('__term').distinct()
    hit = (base.join(F.broadcast(terms), '__term')
               .groupBy('doc_id', '__term')
               .agg(F.first('dl').alias('dl'),
                    F.count(F.lit(1)).alias('tf')))
    dfreq = hit.groupBy('__term').agg(F.count(F.lit(1)).alias('df_t'))
    idf = F.log(F.lit(1.0)
                + (F.col('n_docs') - F.col('df_t') + 0.5)
                / (F.col('df_t') + 0.5))
    contrib = (hit.join(F.broadcast(dfreq), '__term')
                  .crossJoin(F.broadcast(stats))
                  .select('doc_id', '__term',
                          (idf * (F.col('tf') * (k1 + 1))
                           / (F.col('tf') + k1 * (1 - b + b * F.col('dl')
                                                  / F.col('avgdl'))))
                          .alias('__c')))
    scored = (contrib.join(F.broadcast(qterms), '__term')
                     .groupBy('query_id', 'doc_id')
                     .agg(F.round(F.sum('__c'), 6).alias('bm25')))
    return topk_per_group(
        scored, int(top_k), ['query_id'],
        [F.col('bm25').desc(), F.col('doc_id').asc()],
        salt_key=F.col('doc_id'), salt_buckets=int(salt_buckets))


def readability(df: DataFrame, text_col: str = 'text',
                id_col: str = 'doc_id') -> DataFrame:
    """Flesch reading-ease per document → (doc_id, n_sentences, n_words,
    n_syllables, flesch), flesch rounded to 4 (the quality_score grid).

    The classic readability quality signal (206.835 − 1.015·words/
    sentences − 84.6·syllables/words) with the standard heuristics:
    sentences = non-empty [.!?]+ segments (min 1 when any word exists),
    syllables = vowel-group count per word, min 1 per word.  A real
    filter signal for English-heavy corpora; documents with no words
    emit flesch NULL (no defined score), counts 0.

    Scale shape: ONE stateless fused projection — native split /
    regexp_extract_all / HOF fold, no shuffle, no Python — the
    quality_score pattern, streaming-safe.
    """
    # expansion=8: pure regex/HOF projections do ~8x the CPU
    # per compressed byte of a shuffle-bound op, so the sized
    # spread gets proportionally more tasks (r17 full-bench A/B:
    # width 8 cost quality_score/redact_pii 20-40% vs width ~19)
    df = spread_partitions(df, expansion=8.0)
    t = F.coalesce(F.col(text_col), F.lit(''))
    words = tokens(t)          # the shared lowercased tokenizer
    sents = F.filter(F.split(t, r'[.!?]+', -1),
                     lambda x: F.trim(x) != '')
    syl = F.aggregate(
        F.transform(words,
                    lambda w: F.greatest(
                        F.lit(1).cast('long'),
                        F.size(F.regexp_extract_all(w, F.lit('[aeiouy]+'),
                                                    0)).cast('long'))),
        F.lit(0).cast('long'), lambda acc, v: acc + v)
    base = df.select(
        F.col(id_col).alias('doc_id'),
        F.size(words).cast('long').alias('n_words'),
        # a wordful text with no terminator is one sentence
        F.when(F.size(words) == 0, F.lit(0).cast('long'))
         .otherwise(F.greatest(F.lit(1).cast('long'),
                               F.size(sents).cast('long')))
         .alias('n_sentences'),
        F.when(F.size(words) > 0, syl).otherwise(F.lit(0).cast('long'))
         .alias('n_syllables'))
    flesch = (F.lit(206.835)
              - F.lit(1.015) * F.col('n_words') / F.col('n_sentences')
              - F.lit(84.6) * F.col('n_syllables') / F.col('n_words'))
    # floor-based rounding, NOT F.round: Spark rounds the shortest
    # DECIMAL string of the double (BigDecimal HALF_UP) while other
    # engines round the binary value, and flesch ratios DO land on
    # .xxxx5 boundaries (seen at sf0.1: 28.19375 → 28.1938 vs 28.1937).
    # floor(x·1e4 + 0.5)/1e4 is the same IEEE ops in any engine →
    # bit-identical, at the cost of ties rounding toward +inf.
    flesch_r = F.floor(flesch * 10000 + 0.5) / 10000
    return base.select('doc_id', 'n_sentences', 'n_words', 'n_syllables',
                       F.when(F.col('n_words') > 0, flesch_r)
                        .alias('flesch'))


def c4_line_filter(df: DataFrame, text_col: str = 'text',
                   id_col: str = 'doc_id', line_sep: str = '\n',
                   min_words_per_line: int = 5, min_kept_lines: int = 3,
                   output: str = 'flags') -> DataFrame:
    """The C4 line-level cleaning pass (Raffel et al. 2020 §2.2 — the
    curation stage BEFORE the doc-level quality_filter): keep only lines
    that end in a terminal punctuation mark AND contain at least
    `min_words_per_line` words AND don't mention 'javascript'; then drop
    the whole page when it contains 'lorem ipsum' or a '{' (code), or
    when fewer than `min_kept_lines` lines survive.

    Output ('flags', default): (doc_id, n_lines, n_kept, keep,
    clean_text) with clean_text the kept lines re-joined in input order
    (NULL when the document is dropped).  Output 'rows': the surviving
    documents with their original columns and the text REPLACED by
    clean_text — the composable corpus-in/corpus-out shape.

    Scale shape: one fused projection per document — split, one
    higher-order filter, re-join; NO explode, NO shuffle (dedup_lines
    explodes because duplicate detection is cross-document; this pass is
    purely per-document so the lines never leave their row).  The HOF
    lambda executes interpreted (outside whole-stage codegen), which
    benches fine here because the per-element work is one regexp — the
    quality_score HOF caveat applies to per-element work worth fusing.
    Line order is preserved by F.filter, so clean_text is deterministic
    and the DuckDB oracle replays it with list_filter + array_to_string.
    """
    t = F.coalesce(F.col(text_col), F.lit(''))
    import re as _re
    lines = F.split(t, _re.escape(line_sep), -1)
    # a line survives when: terminal punctuation at its (trimmed) end,
    # >= min_words_per_line whitespace-words, and no 'javascript'
    # (C4 drops boilerplate cookie/JS-warning lines by that token)
    keep_line = lambda ln: (  # noqa: E731
        F.trim(ln).rlike(r'[.!?"’”\']$')
        & (F.regexp_count(ln, F.lit(r'\S+')) >= int(min_words_per_line))
        & ~F.lower(ln).contains('javascript'))
    kept = F.filter(lines, keep_line)
    n_lines = F.size(lines).cast('long')
    n_kept = F.size(kept).cast('long')
    doc_drop = (F.lower(t).contains('lorem ipsum')
                | t.contains('{')
                | (n_kept < int(min_kept_lines)))
    keep = ~doc_drop
    clean = F.when(keep, F.array_join(kept, line_sep))
    if output == 'rows':
        return (df.withColumn('__c4_keep', keep)
                  .withColumn(text_col, clean)
                  .where(F.col('__c4_keep'))
                  .drop('__c4_keep')
                  .select(*df.columns))
    if output != 'flags':
        raise ValueError("output must be 'flags' or 'rows', got {!r}"
                         .format(output))
    return df.select(F.col(id_col), n_lines.alias('n_lines'),
                     n_kept.alias('n_kept'), keep.alias('keep'),
                     clean.alias('clean_text'))


# Gopher's "required words": a document with fewer than 2 DISTINCT of
# these is likely not natural English prose (Rae et al. 2021, A1.1)
_GOPHER_REQUIRED = ('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with')


def gopher_quality_filter(df: DataFrame, text_col: str = 'text',
                          id_col: str = 'doc_id',
                          max_symbol_word_ratio: float = 0.1,
                          max_bullet_line_ratio: float = 0.9,
                          max_ellipsis_line_ratio: float = 0.3,
                          min_alpha_word_ratio: float = 0.8,
                          min_required_words: int = 2,
                          output: str = 'flags') -> DataFrame:
    """The Gopher repetition-shape rules (Rae et al. 2021, A1.1) that
    quality_filter does NOT cover — symbol-to-word ratio ('#' and
    ellipsis), bullet-started / ellipsis-ended line ratios, the
    alphabetic-word ratio, and the required-stopwords test.  Compose
    with quality_filter for the word-count / mean-word-length /
    stopword-density bounds (same fused one-scan shape, same
    (doc_id, keep, reasons) contract and 'rows' mode).

    Every signal is a native expression over the row: counts via
    regexp_count, line-shape ratios via split + two higher-order
    filters.  One corpus scan, zero shuffles, no explode.
    """
    t = F.coalesce(F.col(text_col), F.lit(''))
    n_words = F.regexp_count(t, F.lit(r'\S+')).cast('double')
    n_symbols = (F.regexp_count(t, F.lit(r'#'))
                 + F.regexp_count(t, F.lit(r'\.\.\.|…'))).cast('double')
    # words containing at least one letter; \S* cannot cross whitespace,
    # so each word matches at most once
    n_alpha_words = F.regexp_count(
        t, F.lit(r'\S*\p{L}\S*')).cast('double')
    lines = F.split(t, r'\n', -1)
    n_lines = F.size(lines).cast('double')
    n_bullet = F.size(F.filter(
        lines, lambda ln: F.ltrim(ln).rlike(r'^[\-\*•‣◦]'))
    ).cast('double')
    n_ellip_end = F.size(F.filter(
        lines, lambda ln: F.rtrim(ln).rlike(r'(\.\.\.|…)$'))
    ).cast('double')
    low = F.lower(t)
    n_required = sum(
        F.when(low.rlike(r'(?:^|[^\p{L}\p{N}])' + w
                         + r'(?![\p{L}\p{N}])'), 1).otherwise(0)
        for w in _GOPHER_REQUIRED)
    symbol_r = F.when(n_words > 0, n_symbols / n_words).otherwise(F.lit(1.0))
    alpha_r = F.when(n_words > 0, n_alpha_words / n_words).otherwise(F.lit(0.0))
    bullet_r = F.when(n_lines > 0, n_bullet / n_lines).otherwise(F.lit(0.0))
    ellip_r = F.when(n_lines > 0, n_ellip_end / n_lines).otherwise(F.lit(0.0))
    rules = [
        ('symbol_word_ratio', symbol_r > float(max_symbol_word_ratio)),
        ('bullet_lines', bullet_r > float(max_bullet_line_ratio)),
        ('ellipsis_lines', ellip_r > float(max_ellipsis_line_ratio)),
        ('alpha_words', alpha_r < float(min_alpha_word_ratio)),
        ('required_words', n_required < int(min_required_words)),
    ]
    failed = F.filter(
        F.array(*[F.when(cond, F.lit(name)).otherwise(F.lit(''))
                  for name, cond in rules]),
        lambda x: x != '')
    if output == 'rows':
        return df.where(F.size(failed) == 0)
    if output != 'flags':
        raise ValueError("output must be 'flags' or 'rows', got {!r}"
                         .format(output))
    return df.select(
        F.col(id_col),
        (F.size(failed) == 0).alias('keep'),
        F.array_join(failed, '|').alias('reasons'))
