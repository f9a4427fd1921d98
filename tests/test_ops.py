"""Behavioral tests for the pipeline operators: planted duplicates must be
found, planted non-duplicates must not, ANN must agree with brute force."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope='module')
def doc_df(spark):
    base = (
        'the quick brown fox jumps over the lazy dog while the cat sleeps '
        'in the warm afternoon sun near the old stone bridge by the river'
    )
    near_dup = base.replace('warm afternoon sun', 'cold morning light')
    distinct1 = ('completely different content about database engines and '
                 'query optimization with columnar storage vectorized execution '
                 'partition pruning and adaptive shuffles everywhere today')
    distinct2 = ('astronomy telescopes observe distant galaxies and nebulae '
                 'revealing the structure of the early universe through light '
                 'emitted billions of years ago across space')
    rows = [
        (1, base), (2, base),           # exact dup pair
        (3, near_dup),                  # near dup of 1/2
        (4, distinct1), (5, distinct2), # unrelated
    ]
    return spark.createDataFrame(rows, 'doc_id long, text string')


def test_exact_dedup_finds_planted_dup(spark, doc_df):
    from rbql_spark.ops.dedup import exact_dedup
    out = exact_dedup(doc_df, 'text', 'doc_id').collect()
    dup_groups = [r for r in out if r['dup_count'] > 1]
    assert len(dup_groups) == 1
    assert dup_groups[0]['keep_id'] == 1
    assert dup_groups[0]['dup_count'] == 2


def test_minhash_finds_near_dups(spark, doc_df):
    from rbql_spark.ops.dedup import minhash_dedup_pairs
    pairs = {(r['doc_a'], r['doc_b']) for r in
             minhash_dedup_pairs(doc_df, 'text', 'doc_id', threshold=0.5).collect()}
    assert (1, 2) in pairs           # exact dup: jaccard 1.0
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup
    for bad in [(1, 4), (1, 5), (4, 5), (2, 4), (3, 5)]:
        assert bad not in pairs


def test_simhash_near_dups(spark, doc_df):
    from rbql_spark.ops.dedup import simhash_near_dups
    pairs = {(r['doc_a'], r['doc_b']) for r in
             simhash_near_dups(doc_df, 'text', 'doc_id', max_hamming=10).collect()}
    assert (1, 2) in pairs
    assert (1, 4) not in pairs and (1, 5) not in pairs


def test_simhash_memo_eviction_preserves_fingerprints(spark, doc_df, monkeypatch):
    # The per-worker token memo must evict only BETWEEN documents: with the
    # cap forced far below the corpus vocabulary (every doc here has >20
    # distinct tokens), fingerprints must equal the uncapped run bit-for-bit.
    from rbql_spark.ops import dedup
    baseline = {r['doc_id']: r['simhash'] for r in
                dedup.simhash(doc_df, 'text', 'doc_id').collect()}
    monkeypatch.setattr(dedup, '_SIMHASH_MEMO_CAP', 8)
    capped = {r['doc_id']: r['simhash'] for r in
              dedup.simhash(doc_df, 'text', 'doc_id').collect()}
    assert capped == baseline
    assert len(baseline) == 5 and baseline[1] == baseline[2]


def test_minhash_tile_flush_preserves_signatures(spark, doc_df, monkeypatch):
    # The permutation tile is a memory bound, not a semantic knob: flushing
    # every 4 distinct shingles must yield identical signatures and shingle
    # sets to the one-tile-per-batch run.
    from rbql_spark.ops import dedup
    def snap(df):
        return {r['doc_id']: (sorted(r['shingles']), list(r['signature']))
                for r in df.collect()}
    baseline = snap(dedup.minhash_signatures(doc_df, 'text', 'doc_id'))
    monkeypatch.setattr(dedup, '_MINHASH_FLUSH_UNIQ', 4)
    capped = snap(dedup.minhash_signatures(doc_df, 'text', 'doc_id'))
    assert capped == baseline


def test_doc_fingerprint_order_sensitive(spark):
    from rbql_spark.ops.textstats import doc_fingerprint
    df = spark.createDataFrame(
        [(1, 'alpha beta gamma'), (2, 'alpha beta gamma'), (3, 'gamma beta alpha')],
        'doc_id long, text string')
    rows = {r['doc_id']: r['fingerprint'] for r in doc_fingerprint(df).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_language_id_heuristic(spark):
    from rbql_spark.ops.textstats import language_id
    df = spark.createDataFrame([
        (1, 'the cat is in the house and that is fine for now'),
        (2, 'der Hund ist nicht in das Haus und die Katze auch nicht'),
        (3, 'le chat est dans la maison et les chiens sont pour dans'),
        (4, 'zzz qqq xxx'),
    ], 'doc_id long, text string')
    out = {r['doc_id']: r['lang_pred'] for r in language_id(df).collect()}
    assert out[1] == 'en'
    assert out[2] == 'de'
    assert out[3] == 'fr'
    assert out[4] == 'und'


@pytest.fixture(scope='module')
def emb_df(spark, sf_dir):
    import os
    return spark.read.parquet(os.path.join(sf_dir, 'embeddings.parquet'))


def test_ann_recall_vs_bruteforce(spark, emb_df):
    from rbql_spark.ops.similarity import cosine_topk_bruteforce, lsh_ann_topk
    queries = emb_df.filter(F.col('vec_id') < 3) \
                    .select(F.col('vec_id').alias('query_id'), 'embedding')
    exact = cosine_topk_bruteforce(emb_df, queries, k=10)
    # near-uniform random embeddings are LSH's worst case: use wide buckets
    # (few planes) and many tables for recall on this small corpus
    approx = lsh_ann_topk(emb_df, queries, k=10, dim=64, n_planes=4, n_tables=12)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r['query_id'], set()).add(r['vec_id'])
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r['query_id'], set()).add(r['vec_id'])
    # self-match always present; recall@10 ≥ 0.4 for this configuration
    recalls = []
    for q, ex in exact_sets.items():
        ap = approx_sets.get(q, set())
        assert q in ap  # the vector itself shares every bucket
        recalls.append(len(ex & ap) / len(ex))
    assert sum(recalls) / len(recalls) >= 0.4


def test_ivf_ann_self_match_and_recall(spark, emb_df):
    from rbql_spark.ops.similarity import cosine_topk_bruteforce, ivf_ann_topk
    queries = emb_df.filter(F.col('vec_id') < 3) \
                    .select(F.col('vec_id').alias('query_id'), 'embedding')
    exact = cosine_topk_bruteforce(emb_df, queries, k=10)
    approx = ivf_ann_topk(emb_df, queries, k=10, n_cells=8, n_probe=4)
    exact_sets, approx_sets, approx_rank1 = {}, {}, {}
    for r in exact.collect():
        exact_sets.setdefault(r['query_id'], set()).add(r['vec_id'])
    for r in approx.collect():
        approx_sets.setdefault(r['query_id'], set()).add(r['vec_id'])
        if r['rank'] == 1:
            approx_rank1[r['query_id']] = r['vec_id']
    recalls = []
    for q, ex in exact_sets.items():
        ap = approx_sets.get(q, set())
        # the query vector is in the corpus; its own cell is always the
        # nearest probe, so the self-match must surface at rank 1
        assert approx_rank1.get(q) == q
        recalls.append(len(ex & ap) / len(ex))
    # probing half the cells of a near-uniform random corpus
    assert sum(recalls) / len(recalls) >= 0.3


def test_ivf_ann_kmeans_quantizer(spark, emb_df):
    # trained coarse quantizer: same assignment/probe/rescore plumbing,
    # centroids from seeded Spark ML k-means
    from rbql_spark.ops.similarity import ivf_ann_topk
    queries = emb_df.filter(F.col('vec_id') < 3) \
                    .select(F.col('vec_id').alias('query_id'), 'embedding')
    out = ivf_ann_topk(emb_df, queries, k=5, n_cells=8, n_probe=4,
                       quantizer='kmeans')
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r['query_id'], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rs in by_q.items():
        assert len(rs) == 5
        assert [r['rank'] for r in sorted(rs, key=lambda r: r['rank'])] == [1, 2, 3, 4, 5]
        assert sorted(rs, key=lambda r: r['rank'])[0]['vec_id'] == q  # self-match first
    import pytest as _pytest
    with _pytest.raises(ValueError):
        ivf_ann_topk(emb_df, queries, quantizer='nope')


def test_ivf_pretrained_centroids_match_live_training(spark, emb_df):
    # train_ivf_centroids + ivf_ann_topk(centroids=...) must reproduce the
    # live-training result EXACTLY for both quantizers (training is
    # deterministic per the round-6 contract) — this is the contract the
    # kmeans-recall gate's centroid cache relies on
    from rbql_spark.ops.similarity import ivf_ann_topk, train_ivf_centroids
    queries = emb_df.filter(F.col('vec_id') < 3) \
                    .select(F.col('vec_id').alias('query_id'), 'embedding')
    for quantizer in ('hash', 'kmeans'):
        cent = train_ivf_centroids(emb_df, n_cells=8, seed=42,
                                   quantizer=quantizer)
        assert len(cent) == 8 and all(isinstance(x, float) for x in cent[0])
        live = ivf_ann_topk(emb_df, queries, k=5, n_cells=8, n_probe=4,
                            quantizer=quantizer)
        pre = ivf_ann_topk(emb_df, queries, k=5, n_cells=8, n_probe=4,
                           quantizer=quantizer, centroids=cent)
        assert sorted(map(tuple, live.collect())) == \
            sorted(map(tuple, pre.collect()))


def test_ivf_int8_recall_matches_full_precision(spark, emb_df):
    # int8 candidate scoring + exact shortlist rescore must not lose
    # recall vs the full-precision IVF at the same cells/probes: the
    # shortlist (rescore_factor×k deep) comfortably covers everything the
    # exact rescore would rank into the top k
    from rbql_spark.ops.similarity import (
        cosine_topk_bruteforce, ivf_ann_topk, ivf_ann_topk_int8,
    )
    queries = emb_df.filter(F.col('vec_id') < 3) \
                    .select(F.col('vec_id').alias('query_id'), 'embedding')

    def sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r['query_id'], set()).add(r['vec_id'])
        return out

    exact = sets(cosine_topk_bruteforce(emb_df, queries, k=10))
    full = sets(ivf_ann_topk(emb_df, queries, k=10, n_cells=8, n_probe=4))
    int8 = sets(ivf_ann_topk_int8(emb_df, queries, k=10, n_cells=8, n_probe=4))

    def recall(approx):
        return sum(len(exact[q] & approx.get(q, set())) / len(exact[q])
                   for q in exact) / len(exact)

    assert recall(int8) >= recall(full)
    for q in int8:
        assert q in int8[q]  # self-match survives quantized shortlisting
        assert len(int8[q]) == 10


def test_ivf_ann_deterministic_across_runs(spark, emb_df):
    from rbql_spark.ops.similarity import ivf_ann_topk
    queries = emb_df.filter(F.col('vec_id') < 3) \
                    .select(F.col('vec_id').alias('query_id'), 'embedding')
    a = [tuple(r) for r in ivf_ann_topk(emb_df, queries, k=5, n_cells=8, n_probe=2).collect()]
    b = [tuple(r) for r in ivf_ann_topk(emb_df.repartition(7), queries, k=5,
                                        n_cells=8, n_probe=2).collect()]
    assert a == b


def test_bruteforce_self_similarity_first(spark, emb_df):
    from rbql_spark.ops.similarity import cosine_topk_bruteforce
    queries = emb_df.filter(F.col('vec_id') == 7) \
                    .select(F.col('vec_id').alias('query_id'), 'embedding')
    top = cosine_topk_bruteforce(emb_df, queries, k=3).collect()
    assert top[0]['vec_id'] == 7
    assert top[0]['cosine_sim'] == pytest.approx(1.0)


def test_embedding_near_dup_pairs_runs(spark, emb_df):
    from rbql_spark.ops.similarity import embedding_near_dup_pairs
    out = embedding_near_dup_pairs(emb_df, threshold=0.5, dim=64)
    rows = out.collect()
    for r in rows:
        assert r['vec_a'] < r['vec_b']
        assert r['cosine_sim'] >= 0.5


def test_multimodal_real_image_decode(spark, doc_df):
    """multimodal_pipeline now encodes REAL 24-bit BMPs and decodes them with
    a real parser; features are verified against independent pixel math."""
    from rbql_spark.ops.multimodal import multimodal_pipeline
    rows = {r['doc_id']: r for r in multimodal_pipeline(doc_df).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    for seed, r in rows.items():
        w, h = 4 + seed % 13, 3 + seed % 7
        assert (r['width'], r['height'], r['n_pixels']) == (w, h, w * h)
        assert r['n_bytes'] == 54 + ((w * 3 + 3) // 4 * 4) * h
        assert r['r_sum'] == sum((11 * seed + x + 13 * y) % 256
                                 for y in range(h) for x in range(w))
        assert r['b_sum'] == sum((seed + 2 * x + 3 * y) % 256
                                 for y in range(h) for x in range(w))
        assert sum(r['g_h%d' % k] for k in range(4)) == w * h


def test_bmp_codec_roundtrip_and_errors():
    """decode_bmp is a real parser: bottom-up and top-down row orders agree,
    malformed input raises, padding is honored (w=5 → stride 16)."""
    import struct
    import pytest
    from rbql_spark.ops.multimodal import decode_bmp, encode_bmp
    raw = encode_bmp(5, 4, 9)
    f = decode_bmp(raw)
    assert (f['width'], f['height'], f['bpp']) == (5, 4, 24)
    # top-down variant (negative height) decodes to the same features
    td = raw[:22] + struct.pack('<i', -4) + raw[26:]
    f2 = decode_bmp(td)
    assert (f2['r_sum'], f2['g_sum'], f2['b_sum']) == (
        f['r_sum'], f['g_sum'], f['b_sum'])
    with pytest.raises(ValueError):
        decode_bmp(b'not a bmp at all, clearly, but long enough to pass length')
    with pytest.raises(ValueError):
        decode_bmp(raw[:40])        # truncated
    with pytest.raises(ValueError):
        decode_bmp(raw[:28] + struct.pack('<H', 8) + raw[30:])  # 8bpp unsupported


def test_wav_codec_roundtrip_and_errors():
    import pytest
    from rbql_spark.ops.multimodal import decode_wav, encode_wav
    seed, n = 123, 50 + 123 % 100
    f = decode_wav(encode_wav(n, 8000, seed))
    smp = [(seed * 31 + i * 17) % 65536 - 32768 for i in range(n)]
    assert f['n_samples'] == n and f['sample_rate'] == 8000
    assert (f['amp_min'], f['amp_max']) == (min(smp), max(smp))
    assert f['abs_sum'] == sum(abs(v) for v in smp)
    assert f['zero_crossings'] == sum(
        1 for i in range(1, n) if (smp[i - 1] < 0) != (smp[i] < 0))
    with pytest.raises(ValueError):
        decode_wav(b'RIFFxxxxNOPE')


def test_multimodal_audio_decode(spark, doc_df):
    from rbql_spark.ops.multimodal import audio_pipeline
    rows = {r['doc_id']: r for r in audio_pipeline(doc_df).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    for seed, r in rows.items():
        n = 50 + seed % 100
        smp = [(seed * 31 + i * 17) % 65536 - 32768 for i in range(n)]
        assert r['n_samples'] == n and r['n_bytes'] == 44 + 2 * n
        assert (r['channels'], r['bits'], r['sample_rate']) == (1, 16, 8000)
        assert r['abs_sum'] == sum(abs(v) for v in smp)


def test_multimodal_real_resize(spark, doc_df):
    """resize_images decodes, nearest-neighbor subsamples, and re-encodes a
    valid BMP; sums verified against the kept-coordinate pixel math."""
    from rbql_spark.ops.multimodal import attach_image_payload, resize_images
    payloads = attach_image_payload(doc_df)
    rows = {r['doc_id']: r for r in resize_images(payloads, factor=2).collect()}
    for seed, r in rows.items():
        w, h = 4 + seed % 13, 3 + seed % 7
        w2, h2 = -(-w // 2), -(-h // 2)
        assert (r['orig_width'], r['orig_height']) == (w, h)
        assert (r['resized_width'], r['resized_height']) == (w2, h2)
        assert r['resized_n_bytes'] == 54 + ((w2 * 3 + 3) // 4 * 4) * h2
        assert r['r_sum'] == sum((11 * seed + (2 * x) + 13 * (2 * y)) % 256
                                 for y in range(h2) for x in range(w2))


def test_payload_sniffer_dispatch():
    from rbql_spark.ops.multimodal import (
        _decode_payload, encode_bmp, encode_png, encode_wav)
    assert _decode_payload(encode_bmp(5, 4, 9))['media'] == 'image/bmp'
    assert _decode_payload(encode_png(5, 4, 9))['media'] == 'image/png'
    assert _decode_payload(encode_wav(60, 8000, 9))['media'] == 'audio/wav'
    opaque = _decode_payload(b'hello world')
    assert opaque['media'] == 'application/octet-stream'
    assert opaque['byte_checksum'] == sum(b'hello world')


def test_png_codec_roundtrip_all_filters():
    """decode_png inverts all five scanline filters: the encoder cycles
    filter type y % 5, so any image with height ≥ 5 exercises
    None/Sub/Up/Average/Paeth; features verified with independent pixel
    math for both RGB and RGBA."""
    from rbql_spark.ops.multimodal import decode_png, encode_png
    for seed, alpha in ((9, False), (12, True), (0, True)):
        w, h = 4 + seed % 13, 3 + seed % 7
        f = decode_png(encode_png(w, h, seed, alpha))
        assert (f['width'], f['height']) == (w, h)
        assert f['channels'] == (4 if alpha else 3)
        assert f['r_sum'] == sum((11 * seed + x + 13 * y) % 256
                                 for y in range(h) for x in range(w))
        assert f['b_sum'] == sum((seed + 2 * x + 3 * y) % 256
                                 for y in range(h) for x in range(w))
        exp_a = (sum((seed + 3 * x + 5 * y) % 256
                     for y in range(h) for x in range(w))
                 if alpha else 255 * w * h)
        assert f['a_sum'] == exp_a
        assert sum(f['g_h%d' % k] for k in range(4)) == w * h
    # width 1 / tall: Sub/Average/Paeth left-neighbor edge at every row
    f = decode_png(encode_png(1, 23, 7, True))
    assert (f['width'], f['height'], f['n_pixels']) == (1, 23, 23)


def test_png_codec_rejects_malformed():
    import struct
    import zlib
    import pytest
    from rbql_spark.ops.multimodal import _PNG_SIG, _png_chunk, decode_png, encode_png
    good = encode_png(5, 4, 3)
    with pytest.raises(ValueError, match='not a PNG'):
        decode_png(b'nope')
    corrupt = bytearray(good)
    corrupt[20] ^= 0xFF                       # flip an IHDR body byte
    with pytest.raises(ValueError, match='CRC'):
        decode_png(bytes(corrupt))
    pal_ihdr = struct.pack('>IIBBBBB', 2, 2, 8, 3, 0, 0, 0)   # palette
    pal = (_PNG_SIG + _png_chunk(b'IHDR', pal_ihdr)
           + _png_chunk(b'IDAT', zlib.compress(b''))
           + _png_chunk(b'IEND', b''))
    with pytest.raises(ValueError, match='RGB/RGBA'):
        decode_png(pal)
    inter_ihdr = struct.pack('>IIBBBBB', 2, 2, 8, 2, 0, 0, 1)  # Adam7
    inter = (_PNG_SIG + _png_chunk(b'IHDR', inter_ihdr)
             + _png_chunk(b'IDAT', zlib.compress(b''))
             + _png_chunk(b'IEND', b''))
    with pytest.raises(ValueError, match='interlace'):
        decode_png(inter)
    short_ihdr = struct.pack('>IIBBBBB', 2, 2, 8, 2, 0, 0, 0)
    short = (_PNG_SIG + _png_chunk(b'IHDR', short_ihdr)
             + _png_chunk(b'IDAT', zlib.compress(b'\x00' * 5))
             + _png_chunk(b'IEND', b''))
    with pytest.raises(ValueError, match='length mismatch'):
        decode_png(short)
    with pytest.raises(ValueError, match='IHDR/IEND'):
        decode_png(good[:-12])                # IEND stripped


def test_png_decodes_external_files():
    """External-reach proof (r14 verdict #3): the decoder parses PNGs
    written by real-world encoders (libpng/Sphinx assets shipped with the
    OS), not just bytes this repo encoded.  Skipped when no system PNG in
    the supported subset (8-bit RGB/RGBA non-interlaced) is present."""
    import glob
    import pytest
    from rbql_spark.ops.multimodal import decode_png
    decoded = 0
    for path in sorted(glob.glob('/usr/share/doc/**/*.png', recursive=True))[:200]:
        with open(path, 'rb') as fh:
            raw = fh.read()
        try:
            f = decode_png(raw)
        except ValueError:
            continue                          # palette/16-bit/interlaced
        assert f['width'] > 0 and f['height'] > 0
        assert f['channels'] in (3, 4)
        n = f['n_pixels']
        for c in 'rgb':
            assert 0 <= f['{}_sum'.format(c)] <= 255 * n
            assert sum(f['{}_h{}'.format(c, k)] for k in range(4)) == n
        decoded += 1
    if decoded == 0:
        pytest.skip('no supported system PNGs found')


def test_png_pipeline(spark, doc_df):
    """attach → sniff → inflate → unfilter, end-to-end on Spark."""
    from rbql_spark.ops.multimodal import png_pipeline
    rows = {r['doc_id']: r for r in png_pipeline(doc_df).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    for seed, r in rows.items():
        w, h = 4 + seed % 13, 3 + seed % 7
        assert (r['width'], r['height'], r['n_pixels']) == (w, h, w * h)
        assert r['channels'] == (4 if seed % 3 == 0 else 3)
        assert r['g_sum'] == sum((5 * seed + 7 * x + y) % 256
                                 for y in range(h) for x in range(w))


def test_multimodal_frame_sample_explodes_rows(spark, doc_df):
    from rbql_spark.ops.multimodal import attach_binary_payload, sample_frames
    payloads = attach_binary_payload(doc_df)
    rows = sample_frames(payloads, frame_size=16, stride=2, max_frames=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r['doc_id'], []).append(r)
    # every doc here is >16 bytes → at least one frame; cap respected
    assert set(by_doc) == {1, 2, 3, 4, 5}
    for doc_id, frames in by_doc.items():
        assert 1 <= len(frames) <= 3
        for f in frames:
            assert f['frame_idx'] % 2 == 0          # stride
            assert f['frame_offset'] == f['frame_idx'] * 16
            assert 1 <= f['frame_len'] <= 16
    # identical payloads → identical frame sets
    key = lambda fs: sorted((f['frame_idx'], f['frame_len'], f['frame_checksum'])  # noqa: E731
                            for f in fs)
    assert key(by_doc[1]) == key(by_doc[2])


def test_multimodal_resize_stub(spark, doc_df):
    from rbql_spark.ops.multimodal import attach_binary_payload, resize_stub
    payloads = attach_binary_payload(doc_df)
    rows = {r['doc_id']: r for r in resize_stub(payloads, factor=4).collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert r['resized_bytes'] == -(-r['orig_bytes'] // 4)
        assert len(r['resized_head_hex']) == 8
    assert rows[1]['resized_checksum'] == rows[2]['resized_checksum']


def test_hash_sample_deterministic_and_join_consistent(spark, sf_dir):
    from rbql_spark.ops.sampling import hash_sample
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    a = {r['doc_id'] for r in hash_sample(docs, 0.3).select('doc_id').collect()}
    b = {r['doc_id'] for r in hash_sample(docs, 0.3).select('doc_id').collect()}
    assert a == b                      # rerun-stable
    sup = {r['doc_id'] for r in hash_sample(docs, 0.6).select('doc_id').collect()}
    assert a <= sup                    # fraction monotone: 0.3 sample nests in 0.6
    n = docs.count()
    assert 0.15 * n < len(a) < 0.45 * n


def test_stratified_hash_sample_respects_fractions(spark, sf_dir):
    from rbql_spark.ops.sampling import stratified_hash_sample
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    out = stratified_hash_sample(docs, {'de': 1.0, 'en': 0.0}, 'lang',
                                 default_fraction=0.5)
    got = {r['lang'] for r in out.select('lang').distinct().collect()}
    assert 'en' not in got
    n_de = docs.filter("lang = 'de'").count()
    assert out.filter("lang = 'de'").count() == n_de


def test_sample_k_per_group_exact_counts_and_rank(spark, sf_dir):
    import hashlib

    from rbql_spark.ops.sampling import sample_k_per_group
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    out = sample_k_per_group(docs, k=10, group_col='lang').collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r['lang'], []).append(r)
    sizes = {g: docs.filter(F.col('lang') == g).count() for g in by_lang}
    for g, rows in by_lang.items():
        assert len(rows) == min(10, sizes[g])
        assert sorted(r['sample_rank'] for r in rows) == \
            list(range(1, len(rows) + 1))
    # exactness: the picked keys ARE the k smallest md5 units per group
    def unit(doc_id):
        h = hashlib.md5('{}:kpg:42'.format(doc_id).encode()).hexdigest()
        return int(h[:8], 16) / float(1 << 32)
    all_rows = docs.select('doc_id', 'lang').collect()
    for g, rows in by_lang.items():
        expect = sorted((unit(r['doc_id']), r['doc_id'])
                        for r in all_rows if r['lang'] == g)[:10]
        got = sorted((unit(r['doc_id']), r['doc_id']) for r in rows)
        assert got == expect, g


def test_sample_k_per_group_salt_invariant_and_errors(spark, sf_dir):
    import pytest

    from rbql_spark.ops.sampling import sample_k_per_group
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    a = {(r['doc_id'], r['sample_rank']) for r in
         sample_k_per_group(docs, k=5, group_col='lang',
                            salt_buckets=1).collect()}
    b = {(r['doc_id'], r['sample_rank']) for r in
         sample_k_per_group(docs, k=5, group_col='lang',
                            salt_buckets=7).collect()}
    assert a == b                      # salt choice never reaches the output
    with pytest.raises(ValueError):
        sample_k_per_group(docs, k=0, group_col='lang')
    with pytest.raises(ValueError):
        sample_k_per_group(docs, k=5, group_col='lang', salt_buckets=0)


def test_sample_k_per_group_null_keys_and_reserved_names(spark):
    import pytest

    from rbql_spark.ops.sampling import sample_k_per_group
    # a NULL key used to hash to a NULL unit, sort FIRST (NULLS FIRST),
    # occupy a pick slot, then never join back — the group silently
    # returned k-1 rows; NULL-keyed rows are now excluded up front
    df = spark.createDataFrame(
        [(None, 'g'), (1, 'g'), (2, 'g'), (3, 'g'), (4, 'h')],
        'doc_id long, grp string')
    out = sample_k_per_group(df, k=2, group_col='grp', key_col='doc_id')
    by_g = {}
    for r in out.collect():
        by_g.setdefault(r['grp'], set()).add(r['doc_id'])
    assert len(by_g['g']) == 2 and None not in by_g['g']  # full k, no NULL
    assert by_g['h'] == {4}
    # temp names are reserved and checked, not silently dropped
    clash = df.withColumn('__rbql_kpg_k', F.lit(1))
    with pytest.raises(ValueError, match='reserved'):
        sample_k_per_group(clash, k=2, group_col='grp', key_col='doc_id')


def test_sample_k_per_group_plan(spark, sf_dir):
    from rbql_spark.ops.sampling import sample_k_per_group
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    out = sample_k_per_group(docs, k=5, group_col='lang')
    plan = out._jdf.queryExecution().executedPlan().toString()
    # auto mode measured a tiny pick set -> broadcast join back, and the
    # exact rank never range-shuffles
    assert 'BroadcastHashJoin' in plan
    assert 'rangepartitioning' not in plan.lower()
    assert 'BatchEvalPython' not in plan and 'mapInPandas' not in plan


def test_pack_sequences_invariants(spark, sf_dir):
    from rbql_spark.ops.sampling import pack_sequences
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    out = pack_sequences(docs, max_tokens=256, n_buckets=8).collect()
    assert len(out) == docs.count()
    import collections
    bins = collections.defaultdict(list)
    for r in out:
        assert r['bucket'] == r['doc_id'] % 8
        bins[(r['bucket'], r['bin_id'])].append(r)
    for rows in bins.values():
        rows.sort(key=lambda r: r['bin_seq'])
        total = sum(r['n_tokens'] for r in rows)
        # a bin only exceeds the cap when a single oversized doc owns it
        assert total <= 256 or len(rows) == 1
        # docs in a bin are consecutive in id order within the bucket
        assert [r['bin_seq'] for r in rows] == list(range(len(rows)))


def test_pack_sequences_scales_bucket_count(spark, sf_dir):
    # Without an explicit n_buckets the bucket count derives from the corpus
    # size: ceil(count / target_docs_per_bucket).  Parallelism grows with the
    # data instead of capping at a fixed constant.
    from rbql_spark.ops.sampling import pack_sequences
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    n = docs.count()
    target = 64
    expect_buckets = -(-n // target)
    out = pack_sequences(docs, max_tokens=256, target_docs_per_bucket=target)
    got_buckets = out.select('bucket').distinct().count()
    assert got_buckets == min(expect_buckets, n)
    assert out.agg(F.max('bucket')).first()[0] == expect_buckets - 1


def test_pack_sequences_stable_across_parallelism(spark, sf_dir):
    # Bin assignment is a function of (bucket, id order) only — repartitioning
    # the input to 1 vs 16 partitions must produce identical rows.
    from rbql_spark.ops.sampling import pack_sequences
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    def snap(df):
        return sorted(tuple(r) for r in
                      pack_sequences(df, max_tokens=256,
                                     target_docs_per_bucket=64).collect())
    assert snap(docs.repartition(1)) == snap(docs.repartition(16))


def test_dedup_clusters_connected_components(spark):
    from rbql_spark.ops.dedup import dedup_clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 3)], 'doc_a long, doc_b long')
    got = {r['doc_id']: r['cluster_id'] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_dedup_clusters_random_graphs_match_union_find(spark):
    # Randomized check of the pointer-hop label propagation against a plain
    # union-find: chains, cliques, stars, and sparse random graphs.
    import random
    for seed in [1, 2, 3]:
        rnd = random.Random(seed)
        n = rnd.randint(10, 60)
        edges = {tuple(sorted(rnd.sample(range(n), 2)))
                 for _ in range(rnd.randint(5, n * 2))}
        # plant a long chain so convergence needs several rounds
        chain = list(range(100, 100 + rnd.randint(8, 15)))
        edges |= {(a, b) for a, b in zip(chain, chain[1:])}
        parent = {}
        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in parent}
        from rbql_spark.ops.dedup import dedup_clusters
        df = spark.createDataFrame([(a, b) for a, b in sorted(edges)],
                                   'doc_a long, doc_b long')
        got = {r['doc_id']: r['cluster_id'] for r in dedup_clusters(df).collect()}
        assert got == want, f'seed {seed} diverged'


def test_dedup_clusters_driver_finish_matches_distributed(spark):
    # r16: the size-guarded driver union-find finish must label exactly
    # like the large-star/small-star alternation (threshold forced to 0)
    import random

    import rbql_spark.ops.dedup as dd
    rnd = random.Random(7)
    edges = sorted({tuple(sorted(rnd.sample(range(60), 2)))
                    for _ in range(80)})
    chain = list(range(200, 214))
    edges += list(zip(chain, chain[1:]))
    df = spark.createDataFrame(edges, 'doc_a long, doc_b long')
    hybrid = sorted(tuple(r) for r in dd.dedup_clusters(df).collect())
    old = dd.CC_DRIVER_FINISH_EDGES
    dd.CC_DRIVER_FINISH_EDGES = 0
    try:
        dist = sorted(tuple(r) for r in dd.dedup_clusters(df).collect())
    finally:
        dd.CC_DRIVER_FINISH_EDGES = old
    assert hybrid == dist


def test_dedup_clusters_empty_pairs(spark):
    from rbql_spark.ops.dedup import dedup_clusters
    pairs = spark.createDataFrame([], 'doc_a long, doc_b long')
    assert dedup_clusters(pairs).count() == 0


def test_dedup_clusters_reliable_checkpoint_matches(spark, tmp_path,
                                                    monkeypatch):
    # checkpoint_dir= uses reliable (filesystem) checkpoints so executor
    # loss mid-iteration can't kill a cluster-scale run; output must be
    # identical to the localCheckpoint default.
    import os

    from rbql_spark.ops import dedup as dd
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 3), (10, 11), (11, 12), (12, 13)],
        'doc_a long, doc_b long')
    local = sorted(tuple(r) for r in dd.dedup_clusters(pairs).collect())

    # driver-finish path (tiny forest): result identical AND the round
    # scratch is deleted — nothing lazy reads it (r17, r16 advice)
    drv_dir = os.path.join(str(tmp_path), 'drv')
    reliable = sorted(tuple(r) for r in dd.dedup_clusters(
        pairs, checkpoint_dir=drv_dir).collect())
    assert reliable == local
    assert not os.listdir(drv_dir)   # scratch hygiene: round-0 removed

    # distributed path (driver finish disabled): checkpoints actually
    # land on disk and the FINAL round survives (it backs the lazy
    # result); superseded rounds are removed
    monkeypatch.setattr(dd, 'CC_DRIVER_FINISH_EDGES', 0)
    dist_dir = os.path.join(str(tmp_path), 'dist')
    res = dd.dedup_clusters(pairs, checkpoint_dir=dist_dir)
    assert sorted(tuple(r) for r in res.collect()) == local
    assert os.listdir(dist_dir)      # final round persisted on disk


def test_simhash_eager_matches_default(spark, doc_df):
    # eager=True materializes + unpersists the fingerprint cache and must
    # return the identical pair set
    from rbql_spark.ops.dedup import simhash_near_dups
    lazy = sorted(tuple(r) for r in
                  simhash_near_dups(doc_df, 'text', 'doc_id',
                                    max_hamming=7).collect())
    eager = sorted(tuple(r) for r in
                   simhash_near_dups(doc_df, 'text', 'doc_id',
                                     max_hamming=7, eager=True).collect())
    assert lazy == eager and len(eager) > 0


def test_decontaminate_flags_planted_overlap(spark, doc_df):
    # benchmark = doc 1's text under a new id: docs 1/2 (exact) and 3
    # (near-dup) share shingles with it; 4/5 must stay clean
    from rbql_spark.ops.dedup import decontaminate
    bench = spark.createDataFrame(
        [(100, doc_df.filter('doc_id = 1').first()['text'])],
        'doc_id long, text string')
    hits = {r['doc_id']: r['n_overlap']
            for r in decontaminate(doc_df, bench, min_overlap=2).collect()}
    assert set(hits) == {1, 2, 3}
    assert hits[1] == hits[2] and hits[3] < hits[1]


def test_decontaminate_engines_agree(spark, doc_df):
    from rbql_spark.ops.dedup import decontaminate
    bench = doc_df.filter('doc_id in (1, 4)').select(
        (F.col('doc_id') + 100).alias('doc_id'), 'text')
    a = sorted(tuple(r) for r in
               decontaminate(doc_df, bench, hash_fn='md5').collect())
    b = sorted(tuple(r) for r in
               decontaminate(doc_df, bench, hash_fn='xxhash64').collect())
    assert a == b and len(a) > 0


def test_redact_pii_patterns(spark):
    from rbql_spark.ops.textstats import redact_pii
    df = spark.createDataFrame(
        [(1, 'mail me at bob@example.com or 10.0.0.1 thanks'),
         (2, 'call +1 555 123 4567 now'),
         (3, 'clean text only')],
        'doc_id long, text string')
    rows = {r['doc_id']: r for r in redact_pii(df).collect()}
    assert rows[1]['clean_text'] == 'mail me at <EMAIL> or <IPV4> thanks'
    assert rows[1]['n_email'] == 1 and rows[1]['n_ipv4'] == 1
    assert rows[2]['clean_text'] == 'call <PHONE> now'
    assert rows[2]['n_phone'] == 1
    assert rows[3]['clean_text'] == 'clean text only'
    assert rows[3]['n_email'] == rows[3]['n_ipv4'] == rows[3]['n_phone'] == 0


def test_repetition_stats_planted_values(spark):
    from rbql_spark.ops.textstats import repetition_stats
    # 'a b a b a b': words [a,b,a,b,a,b] -> dup_word_frac = 1 - 2/6;
    # bigrams sorted: ['a b','a b','a b','b a','b a'] -> top count 3,
    # mass 3*3=9 chars of 11; trigrams: 'a b a'x2, 'b a b'x2 -> dup mass
    # (2+2)*5 = 20 of 11 chars (overlap pushes past 1 by design, no clamp)
    df = spark.createDataFrame(
        [(1, 'a b a b a b'),
         (2, 'x y z w'),       # all unique: top bigram count 1, no dups
         (3, ''),              # empty: all zeros
         (4, 'q q')],          # dup word, single bigram
        'doc_id long, text string')
    rows = {r['doc_id']: r for r in repetition_stats(df).collect()}
    assert abs(rows[1]['dup_word_frac'] - (1 - 2 / 6)) < 1e-6
    assert rows[1]['top_ngram_count'] == 3
    assert abs(rows[1]['top_ngram_char_frac'] - 9 / 11) < 1e-6
    assert abs(rows[1]['dup_ngram_char_frac'] - 20 / 11) < 1e-6
    assert rows[2]['top_ngram_count'] == 1
    assert rows[2]['dup_ngram_char_frac'] == 0.0
    assert rows[3]['top_ngram_count'] == 0
    assert rows[3]['dup_word_frac'] == 0.0
    assert abs(rows[4]['dup_word_frac'] - 0.5) < 1e-6


def test_repetition_stats_tie_breaks_on_char_mass(spark):
    from rbql_spark.ops.textstats import repetition_stats
    # bigrams 'aa bb' and 'cc ddd' both occur twice; the tie must resolve
    # to the larger char mass (2*6=12) regardless of sort order
    df = spark.createDataFrame([(1, 'aa bb aa bb x cc ddd cc ddd')],
                               'doc_id long, text string')
    r = repetition_stats(df).first()
    assert r['top_ngram_count'] == 2
    assert abs(r['top_ngram_char_frac'] - 12 / 27) < 1e-6


def test_dedup_lines_removes_corpus_frequent_lines(spark):
    from rbql_spark.ops.dedup import dedup_lines
    df = spark.createDataFrame(
        [(1, 'keep me\nall rights reserved\nunique one'),
         (2, 'all rights reserved\nanother keeper'),
         (3, 'all rights reserved'),
         (4, 'only\n\nmine')],   # blank line survives (never counted)
        'doc_id long, text string')
    rows = {r['doc_id']: r for r in dedup_lines(df, min_count=2).collect()}
    assert rows[1]['clean_text'] == 'keep me\nunique one'
    assert rows[1]['n_lines'] == 3 and rows[1]['n_removed'] == 1
    assert rows[2]['clean_text'] == 'another keeper'
    assert rows[3]['clean_text'] == '' and rows[3]['n_removed'] == 1
    assert rows[4]['clean_text'] == 'only\n\nmine'
    assert rows[4]['n_removed'] == 0


def test_dedup_lines_hash_engines_agree(spark):
    from rbql_spark.ops.dedup import dedup_lines
    df = spark.createDataFrame(
        [(i, 'shared line\nrow {}'.format(i % 3)) for i in range(8)],
        'doc_id long, text string')
    a = sorted(tuple(r) for r in dedup_lines(df, hash_fn='md5').collect())
    b = sorted(tuple(r) for r in dedup_lines(df, hash_fn='xxhash64').collect())
    c = sorted(tuple(r) for r in
               dedup_lines(df, hash_fn='md5', broadcast_frequent=False).collect())
    assert a == b == c
    assert all(r[1] == '' for r in a)  # every line occurs >= 2 times


def test_keep_canonical_survivors(spark, doc_df):
    from rbql_spark.ops.dedup import keep_canonical, simhash_near_dups
    pairs = simhash_near_dups(doc_df, 'text', 'doc_id', max_hamming=7)
    kept = sorted(r['doc_id'] for r in keep_canonical(doc_df, pairs).collect())
    # docs 1/2/3 cluster (exact + near dup) -> min id 1 survives; 4/5 untouched
    assert kept == [1, 4, 5]


def test_temperature_sample_rates_and_determinism(spark, sf_dir):
    from rbql_spark.ops.sampling import temperature_sample
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    out = temperature_sample(docs, 'lang', alpha=0.5)
    a = sorted(r['doc_id'] for r in out.collect())
    b = sorted(r['doc_id'] for r in
               temperature_sample(docs, 'lang', alpha=0.5).collect())
    assert a == b and 0 < len(a) < docs.count()
    # the smallest stratum is kept whole (rate 1.0); alpha=1 keeps everything
    counts = {r['lang']: r['cnt'] for r in
              docs.groupBy('lang').agg(F.count(F.lit(1)).alias('cnt')).collect()}
    smallest = min(counts, key=lambda k: (counts[k], k))
    kept = {r['lang']: r['cnt'] for r in
            out.groupBy('lang').agg(F.count(F.lit(1)).alias('cnt')).collect()}
    assert kept[smallest] == counts[smallest]
    assert temperature_sample(docs, 'lang', alpha=1.0).count() == docs.count()


def test_pq_ann_recall_and_self_match(spark, emb_df):
    from rbql_spark.ops.similarity import cosine_topk_bruteforce, pq_ann_topk
    queries = emb_df.filter(F.col('vec_id') < 3) \
                    .select(F.col('vec_id').alias('query_id'), 'embedding')
    exact = cosine_topk_bruteforce(emb_df, queries, k=10)
    approx = pq_ann_topk(emb_df, queries, k=10, m=8, ks=16)
    exact_sets, approx_sets = {}, {}
    for r in exact.collect():
        exact_sets.setdefault(r['query_id'], set()).add(r['vec_id'])
    for r in approx.collect():
        approx_sets.setdefault(r['query_id'], set()).add(r['vec_id'])
    recalls = []
    for q, ex in exact_sets.items():
        ap = approx_sets.get(q, set())
        # unlike IVF, the ADC scan scores EVERY vector — the exact rescore
        # of the 4k shortlist must surface the self-match
        assert q in ap
        recalls.append(len(ex & ap) / len(ex))
    # 16-entry codebooks over near-uniform random vectors: coarse, but the
    # 4x-overfetch rescore keeps recall well above the floor
    assert sum(recalls) / len(recalls) >= 0.3


def test_pq_ann_deterministic_across_runs(spark, emb_df):
    from rbql_spark.ops.similarity import pq_ann_topk
    queries = emb_df.filter(F.col('vec_id') < 2) \
                    .select(F.col('vec_id').alias('query_id'), 'embedding')
    a = [tuple(r) for r in pq_ann_topk(emb_df, queries, k=5).collect()]
    b = [tuple(r) for r in pq_ann_topk(emb_df, queries, k=5).collect()]
    assert a == b and len(a) == 10


def test_chunk_documents_windows_and_overlap(spark):
    from rbql_spark.ops.sampling import chunk_documents
    df = spark.createDataFrame(
        [(1, ' '.join('t{}'.format(i) for i in range(10))),  # 10 tokens
         (2, 'a b c'),                                       # single short chunk
         (3, '')],                                           # empty: no chunks
        'doc_id long, text string')
    rows = chunk_documents(df, chunk_size=4, overlap=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r['doc_id'], []).append(r)
    # doc 1: starts 0,2,4,6 -> 4 chunks; start 6 reaches the final token,
    # so no (fully-contained) trailing starts are emitted
    c1 = sorted(by_doc[1], key=lambda r: r['chunk_idx'])
    assert [r['n_chunk_tokens'] for r in c1] == [4, 4, 4, 4]
    assert c1[0]['chunk_text'] == 't0 t1 t2 t3'
    assert c1[1]['chunk_text'] == 't2 t3 t4 t5'   # overlap of 2
    assert c1[3]['chunk_text'] == 't6 t7 t8 t9'
    assert [r['chunk_text'] for r in by_doc[2]] == ['a b c']
    assert 3 not in by_doc
    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_size=4, overlap=4)


def test_minhash_match_batch_vs_index(spark, doc_df):
    from rbql_spark.ops.dedup import minhash_match
    # index = docs 1/4/5, batch = docs 2 (exact dup of 1) and 3 (near dup)
    index = doc_df.filter('doc_id in (1, 4, 5)')
    batch = doc_df.filter('doc_id in (2, 3)')
    hits = {(r['batch_id'], r['index_id']): r['jaccard']
            for r in minhash_match(batch, index, threshold=0.5).collect()}
    assert hits[(2, 1)] == 1.0          # exact duplicate of an indexed doc
    assert (3, 1) in hits               # near dup
    assert all(ix not in (4, 5) for _, ix in hits)  # unrelated index docs
    # matches within the batch itself must NOT be reported (2 vs 3 are
    # near dups of each other but the op is strictly cross-side)
    assert all(b in (2, 3) and ix == 1 for b, ix in hits)


def test_minhash_match_shuffle_fallback_agrees(spark, doc_df):
    from rbql_spark.ops.dedup import minhash_match
    index = doc_df.filter('doc_id in (1, 4, 5)')
    batch = doc_df.filter('doc_id in (2, 3)')
    a = sorted(tuple(r) for r in
               minhash_match(batch, index, threshold=0.5).collect())
    b = sorted(tuple(r) for r in
               minhash_match(batch, index, threshold=0.5,
                             broadcast_batch=False).collect())
    assert a == b and len(a) > 0
    # round-11: broadcast_batch=None measures the (already-persisted) batch
    # signatures and falls back above broadcast_max_rows — values agree on
    # every path, and the forced-broadcast hint really drops on fallback
    c = sorted(tuple(r) for r in
               minhash_match(batch, index, threshold=0.5,
                             broadcast_max_rows=0).collect())
    d = sorted(tuple(r) for r in
               minhash_match(batch, index, threshold=0.5,
                             broadcast_batch=True).collect())
    assert a == c == d

    def analyzed(**kw):
        return minhash_match(batch, index, threshold=0.5, **kw) \
            ._jdf.queryExecution().analyzed().toString()
    assert 'ResolvedHint' not in analyzed(broadcast_batch=False)
    assert 'ResolvedHint' in analyzed(broadcast_batch=True)


def test_profile_table_stats(spark):
    from rbql_spark.ops.profile import profile_table
    df = spark.createDataFrame(
        [(1, 'a', None), (2, 'b', 5.0), (3, 'a', 7.0), (4, None, 7.0)],
        'id long, s string, v double')
    rows = {r['column']: r for r in profile_table(df).collect()}
    assert set(rows) == {'id', 's', 'v'}
    assert all(r['n_rows'] == 4 for r in rows.values())
    assert rows['id']['n_nulls'] == 0 and rows['id']['n_distinct'] == 4
    assert rows['s']['n_nulls'] == 1 and rows['s']['n_distinct'] == 2
    assert rows['v']['n_nulls'] == 1 and rows['v']['n_distinct'] == 2
    assert rows['id']['min_value'] == '1' and rows['id']['max_value'] == '4'
    assert rows['s']['min_value'] == 'a' and rows['s']['max_value'] == 'b'
    # single aggregation job: one scan no matter how many columns
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count('Scan') <= 2  # one source scan (+AQE re-listing)


def test_profile_table_approx_distinct_within_rsd(spark, sf_dir):
    from rbql_spark.ops.profile import profile_table
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    cols = ['doc_id', 'lang', 'source']
    exact = {r['column']: r for r in profile_table(docs, cols).collect()}
    approx = {r['column']: r for r in
              profile_table(docs, cols, approx_distinct=True,
                            approx_rsd=0.02).collect()}
    for c in cols:
        # everything except the distinct estimate is identical
        for f in ('n_rows', 'n_nulls', 'min_value', 'max_value'):
            assert approx[c][f] == exact[c][f]
        nd, nda = exact[c]['n_distinct'], approx[c]['n_distinct']
        assert abs(nda - nd) <= max(2, 0.1 * nd)


def test_temperature_sample_weighted_by_tokens(spark, sf_dir):
    from rbql_spark.ops.sampling import temperature_sample
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    w = temperature_sample(docs, 'lang', alpha=0.5, weight_col='n_chars')
    u = temperature_sample(docs, 'lang', alpha=0.5)
    wa = sorted(r['doc_id'] for r in w.collect())
    assert wa == sorted(r['doc_id'] for r in
                        temperature_sample(docs, 'lang', alpha=0.5,
                                           weight_col='n_chars').collect())
    # char-mass and doc-count strata differ, so the two samples differ
    assert wa != sorted(r['doc_id'] for r in u.collect())
    assert 0 < len(wa) < docs.count()


def test_train_bpe_learns_planted_merges(spark):
    from rbql_spark.ops.bpe import train_bpe
    # vocab {the:3, cat:1}: round 1 ties (t,h)/(h,e) at 3 -> left ASC picks
    # (h,e); then (t,he); then (a,t) beats (c,a) on left ASC at count 1;
    # then (c,at); then no pairs remain -> early stop at 4 of 6
    df = spark.createDataFrame([(1, 'the the cat'), (2, 'the')],
                               'doc_id long, text string')
    rows = [tuple(r) for r in train_bpe(df, n_merges=6).orderBy('rank').collect()]
    assert rows == [
        (1, 'h', 'e', 'he', 3),
        (2, 't', 'he', 'the', 3),
        (3, 'a', 't', 'at', 1),
        (4, 'c', 'at', 'cat', 1),
    ]


def test_apply_bpe_greedy_nonoverlapping(spark):
    from rbql_spark.ops.bpe import apply_bpe
    df = spark.createDataFrame(
        [(1, 'the that'), (2, 'aaa'), (3, '')], 'doc_id long, text string')
    rows = {r['doc_id']: r for r in
            apply_bpe(df, [('t', 'h'), ('th', 'e'), ('a', 'a')]).collect()}
    assert rows[1]['bpe_tokens'] == ['the', 'th', 'a', 't']
    # (a,a) on a/a/a merges left-to-right non-overlapping: aa + a
    assert rows[2]['bpe_tokens'] == ['aa', 'a']
    assert rows[3]['bpe_tokens'] == [] and rows[3]['n_bpe_tokens'] == 0


def test_bpe_vocab_and_encode_ids(spark):
    # dense contiguous token-ascending ids; OOV encodes as unk (-1) and
    # is counted; zero-token docs keep an EMPTY id array
    from rbql_spark.ops.bpe import apply_bpe, bpe_vocab, encode_bpe_ids
    docs = spark.createDataFrame(
        [(1, 'the cat and the hat'), (2, 'another thing then'), (3, '')],
        'doc_id long, text string')
    merges = [('t', 'h'), ('th', 'e'), ('a', 'n')]
    enc = apply_bpe(docs, merges)
    v = {r['token']: r['token_id'] for r in bpe_vocab(enc).collect()}
    assert sorted(v) == sorted(set(v))                       # unique tokens
    assert sorted(v.values()) == list(range(len(v)))         # dense 0..V-1
    assert [t for t, _ in sorted(v.items(), key=lambda kv: kv[1])] \
        == sorted(v)                                         # token-asc order
    out = {r['doc_id']: r for r in encode_bpe_ids(enc, bpe_vocab(enc))
           .collect()}
    toks = {r['doc_id']: r['bpe_tokens'] for r in enc.collect()}
    for d in (1, 2):
        assert out[d]['token_ids'] == [v[t] for t in toks[d]]
        assert out[d]['n_unk'] == 0
    assert out[3]['token_ids'] == [] and out[3]['n_tokens'] == 0
    # train-vocab applied to unseen data: misses become unk and count
    v1 = bpe_vocab(apply_bpe(docs.where('doc_id = 1'), merges))
    out2 = {r['doc_id']: r for r in encode_bpe_ids(enc, v1).collect()}
    assert out2[2]['n_unk'] > 0
    assert out2[2]['token_ids'].count(-1) == out2[2]['n_unk']
    assert out2[1]['n_unk'] == 0


def test_apply_bpe_edge_rows(spark):
    # the Arrow merge-fold kernel on rows the oracle corpus lacks: null
    # text, empty text, non-ASCII letters (é is one symbol and never
    # matches 'e'), overlapping 'aaa' (left-to-right, non-overlapping) and
    # chained merges (t+h, then th+e)
    from rbql_spark.ops.bpe import apply_bpe
    docs = spark.createDataFrame(
        [(1, None), (2, ''), (3, 'héllo thé aaa  !!'), (4, 'the that than')],
        'doc_id long, text string')
    merges = [('t', 'h'), ('th', 'e'), ('a', 'n'), ('a', 'a')]
    got = {r['doc_id']: (r['bpe_tokens'], r['n_bpe_tokens'])
           for r in apply_bpe(docs, merges).collect()}
    assert got[1][0] is None
    assert got[2] == ([], 0)
    assert got[3] == (['h', 'é', 'l', 'l', 'o', 'th', 'é', 'aa', 'a'], 9)
    assert got[4] == (['the', 'th', 'a', 't', 'th', 'an'], 6)


def test_encode_bpe_ids_dict_matches_join(spark):
    # r16: the broadcast-dict projection must match the explode + LEFT
    # join + groupBy rebuild, incl. unk counting and zero-token docs
    from rbql_spark.ops.bpe import apply_bpe, bpe_vocab, encode_bpe_ids
    docs = spark.createDataFrame(
        [(1, 'the cat and the hat'), (2, 'another thing then'), (3, '')],
        'doc_id long, text string')
    merges = [('t', 'h'), ('th', 'e'), ('a', 'n')]
    enc = apply_bpe(docs, merges)
    v1 = bpe_vocab(apply_bpe(docs.where('doc_id = 1'), merges))
    key = lambda d: sorted(  # noqa: E731
        (r['doc_id'], tuple(r['token_ids']), r['n_tokens'], r['n_unk'])
        for r in d.collect())
    assert key(encode_bpe_ids(enc, v1)) \
        == key(encode_bpe_ids(enc, v1, broadcast_vocab=False))


def test_bpe_roundtrip_compresses(spark, sf_dir):
    from rbql_spark.ops.bpe import apply_bpe, train_bpe
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet')).limit(50)
    merges = [(r['left_sym'], r['right_sym'])
              for r in train_bpe(docs, n_merges=6).orderBy('rank').collect()]
    assert len(merges) == 6
    enc = apply_bpe(docs, merges)
    chars = docs.select(F.sum(F.length(F.regexp_replace(
        'text', r'[^\p{L}\p{N}]', ''))).alias('n')).first()['n']
    toks = enc.select(F.sum('n_bpe_tokens').alias('n')).first()['n']
    assert 0 < toks < chars  # merges compress the symbol stream


def test_quality_filter_rules_and_reasons(spark):
    from rbql_spark.ops.textstats import quality_filter
    df = spark.createDataFrame([
        (1, 'the cat is in the house and that is fine for now today ok'),
        (2, 'hi'),                                      # too few words
        (3, 'THE CAT IS IN THE HOUSE AND THAT IS IT'),  # upper ratio
        (4, '!!! ??? ... ;;; ::: the cat is in the house and so on'),
        (5, 'zz qq xx ww vv uu tt ss rr pp'),           # no stopwords, und
    ], 'doc_id long, text string')
    rows = {r['doc_id']: r for r in quality_filter(
        df, min_words=5, min_stopword_ratio=0.05,
        allowed_langs=['en']).collect()}
    assert rows[1]['keep'] and rows[1]['reasons'] == ''
    assert not rows[2]['keep'] and 'too_few_words' in rows[2]['reasons']
    assert not rows[3]['keep'] and 'upper_ratio' in rows[3]['reasons']
    assert not rows[4]['keep'] and 'punct_ratio' in rows[4]['reasons']
    assert not rows[5]['keep']
    assert 'stopword_ratio' in rows[5]['reasons']
    assert 'lang' in rows[5]['reasons']
    # reasons render in fixed rule order
    assert rows[5]['reasons'].index('stopword_ratio') < rows[5]['reasons'].index('lang')


def test_split_corpus_fractions_and_stability(spark, sf_dir):
    from rbql_spark.ops.sampling import split_corpus
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    out = split_corpus(docs)
    counts = {r['split']: r['cnt'] for r in
              out.groupBy('split').agg(F.count(F.lit(1)).alias('cnt')).collect()}
    n = docs.count()
    assert set(counts) == {'train', 'val', 'test'}
    assert counts['train'] > counts['val'] and counts['train'] > counts['test']
    assert abs(counts['train'] / n - 0.9) < 0.08
    # rerun-stable and key-deterministic
    a = sorted((r['doc_id'], r['split']) for r in out.collect())
    b = sorted((r['doc_id'], r['split']) for r in split_corpus(docs).collect())
    assert a == b


def test_write_sharded_roundtrip_manifest(spark, tmp_path, sf_dir):
    from rbql_spark.ops.export import shard_manifest, verify_shards, write_sharded
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    path = os.path.join(str(tmp_path), 'shards')
    manifest = write_sharded(docs, path, n_shards=8)
    # the on-disk layout is partitioned by shard and content survives
    back = spark.read.parquet(path).drop('shard')
    assert verify_shards(back, manifest, n_shards=8)
    assert sorted(os.listdir(path))[0].startswith('_') or \
        any(d.startswith('shard=') for d in os.listdir(path))
    # shard assignment is content-keyed: physical repartition changes nothing
    reparted = docs.repartition(13)
    assert verify_shards(reparted, manifest, n_shards=8)
    # tampering flips the checksum
    tampered = back.withColumn(
        'text', F.when(F.col('doc_id') == 0, F.lit('x')).otherwise(F.col('text')))
    assert not verify_shards(tampered, manifest, n_shards=8)


def test_webdataset_roundtrip_and_determinism(spark, tmp_path, sf_dir):
    # tar-shard export: content round-trips, bytes are deterministic
    # across reruns, every shard lands in exactly one tar, and the
    # manifest counts match the content-hash assignment
    import hashlib

    from rbql_spark.ops.export import (
        read_webdataset, shard_assign, write_webdataset,
    )
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet')) \
                .select('doc_id', 'text', 'lang')
    path = os.path.join(str(tmp_path), 'wds')
    man = write_webdataset(docs, path, n_shards=4, meta_cols=['lang'])
    got = {r['shard']: r['n_samples'] for r in man.collect()}
    want = {r['shard']: r['n'] for r in
            shard_assign(docs, 4).groupBy('shard')
            .agg(F.count(F.lit(1)).alias('n')).collect()}
    assert got == want
    tars = sorted(f for f in os.listdir(path) if f.endswith('.tar'))
    assert tars == ['shard-{:05d}.tar'.format(s) for s in sorted(got)]

    back = read_webdataset(spark, path, with_meta=True)
    orig = {(str(r['doc_id']), r['text'] or '', r['lang'])
            for r in docs.collect()}
    import json as _json
    rt = {(r['doc_id'], r['text'],
           _json.loads(r['meta_json'])['lang']) for r in back.collect()}
    assert rt == orig

    def _sha(p):
        return hashlib.sha256(open(p, 'rb').read()).hexdigest()
    before = {t: _sha(os.path.join(path, t)) for t in tars}
    # rerun from a different physical partitioning → identical bytes
    write_webdataset(docs.repartition(7), path, n_shards=4,
                     meta_cols=['lang'])
    after = {t: _sha(os.path.join(path, t)) for t in tars}
    assert before == after


def test_webdataset_binary_column(spark, tmp_path):
    from rbql_spark.ops.export import read_webdataset, write_webdataset
    df = spark.createDataFrame(
        [(1, 'alpha', bytearray(b'\x00\x01\xff')),
         (2, 'beta', None)],
        'doc_id long, text string, payload binary')
    path = os.path.join(str(tmp_path), 'wdsb')
    man = write_webdataset(df, path, n_shards=1, binary_col='payload')
    assert [(r['shard'], r['n_samples']) for r in man.collect()] == [(0, 2)]
    back = {r['doc_id']: (r['text'], r['bin'])
            for r in read_webdataset(spark, path,
                                     with_binary=True).collect()}
    assert back['1'] == ('alpha', bytearray(b'\x00\x01\xff'))
    assert back['2'] == ('beta', None)


def test_lm_score_flags_gibberish(spark):
    from rbql_spark.ops.textstats import lm_score
    common = 'the cat sat on the mat and the dog sat on the rug'
    df = spark.createDataFrame(
        [(i, common) for i in range(10)] + [(99, 'zxqv wkjh qqpl mmzn')],
        'doc_id long, text string')
    rows = {r['doc_id']: r for r in lm_score(df).collect()}
    # in-domain docs score far lower (more probable) than the gibberish one
    assert rows[0]['avg_neg_logprob'] < rows[99]['avg_neg_logprob']
    assert rows[0]['n_scored_tokens'] == 13
    # scoring against a separate LM corpus: gibberish tokens are unseen
    lm = df.filter('doc_id < 10')
    scored = {r['doc_id']: r for r in lm_score(df, lm_corpus=lm).collect()}
    assert scored[99]['avg_neg_logprob'] > scored[0]['avg_neg_logprob']
    # broadcast and shuffle joins agree; round-11: broadcast_lm=None
    # measures the LM tables and falls back above broadcast_max_rows —
    # every path (auto-broadcast, auto-shuffle, explicit) agrees, at both
    # orders (order 2 gates on the larger bigram table too)
    a = sorted(tuple(r) for r in lm_score(df).collect())
    b = sorted(tuple(r) for r in lm_score(df, broadcast_lm=False).collect())
    c = sorted(tuple(r) for r in lm_score(df, broadcast_max_rows=0).collect())
    d = sorted(tuple(r) for r in lm_score(df, broadcast_lm=True).collect())
    assert a == b == c == d
    a2 = sorted(tuple(r) for r in lm_score(df, order=2).collect())
    b2 = sorted(tuple(r) for r in
                lm_score(df, order=2, broadcast_max_rows=0).collect())
    c2 = sorted(tuple(r) for r in
                lm_score(df, order=2, broadcast_lm=True).collect())
    assert a2 == b2 == c2


def test_lsh_multiprobe_boosts_recall_fewer_tables(spark, emb_df):
    from rbql_spark.ops.similarity import cosine_topk_bruteforce, lsh_ann_topk
    queries = emb_df.filter(F.col('vec_id') < 3) \
                    .select(F.col('vec_id').alias('query_id'), 'embedding')
    exact_sets = {}
    for r in cosine_topk_bruteforce(emb_df, queries, k=10).collect():
        exact_sets.setdefault(r['query_id'], set()).add(r['vec_id'])

    def recall(df):
        sets = {}
        for r in df.collect():
            sets.setdefault(r['query_id'], set()).add(r['vec_id'])
        return sum(len(exact_sets[q] & sets.get(q, set())) / len(exact_sets[q])
                   for q in exact_sets) / len(exact_sets)

    plain = recall(lsh_ann_topk(emb_df, queries, k=10, dim=64,
                                n_planes=6, n_tables=2))
    probed = recall(lsh_ann_topk(emb_df, queries, k=10, dim=64,
                                 n_planes=6, n_tables=2, multiprobe=4))
    # probing low-margin bit flips only ADDS candidate buckets
    assert probed >= plain


def test_ivf_pq_recall_and_determinism(spark, emb_df):
    from rbql_spark.ops.similarity import cosine_topk_bruteforce, ivf_pq_ann_topk
    queries = emb_df.filter(F.col('vec_id') < 3) \
                    .select(F.col('vec_id').alias('query_id'), 'embedding')
    exact_sets = {}
    for r in cosine_topk_bruteforce(emb_df, queries, k=10).collect():
        exact_sets.setdefault(r['query_id'], set()).add(r['vec_id'])
    approx = ivf_pq_ann_topk(emb_df, queries, k=10, n_cells=8, n_probe=4,
                             m=8, ks=16)
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r['query_id'], set()).add(r['vec_id'])
    recalls = []
    for qid, ex in exact_sets.items():
        ap = approx_sets.get(qid, set())
        # the query's own cell is always probed and its reconstruction
        # scores itself highly — the double approximation must still
        # surface the self-match through the exact rescore
        assert qid in ap
        recalls.append(len(ex & ap) / len(ex))
    # two stacked approximations (cell pruning + PQ ADC) on near-uniform
    # random vectors: a lower floor than either alone
    assert sum(recalls) / len(recalls) >= 0.2
    a = [tuple(r) for r in approx.collect()]
    b = [tuple(r) for r in ivf_pq_ann_topk(emb_df, queries, k=10, n_cells=8,
                                           n_probe=4, m=8, ks=16).collect()]
    assert a == b


def test_lm_score_bigram_order_sensitivity(spark):
    from rbql_spark.ops.textstats import lm_score
    # same word multiset, scrambled order: the unigram model cannot tell
    # them apart; the bigram model must score the in-order doc far better
    fluent = 'the cat sat on the mat ' * 5
    scrambled = 'mat the on sat cat the ' * 5
    df = spark.createDataFrame(
        [(i, fluent) for i in range(8)] + [(99, scrambled)],
        'doc_id long, text string')
    uni = {r['doc_id']: r['avg_neg_logprob'] for r in lm_score(df).collect()}
    bi = {r['doc_id']: r['avg_neg_logprob']
          for r in lm_score(df, order=2).collect()}
    assert abs(uni[0] - uni[99]) < 1e-6          # unigram: identical
    assert bi[99] > bi[0]                        # bigram: order matters
    # a one-token doc emits nothing at order 2
    one = spark.createDataFrame([(1, 'hello'), (2, 'a b')],
                                'doc_id long, text string')
    assert {r['doc_id'] for r in lm_score(one, order=2).collect()} == {2}


def test_quality_filter_null_text_fails_reliably(spark):
    # a NULL document must fail too_few_words (signals are computed over
    # coalesce(text, '')), not slide past NULL-valued rule conditions
    from rbql_spark.ops.textstats import quality_filter
    df = spark.createDataFrame(
        [(1, None), (2, 'the cat is in the house and that is fine today ok')],
        'doc_id long, text string')
    rows = {r['doc_id']: r for r in quality_filter(
        df, min_words=5, mean_word_len_range=(0.0, 99.0)).collect()}
    assert not rows[1]['keep'] and 'too_few_words' in rows[1]['reasons']
    assert rows[2]['keep']


def test_dedup_lines_literal_separator_with_metachars(spark):
    # '|' is a regex metachar: an unescaped separator would split on every
    # character; the op must treat line_sep literally
    from rbql_spark.ops.dedup import dedup_lines
    df = spark.createDataFrame([
        (1, 'all rights reserved|unique alpha line'),
        (2, 'all rights reserved|unique beta line'),
    ], 'doc_id long, text string')
    rows = {r['doc_id']: r for r in
            dedup_lines(df, min_count=2, line_sep='|').collect()}
    assert rows[1]['n_lines'] == 2 and rows[1]['n_removed'] == 1
    assert rows[1]['clean_text'] == 'unique alpha line'
    assert rows[2]['clean_text'] == 'unique beta line'


def test_temperature_sample_keeps_null_stratum_rows(spark):
    # NULL-stratum rows get a rate from the groupBy like any other stratum
    # and must reach the filter (null-safe join), not vanish
    from rbql_spark.ops.sampling import temperature_sample
    rows = [(i, 'en') for i in range(200)] + [(1000 + i, None) for i in range(5)]
    df = spark.createDataFrame(rows, 'doc_id long, lang string')
    out = temperature_sample(df, 'lang', alpha=1.0)  # alpha=1 → keep all
    assert out.count() == df.count()
    assert out.filter(F.col('lang').isNull()).count() == 5


def test_split_corpus_independent_of_sampling_hash(spark, sf_dir):
    # compose hash_sample(0.5) with split_corpus: the per-op salt keeps
    # split assignment independent of sampling survival (the unsalted
    # shared hash made every survivor land in 'train')
    from rbql_spark.ops.sampling import hash_sample, split_corpus
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    sampled = hash_sample(docs, 0.5)
    splits = {r['split'] for r in split_corpus(sampled).select('split').distinct().collect()}
    assert 'val' in splits and 'test' in splits


def test_pq_codebooks_empty_corpus_clear_error(spark):
    from rbql_spark.ops.similarity import pq_ann_topk
    empty = spark.createDataFrame([], 'vec_id long, embedding array<double>')
    q = spark.createDataFrame([(0, [0.0] * 64)],
                              'query_id long, embedding array<double>')
    with pytest.raises(ValueError, match='non-empty corpus'):
        pq_ann_topk(empty, q, k=5, m=8, ks=16)


def test_ivf_multi_assignment_recall_dominates(spark, emb_df):
    # n_assign=2 indexes each vector in its 2 nearest cells: the candidate
    # set is a strict superset of n_assign=1 per query, so recall vs the
    # exact answer can only improve (and candidate counts never shrink)
    from rbql_spark.ops.similarity import cosine_topk_bruteforce, ivf_ann_topk
    queries = emb_df.filter(F.col('vec_id') < 5) \
                    .select(F.col('vec_id').alias('query_id'), 'embedding')
    exact = cosine_topk_bruteforce(emb_df, queries, k=10)
    a1 = ivf_ann_topk(emb_df, queries, k=10, n_cells=8, n_probe=2, n_assign=1)
    a2 = ivf_ann_topk(emb_df, queries, k=10, n_cells=8, n_probe=2, n_assign=2)

    def recall(approx):
        ex = {}
        for r in exact.collect():
            ex.setdefault(r['query_id'], set()).add(r['vec_id'])
        ap = {}
        for r in approx.collect():
            ap.setdefault(r['query_id'], set()).add(r['vec_id'])
        per_q = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex]
        return sum(per_q) / len(per_q)

    r1, r2 = recall(a1), recall(a2)
    assert r2 >= r1
    # deterministic across reruns
    assert sorted(map(tuple, a2.collect())) == \
        sorted(map(tuple, ivf_ann_topk(emb_df, queries, k=10, n_cells=8,
                                       n_probe=2, n_assign=2).collect()))


def test_pq_kmeans_codebooks_dominate_hash(spark, emb_df):
    # the kmeans trainer initializes from exactly the hash-selected
    # vectors and Lloyd monotonically decreases quantization error, so on
    # a corpus within the training-sample bound the kmeans codebooks must
    # quantize at least as well — and the better shortlist should carry
    # through to recall vs the exact answer
    import numpy as np

    from rbql_spark.ops.similarity import (
        _pq_codebooks, _pq_codebooks_kmeans, cosine_topk_bruteforce, pq_ann_topk,
    )
    from pyspark.sql import functions as F  # noqa: F811
    as_double = lambda col: F.transform(col, lambda x: x.cast('double'))  # noqa: E731
    c = emb_df.select(F.col('vec_id').alias('vec_id'),
                      as_double(F.col('embedding')).alias('__cv'))
    hash_books = _pq_codebooks(c, 8, 16, 42)
    km_books = _pq_codebooks_kmeans(c, 8, 16, 42)
    X = np.asarray([[float(x) for x in r['__cv']] for r in c.collect()])
    s = X.shape[1] // 8

    def qerr(books):
        total = 0.0
        for j in range(8):
            D = X[:, j * s:(j + 1) * s]
            cb = np.asarray(books[j])
            d2 = ((D[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            total += d2.min(axis=1).mean()
        return total

    assert qerr(km_books) <= qerr(hash_books)

    queries = emb_df.filter(F.col('vec_id') < 5) \
                    .select(F.col('vec_id').alias('query_id'), 'embedding')
    exact = {}
    for r in cosine_topk_bruteforce(emb_df, queries, k=10).collect():
        exact.setdefault(r['query_id'], set()).add(r['vec_id'])

    def recall(quantizer):
        ap = {}
        res = pq_ann_topk(emb_df, queries, k=10, m=8, ks=16,
                          quantizer=quantizer)
        for r in res.collect():
            ap.setdefault(r['query_id'], set()).add(r['vec_id'])
        per_q = [len(exact[q] & ap.get(q, set())) / len(exact[q]) for q in exact]
        return sum(per_q) / len(per_q)

    assert recall('kmeans') >= recall('hash')


def test_shuffle_corpus_deterministic_permutation(spark, sf_dir):
    import os

    from rbql_spark.ops.sampling import shuffle_corpus
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    a = {r['doc_id']: r['shuffle_pos'] for r in shuffle_corpus(docs).collect()}
    # dense 0..n-1 permutation
    assert sorted(a.values()) == list(range(len(a)))
    # rerun-stable AND partitioning-invariant (content-keyed, not rand())
    b = {r['doc_id']: r['shuffle_pos']
         for r in shuffle_corpus(docs.repartition(7)).collect()}
    assert a == b
    # a different seed is a different permutation
    c = {r['doc_id']: r['shuffle_pos']
         for r in shuffle_corpus(docs, seed=7).collect()}
    assert a != c
    # and it is a real shuffle, not id order
    n = len(a)
    in_place = sum(1 for i, (d, p) in enumerate(sorted(a.items())) if i == p)
    assert in_place < n * 0.1


def test_mix_corpora_proportions_and_anchor(spark, sf_dir):
    import os

    from pyspark.sql import functions as F

    from rbql_spark.ops.sampling import mix_corpora
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    srcs = [docs.filter(F.col('doc_id') % 3 == i) for i in range(3)]
    sizes = [s.count() for s in srcs]
    out = mix_corpora(srcs, [0.6, 0.3, 0.1])
    counts = {r['mix_source']: r['cnt'] for r in
              out.groupBy('mix_source').agg(F.count('*').alias('cnt')).collect()}
    # the anchor source (largest weight/size ratio) keeps every row
    ratios = [w / n for w, n in zip([0.6, 0.3, 0.1], sizes)]
    anchor = ratios.index(max(ratios))
    assert counts[anchor] == sizes[anchor]
    # realized shares approximate the weights (hash Bernoulli tolerance)
    total = sum(counts.values())
    for i, w in enumerate([0.6, 0.3, 0.1]):
        assert abs(counts[i] / total - w) < 0.08, (i, counts, total)
    # no source is ever upsampled
    for i in range(3):
        assert counts[i] <= sizes[i]
    # schema: original columns + provenance tag
    assert set(out.columns) == set(docs.columns) | {'mix_source'}


def test_mix_corpora_token_budget(spark):
    from pyspark.sql import functions as F

    from rbql_spark.ops.sampling import _hash_unit, mix_corpora
    # source 0: few long docs (10 × 100 tokens); source 1: many short
    # docs (100 × 1 token) — a 50/50 ROW mix keeps all of source 0, but
    # a 50/50 TOKEN mix must downsample its dominant token mass
    long_docs = [(i, ' '.join('tok{}'.format(j) for j in range(100)))
                 for i in range(10)]
    short_docs = [(100 + i, 'word') for i in range(100)]
    a = spark.createDataFrame(long_docs, 'doc_id long, text string')
    b = spark.createDataFrame(short_docs, 'doc_id long, text string')
    out = mix_corpora([a, b], [0.5, 0.5], by='tokens')
    rows = out.collect()
    kept0 = {r['doc_id'] for r in rows if r['mix_source'] == 0}
    kept1 = {r['doc_id'] for r in rows if r['mix_source'] == 1}
    # anchor by token ratio: 0.5/1000 vs 0.5/100 → source 1 keeps all
    assert kept1 == {r[0] for r in short_docs}
    # source 0 keeps the hash-Bernoulli 10% of its docs — exactly the
    # ids whose mix-salted hash unit clears the keep rate
    keep_rate = (0.5 / 1000.0) / (0.5 / 100.0)
    expect0 = {r['doc_id'] for r in a.select(
        'doc_id', _hash_unit(F.col('doc_id'), 42, op='mix0').alias('u'))
        .collect() if r['u'] < keep_rate}
    assert kept0 == expect0 and len(kept0) < 10
    # token_col shortcut agrees with in-scan counting
    a2 = a.withColumn('n_tok', F.lit(100))
    b2 = b.withColumn('n_tok', F.lit(1))
    out2 = mix_corpora([a2, b2], [0.5, 0.5], by='tokens', token_col='n_tok')
    assert {(r['doc_id'], r['mix_source']) for r in out2.collect()} == \
        {(r['doc_id'], r['mix_source']) for r in rows}
    with pytest.raises(ValueError, match="'rows' or 'tokens'"):
        mix_corpora([a, b], [0.5, 0.5], by='chars')


def test_embed_hashing_feeds_similarity_stack(spark):
    # text -> model-free hashed embeddings -> the ANN stack: an exact
    # duplicate document is its twin's nearest neighbor at cosine 1.0
    from pyspark.sql import functions as F

    from rbql_spark.ops.similarity import cosine_topk_bruteforce
    from rbql_spark.ops.textstats import embed_hashing
    rows = [
        (1, 'the quick brown fox jumps over the lazy dog'),
        (2, 'the quick brown fox jumps over the lazy dog'),
        (3, 'entirely unrelated text about spark query planning'),
        (4, None),
    ]
    docs = spark.createDataFrame(rows, 'doc_id long, text string')
    emb = embed_hashing(docs, dim=32).withColumnRenamed('doc_id', 'vec_id')
    q = emb.filter(F.col('vec_id') == 1) \
           .select(F.col('vec_id').alias('query_id'), 'embedding')
    top = cosine_topk_bruteforce(emb, q, k=2).collect()
    # self first, exact duplicate second, both at 1.0
    assert [(r['vec_id'], r['cosine_sim']) for r in top] == [(1, 1.0), (2, 1.0)]
    # the NULL doc embeds as the zero vector and scores -1.0 (guard), last
    all4 = cosine_topk_bruteforce(emb, q, k=4).collect()
    assert all4[-1]['vec_id'] == 4 and all4[-1]['cosine_sim'] == -1.0


def test_dedup_spans_planted(spark):
    from pyspark.sql import functions as F  # noqa: F811

    from rbql_spark.ops.dedup import dedup_spans
    boiler = 'the quick brown fox jumps'          # 5 tokens, planted twice
    rows = [
        (1, 'alpha beta ' + boiler + ' gamma delta unique one here'),
        (2, 'totally different start ' + boiler + ' and another tail'),
        (3, 'no shared phrases in this document at all whatsoever'),
        (4, 'short doc'),                         # < k tokens: no windows
        (5, None),                                # NULL text
        (6, boiler + ' ' + boiler),               # internal repetition
    ]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {r['doc_id']: r for r in dedup_spans(df, k=5).collect()}
    assert len(got) == 6
    # the planted boilerplate marks exactly its 5-token span in docs 1+2
    assert got[1]['n_dup_windows'] == 1
    assert abs(got[1]['dup_token_frac'] - 5 / got[1]['n_tokens']) < 1e-6
    assert got[2]['n_dup_windows'] == 1
    # doc 3 shares nothing
    assert got[3]['n_dup_windows'] == 0 and got[3]['dup_token_frac'] == 0.0
    # sub-k docs have no windows and zero frac
    assert got[4]['n_windows'] == 0 and got[4]['dup_token_frac'] == 0.0
    assert got[5]['n_tokens'] == 0 and got[5]['dup_token_frac'] == 0.0
    # internal repetition: doc 6 is 10 tokens of doubled boilerplate —
    # every window of the repeated phrase is duplicated somewhere
    assert got[6]['n_dup_windows'] >= 2
    assert got[6]['dup_token_frac'] > 0.5


def test_dedup_spans_coverage_merges_overlaps(spark):
    # overlapping duplicated windows must count shared positions once
    from rbql_spark.ops.dedup import dedup_spans
    phrase = 'one two three four five six'        # 6 tokens -> 2 windows of 5
    # suffixes diverge IMMEDIATELY after the phrase so no extra window
    # (e.g. 'three four five six ending') duplicates by accident
    rows = [(1, phrase + ' alpha tail x'), (2, phrase + ' beta coda y')]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {r['doc_id']: r for r in dedup_spans(df, k=5).collect()}
    # 2 dup windows cover positions 0..5 = 6 distinct tokens, not 10
    assert got[1]['n_dup_windows'] == 2
    assert abs(got[1]['dup_token_frac'] - 6 / got[1]['n_tokens']) < 1e-6


def test_dedup_spans_auto_broadcast_fallback(spark):
    # round-10 advisor fix: broadcast_frequent=None measures the
    # frequent set and falls back to a shuffle join above
    # broadcast_max_rows — values must be identical on every path
    from rbql_spark.ops.dedup import dedup_spans
    boiler = 'the quick brown fox jumps'
    rows = [(1, 'alpha beta ' + boiler + ' gamma delta unique one here'),
            (2, 'totally different start ' + boiler + ' and a tail'),
            (3, 'no shared phrases in this document at all whatsoever')]
    df = spark.createDataFrame(rows, 'doc_id long, text string')

    def snap(**kw):
        return sorted(tuple(r) for r in dedup_spans(df, k=5, **kw).collect())

    auto_bc = snap()                                    # auto → broadcast
    forced_shuffle = snap(broadcast_max_rows=0)         # auto → shuffle
    explicit = snap(broadcast_frequent=False)
    assert auto_bc == forced_shuffle == explicit
    # broadcast_frequent=False really drops the FORCED broadcast hint
    # (Spark may still pick broadcast from size stats — the fix is
    # about never forcing it on an unbounded frequent set)
    def analyzed(**kw):
        return dedup_spans(df, k=5, **kw) \
            ._jdf.queryExecution().analyzed().toString()
    assert 'ResolvedHint' not in analyzed(broadcast_frequent=False)
    assert 'ResolvedHint' in analyzed(broadcast_frequent=True)


def test_dedup_lines_auto_broadcast_fallback(spark):
    # round-11: dedup_lines adopts dedup_spans' measured-broadcast default
    # (broadcast_frequent=None) — the frequent-line set of a
    # boilerplate-heavy corpus is unbounded, so it is persisted, counted,
    # and broadcast only when small; every path must agree on values
    from rbql_spark.ops.dedup import dedup_lines
    boiler = 'all rights reserved'
    rows = [(1, 'alpha beta\n' + boiler + '\nunique line one'),
            (2, 'gamma delta\n' + boiler + '\nanother unique line'),
            (3, 'totally distinct\ncontent here\nno shared lines')]
    df = spark.createDataFrame(rows, 'doc_id long, text string')

    def snap(**kw):
        return sorted(tuple(r) for r in dedup_lines(df, **kw).collect())

    auto_bc = snap()                                    # auto → broadcast
    forced_shuffle = snap(broadcast_max_rows=0)         # auto → shuffle
    explicit = snap(broadcast_frequent=False)
    assert auto_bc == forced_shuffle == explicit
    # the boilerplate line was removed everywhere, uniques kept
    by_id = {r[0]: r for r in auto_bc}
    assert by_id[1][3] == 1 and boiler not in by_id[1][1]
    assert by_id[3][3] == 0

    def analyzed(**kw):
        return dedup_lines(df, **kw) \
            ._jdf.queryExecution().analyzed().toString()
    assert 'ResolvedHint' not in analyzed(broadcast_frequent=False)
    assert 'ResolvedHint' in analyzed(broadcast_frequent=True)


def test_bm25_score_ranking_and_plan(spark):
    import pytest

    from rbql_spark.ops.textstats import bm25_score
    rows = [
        (1, 'spark spark spark shuffle'),        # high tf for 'spark'
        (2, 'spark appears once in this much longer document about '
            'completely different topics entirely unrelated to engines'),
        (3, 'nothing relevant here at all'),
        (4, 'rare unique spark'),                # short doc, one hit
    ]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    res = bm25_score(df, ['spark', 'rare'], top_k=10)
    got = {r['doc_id']: (r['bm25'], r['rank']) for r in res.collect()}
    # doc 3 matches nothing: never materialized
    assert 3 not in got
    # doc 4 hits the rarest term AND is short: it must outrank doc 2's
    # single 'spark' in a long doc
    assert got[4][0] > got[2][0]
    # tf saturation still rewards doc 1's repetition over doc 2
    assert got[1][0] > got[2][0]
    # ranks are dense over the rounded-score DESC, doc_id ASC order
    by_rank = sorted(got.values(), key=lambda v: v[1])
    assert [v[1] for v in by_rank] == list(range(1, len(got) + 1))
    assert all(a[0] >= b[0] for a, b in zip(by_rank, by_rank[1:]))
    # top-k caps through TakeOrderedAndProject, not a global sort
    plan = bm25_score(df, ['spark'], top_k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert 'TakeOrderedAndProject' in plan
    with pytest.raises(ValueError):
        bm25_score(df, [])


def test_exact_dedup_incremental(spark):
    from rbql_spark.ops.dedup import exact_dedup, exact_dedup_incremental
    seen = spark.createDataFrame(
        [(1, 'already indexed text'), (2, 'another known document')],
        'doc_id long, text string')
    index = exact_dedup(seen, 'text', 'doc_id', hash_fn='md5')
    batch = spark.createDataFrame(
        [(10, 'Already   indexed TEXT  '),   # normalizes to an indexed dup
         (11, 'fresh document'),
         (12, 'fresh document'),             # in-batch dup: min id wins
         (13, 'brand new content')],
        'doc_id long, text string')
    for mode in (None, False, True):
        got = {r['doc_id'] for r in exact_dedup_incremental(
            batch, index, hash_fn='md5', broadcast_index=mode).collect()}
        assert got == {11, 13}, mode
    # advancing the index: survivors' digests join the stored set
    out = exact_dedup_incremental(batch, index, hash_fn='md5')
    advanced = index.select('text_hash').unionByName(
        out.select('text_hash')).distinct()
    again = exact_dedup_incremental(batch, advanced, hash_fn='md5')
    assert again.count() == 0
    # the xxhash64 default matches exact_dedup's default digest type
    idx64 = exact_dedup(seen, 'text', 'doc_id')
    got64 = {r['doc_id'] for r in
             exact_dedup_incremental(batch, idx64).collect()}
    assert got64 == {11, 13}
    # digest-type mismatch is a loud error, never a silent full miss
    import pytest
    with pytest.raises(ValueError, match='text_hash is'):
        exact_dedup_incremental(batch, index)           # md5 idx, xx default
    with pytest.raises(ValueError, match='text_hash is'):
        exact_dedup_incremental(batch, idx64, hash_fn='md5')


def test_exact_dedup_null_text_semantics_hash_fn_invariant(spark):
    # NULL text must behave IDENTICALLY under md5 and xxhash64: one
    # NULL-digest group within a frame, never reported 'seen' across an
    # index (xxhash64(NULL) used to hash to its seed constant, so
    # NULL-text batch docs collided with indexed NULL-text docs under
    # xxhash64 while always surviving under md5)
    from rbql_spark.ops.dedup import exact_dedup, exact_dedup_incremental
    seen = spark.createDataFrame(
        [(1, 'real doc'), (2, None)], 'doc_id long, text string')
    batch = spark.createDataFrame(
        [(10, None), (11, None), (12, 'new doc')],
        'doc_id long, text string')
    for hash_fn in ('md5', 'xxhash64'):
        index = exact_dedup(seen, 'text', 'doc_id', hash_fn=hash_fn)
        by_keep = {r['keep_id']: (r['text_hash'], r['dup_count'])
                   for r in index.collect()}
        # the NULL-text doc forms its own group with a NULL digest
        assert by_keep[2][0] is None and by_keep[2][1] == 1, hash_fn
        assert by_keep[1][0] is not None, hash_fn
        out = exact_dedup_incremental(batch, index, hash_fn=hash_fn)
        rows = {r['doc_id']: r['text_hash'] for r in out.collect()}
        # in-batch NULLs collapse to min id; the indexed NULL never
        # marks them seen; the real new doc survives too
        assert set(rows) == {10, 12}, hash_fn
        assert rows[10] is None and rows[12] is not None, hash_fn


def test_readability_hand_computed(spark):
    from rbql_spark.ops.textstats import readability
    df = spark.createDataFrame(
        [(1, 'The cat sat. The dog ran!'),
         (2, 'no terminator here'),
         (3, ''), (4, None), (5, 'zzz qqq')],
        'doc_id long, text string')
    got = {r['doc_id']: r for r in readability(df).collect()}
    r1 = got[1]
    # 6 words, 2 sentences, 6 one-syllable words
    assert (r1['n_sentences'], r1['n_words'], r1['n_syllables']) == (2, 6, 6)
    import math
    exp = 206.835 - 1.015 * 6 / 2 - 84.6 * 6 / 6
    assert r1['flesch'] == math.floor(exp * 10000 + 0.5) / 10000
    # wordful text without a terminator counts as one sentence
    assert got[2]['n_sentences'] == 1 and got[2]['n_words'] == 3
    # empty/NULL text: zero counts, NULL flesch
    for d in (3, 4):
        assert (got[d]['n_sentences'], got[d]['n_words'],
                got[d]['n_syllables']) == (0, 0, 0)
        assert got[d]['flesch'] is None
    # vowelless words clamp to 1 syllable each
    assert got[5]['n_syllables'] == 2


def test_readability_plan_stateless(spark, sf_dir):
    import os

    from rbql_spark.ops.textstats import readability
    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))
    plan = readability(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert 'Exchange hashpartitioning' not in plan
    assert 'rangepartitioning' not in plan.lower()
    assert 'BatchEvalPython' not in plan and 'mapInPandas' not in plan


def test_bm25_score_queries_matches_single(spark):
    # per-query parity with the single-query operator, plus multi-query
    # isolation (each query scored against its own terms only)
    from rbql_spark.ops.textstats import bm25_score, bm25_score_queries
    rows = [
        (1, 'spark spark spark shuffle'),
        (2, 'spark appears once in this much longer document about '
            'completely different topics entirely unrelated to engines'),
        (3, 'nothing relevant here at all'),
        (4, 'rare unique spark'),
    ]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    qs = spark.createDataFrame(
        [('a', 'spark rare'), ('b', 'shuffle'), ('c', '')],
        'query_id string, text string')
    got = bm25_score_queries(df, qs, top_k=10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r['query_id'], {})[r['doc_id']] = \
            (r['bm25'], r['rank'])
    single_a = {r['doc_id']: (r['bm25'], r['rank'])
                for r in bm25_score(df, ['spark', 'rare'], top_k=10).collect()}
    single_b = {r['doc_id']: (r['bm25'], r['rank'])
                for r in bm25_score(df, ['shuffle'], top_k=10).collect()}
    assert by_q['a'] == single_a
    assert by_q['b'] == single_b
    assert 'c' not in by_q             # tokenless query returns no rows
    plan = bm25_score_queries(df, qs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert 'BatchEvalPython' not in plan and 'mapInPandas' not in plan


def test_topk_per_group_matches_naive_window(spark):
    import pytest
    from pyspark.sql import Window

    from rbql_spark.ops.skew import topk_per_group
    rows = [(i, i % 3, (i * 37) % 101) for i in range(200)]
    df = spark.createDataFrame(rows, 'id long, g int, v int')
    order = [F.col('v').asc(), F.col('id').asc()]
    got = {(r['g'], r['id'], r['rank']) for r in
           topk_per_group(df, 7, ['g'], order,
                          salt_key=F.col('id'), salt_buckets=5).collect()}
    w = Window.partitionBy('g').orderBy(*order)
    want = {(r['g'], r['id'], r['rank']) for r in
            df.withColumn('rank', F.row_number().over(w))
              .where('rank <= 7').collect()}
    assert got == want
    with pytest.raises(ValueError):
        topk_per_group(df, 0, ['g'], order, salt_key=F.col('id'))
    with pytest.raises(ValueError):
        topk_per_group(df, 5, ['g'], order, salt_key=None)


def test_rrf_fuse_scores_and_membership(spark):
    import pytest

    from rbql_spark.ops.textstats import rrf_fuse
    lex = spark.createDataFrame([(10, 1), (20, 2), (30, 3)],
                                'doc_id long, rank int')
    sem = spark.createDataFrame([(20, 1), (40, 2), (10, 3)],
                                'doc_id long, rank int')
    out = {r['doc_id']: r for r in rrf_fuse([lex, sem], k=60).collect()}
    # doc 20: 1/62 + 1/61; doc 10: 1/61 + 1/63; singles: 30 -> 1/63,
    # 40 -> 1/62
    assert out[20]['rrf_score'] == round(1 / 62 + 1 / 61, 6)
    assert out[10]['rrf_score'] == round(1 / 61 + 1 / 63, 6)
    assert out[30]['rrf_score'] == round(1 / 63, 6)
    assert {d: r['n_lists'] for d, r in out.items()} == \
        {10: 2, 20: 2, 30: 1, 40: 1}
    # both-list docs outrank single-list docs; rank order is score DESC
    ranks = {d: r['rank'] for d, r in out.items()}
    assert ranks[20] == 1 and ranks[10] == 2
    assert ranks[40] == 3 and ranks[30] == 4
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_rrf_fuse_grouped_matches_per_group(spark):
    # per-group fusion equals running the ungrouped fuse on each group's
    # slice independently
    from rbql_spark.ops.textstats import rrf_fuse
    lex = spark.createDataFrame(
        [('a', 10, 1), ('a', 20, 2), ('b', 30, 1), ('b', 10, 2)],
        'query_id string, doc_id long, rank int')
    sem = spark.createDataFrame(
        [('a', 20, 1), ('a', 40, 2), ('b', 10, 1)],
        'query_id string, doc_id long, rank int')
    out = rrf_fuse([lex, sem], k=60, group_cols=['query_id']).collect()
    got = {(r['query_id'], r['doc_id']): (r['rrf_score'], r['n_lists'],
                                          r['rank']) for r in out}
    want = {}
    for qid in ('a', 'b'):
        sub = rrf_fuse([lex.where(F.col('query_id') == qid),
                        sem.where(F.col('query_id') == qid)], k=60).collect()
        for r in sub:
            want[(qid, r['doc_id'])] = (r['rrf_score'], r['n_lists'],
                                        r['rank'])
    assert got == want
    assert got[('b', 10)][1] == 2      # doc in both of b's lists


def test_rrf_fuse_top_k_and_tiebreak(spark):
    from rbql_spark.ops.textstats import rrf_fuse
    # identical ranks -> identical scores; ties break on doc_id ASC and
    # top_k cuts deterministically
    a = spark.createDataFrame([(i, 1) for i in [5, 3, 9]],
                              'doc_id long, rank int')
    out = rrf_fuse([a], k=60, top_k=2).collect()
    assert [(r['doc_id'], r['rank']) for r in
            sorted(out, key=lambda r: r['rank'])] == [(3, 1), (5, 2)]


def test_kmeans_cluster_nearest_centroid_and_plan(spark, emb_df):
    # every row's reported sim is the max over ALL centroids (true
    # nearest-centroid assignment), inline and arrow strategies agree,
    # and the output plan is shuffle-free (assignment is a pure scan)
    from rbql_spark.ops.cluster import kmeans_cluster
    base = emb_df.select('vec_id', 'embedding')
    out = kmeans_cluster(base, k=4, n_iter=2)
    rows = out.collect()
    assert len(rows) == base.count()
    assert {r['cluster_id'] for r in rows} <= set(range(4))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert 'Exchange' not in plan      # one scan, no shuffle
    arrow = kmeans_cluster(base, k=4, n_iter=2, centroid_strategy='arrow')
    a = {(r['vec_id'], r['cluster_id'], round(r['centroid_sim'], 6))
         for r in rows}
    b = {(r['vec_id'], r['cluster_id'], round(r['centroid_sim'], 6))
         for r in arrow.collect()}
    assert a == b


def test_kmeans_iter_impls_identical(spark, emb_df):
    # r16: the numpy per-task partial-stats kernel must drive the SAME
    # Lloyd trajectory as the inline-argmax + posexplode aggregation
    # (assignment parity + round-6 centroid grid)
    from rbql_spark.ops.cluster import kmeans_cluster
    base = emb_df.select('vec_id', 'embedding')
    key = lambda d: sorted(  # noqa: E731
        (r['vec_id'], r['cluster_id'], round(r['centroid_sim'], 12))
        for r in d.collect())
    assert key(kmeans_cluster(base, k=4, n_iter=3, iter_impl='arrow')) \
        == key(kmeans_cluster(base, k=4, n_iter=3, iter_impl='native'))


def test_kmeans_cluster_ml_quantizer(spark, emb_df):
    from rbql_spark.ops.cluster import kmeans_cluster
    base = emb_df.select('vec_id', 'embedding').limit(100)
    out = kmeans_cluster(base, k=3, n_iter=5, quantizer='kmeans')
    assert out.count() == 100
    assert out.select('cluster_id').distinct().count() <= 3
    with pytest.raises(ValueError):
        kmeans_cluster(base, k=3, quantizer='nope')


def test_prototype_prune_keep_modes(spark, emb_df):
    # hard + easy partitions cover each cluster's ceil/floor split;
    # per-cluster kept count == ceil(0.5 × size); exactly one hash
    # Exchange (cluster_id) and no ordering Exchange in the plan
    import math

    from rbql_spark.ops.cluster import kmeans_cluster, prototype_prune
    base = emb_df.select('vec_id', 'embedding')
    sizes = {r['cluster_id']: r['n'] for r in
             kmeans_cluster(base, k=4, n_iter=2)
             .groupBy('cluster_id').agg(F.count(F.lit(1)).alias('n'))
             .collect()}
    hard = prototype_prune(base, k=4, keep_frac=0.5, n_iter=2, keep='hard')
    kept = {r['cluster_id']: r['n'] for r in
            hard.groupBy('cluster_id').agg(F.count(F.lit(1)).alias('n'))
                .collect()}
    assert kept == {c: math.ceil(n * 0.5) for c, n in sizes.items()}
    plan = hard._jdf.queryExecution().executedPlan().toString()
    assert plan.count('Exchange hashpartitioning') == 1
    assert 'rangepartitioning' not in plan.lower()
    easy = prototype_prune(base, k=4, keep_frac=0.5, n_iter=2, keep='easy')
    h = {r['vec_id'] for r in hard.collect()}
    e = {r['vec_id'] for r in easy.collect()}
    n_all = base.count()
    # ceil on both sides → overlap only at per-cluster sim midpoints;
    # together they must cover everything
    assert len(h | e) == n_all
    with pytest.raises(ValueError):
        prototype_prune(base, keep='middling')
    with pytest.raises(ValueError):
        prototype_prune(base, keep_frac=0.0)


def test_semantic_dedup_removes_embedding_near_dups(spark, emb_df):
    # SemDeDup composition: planted scaled copies (cosine 1.0 with their
    # originals) must vanish; min-id representatives and unclustered rows
    # survive untouched
    from rbql_spark.ops.similarity import semantic_dedup
    base = emb_df.select('vec_id', 'embedding')
    planted = base.filter(F.col('vec_id') < 5).select(
        (F.col('vec_id') + 1000).alias('vec_id'),
        F.transform('embedding', lambda x: x * F.lit(2.0)).alias('embedding'))
    corpus = base.unionByName(planted)
    kept = {r['vec_id'] for r in
            semantic_dedup(corpus, threshold=0.95, dim=64).select('vec_id').collect()}
    originals = {r['vec_id'] for r in base.select('vec_id').collect()}
    assert kept == originals          # copies removed, nothing else
    # idempotent: a second pass removes nothing
    kept2 = semantic_dedup(base, threshold=0.95, dim=64)
    assert kept2.count() == len(originals)


def test_epoch_repeat_schedule(spark):
    from pyspark.sql import functions as F

    from rbql_spark.ops.sampling import _hash_unit, epoch_repeat, hash_sample
    docs = spark.createDataFrame([(i, 'text {}'.format(i)) for i in range(40)],
                                 'doc_id long, text string')
    out = epoch_repeat(docs, 2.5)
    counts = {r['epoch']: r['cnt'] for r in
              out.groupBy('epoch').agg(F.count('*').alias('cnt')).collect()}
    assert counts[0] == 40 and counts[1] == 40
    # partial pass: exactly the ':epoch2'-salted hash cut
    expect = {r['doc_id'] for r in docs.select(
        'doc_id', _hash_unit(F.col('doc_id'), 42, op='epoch2').alias('u'))
        .collect() if r['u'] < 0.5}
    got = {r['doc_id'] for r in out.where('epoch = 2').collect()}
    assert got == expect and 0 < counts[2] < 40
    # sub-epoch degenerates to a tagged hash sample (different salt than
    # the plain sampler: epoch0 vs the default)
    sub = epoch_repeat(docs, 0.25)
    assert {r['epoch'] for r in sub.collect()} == {0}
    assert sub.count() < 40
    # integral epochs have no partial pass
    assert epoch_repeat(docs, 2.0).groupBy('epoch').count().count() == 2
    import pytest as _pytest
    with _pytest.raises(ValueError, match='positive'):
        epoch_repeat(docs, 0)


def test_c4_line_filter_rules_and_rows_mode(spark):
    from rbql_spark.ops.textstats import c4_line_filter
    rows = [
        (1, 'This is a good long sentence with many words here.\nshort\n'
            'Another proper sentence with enough words right here.\n'
            'And a third full sentence to pass the minimum bar.'),
        (2, 'Contains lorem ipsum in a long enough sentence here.\n'
            'Second proper sentence with plenty of words here.\n'
            'Third proper sentence with plenty of words here.'),
        (3, 'code { block } in a sentence with enough words.\n'
            'Another fine sentence with plenty of words here.\n'
            'Third fine sentence with plenty of words here.'),
        (4, None),
        (5, 'Enable javascript to view this page with all words.\n'
            'A real sentence with more than five words in it.\n'
            'B real sentence with more than five words in it.\n'
            'C real sentence with more than five words in it.'),
    ]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {r['doc_id']: r for r in c4_line_filter(df).collect()}
    assert got[1]['keep'] and got[1]['n_lines'] == 4 and got[1]['n_kept'] == 3
    assert 'short' not in got[1]['clean_text']
    assert not got[2]['keep'] and got[2]['clean_text'] is None  # lorem ipsum
    assert not got[3]['keep']                                   # '{'
    assert not got[4]['keep'] and got[4]['n_kept'] == 0         # NULL text
    assert got[5]['keep'] and got[5]['n_kept'] == 3             # js line cut
    assert 'javascript' not in got[5]['clean_text']
    # rows mode: original columns, text replaced by the cleaned text
    kept = c4_line_filter(df, output='rows').collect()
    assert {r['doc_id'] for r in kept} == {1, 5}
    assert all('javascript' not in r['text'] for r in kept)
    import pytest
    with pytest.raises(ValueError, match='output'):
        c4_line_filter(df, output='nope')
    # scale shape: pure per-document projection — no Exchange at all
    plan = c4_line_filter(df)._jdf.queryExecution().executedPlan().toString()
    assert 'Exchange' not in plan


def test_gopher_quality_filter_rules(spark):
    from rbql_spark.ops.textstats import gopher_quality_filter
    rows = [
        (1, 'the cat and the dog have fun with that ball of yarn to be'),
        (2, '# # # # tag tag the end'),                      # symbol ratio
        (3, '- one thing here now\n- two thing here now\n'
            '- three thing here now\n- four thing here now\n'
            '- five thing here now\n- six thing here now\n'
            '- seven thing here now\n- eight thing here now\n'
            '- nine thing here now\n- ten thing here now\n'
            'the end of it'),                                # >90% bullets
        (4, 'words trailing off...\nmore trailing...\nagain dots...\n'
            'the of and to be that have with'),              # ellipsis lines
        (5, '12345 67890 11111 22222 33333 the of'),         # alpha ratio
        (6, 'zzz qqq xxx www yyy vvv mmm nnn'),              # no required
    ]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {r['doc_id']: r for r in gopher_quality_filter(df).collect()}
    assert got[1]['keep'] and got[1]['reasons'] == ''
    assert 'symbol_word_ratio' in got[2]['reasons']
    assert 'bullet_lines' in got[3]['reasons']
    assert 'ellipsis_lines' in got[4]['reasons']
    assert 'alpha_words' in got[5]['reasons']
    assert 'required_words' in got[6]['reasons']
    # rows mode + plan shape
    kept = gopher_quality_filter(df, output='rows').collect()
    assert {r['doc_id'] for r in kept} == {1}
    plan = gopher_quality_filter(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert 'Exchange' not in plan


def test_pack_sequences_over_bpe_id_counts(spark):
    # the tokenizer tail composes: encode_bpe_ids' n_tokens drives the
    # packing budget via count_col (no re-tokenization of text)
    from rbql_spark.ops.bpe import apply_bpe, bpe_vocab, encode_bpe_ids
    from rbql_spark.ops.sampling import pack_sequences
    docs = spark.createDataFrame(
        [(i, 'the cat and the hat sat ' * (i % 3 + 1)) for i in range(1, 9)],
        'doc_id long, text string')
    enc = apply_bpe(docs, [('t', 'h'), ('th', 'e'), ('a', 'n')])
    ids = encode_bpe_ids(enc, bpe_vocab(enc))
    packed = pack_sequences(ids, max_tokens=40, n_buckets=2,
                            count_col='n_tokens').collect()
    want = {r['doc_id']: r['n_tokens'] for r in ids.collect()}
    assert {r['doc_id']: r['n_tokens'] for r in packed} == want
    # bin budgets hold over the BPE counts
    bins = {}
    for r in packed:
        bins.setdefault((r['bucket'], r['bin_id']), []).append(r['n_tokens'])
    for (b, _), sizes in bins.items():
        assert sum(sizes) <= 40 or len(sizes) == 1


def test_contamination_report_per_bench_summary(spark):
    from rbql_spark.ops.dedup import contamination_report, decontaminate
    train = spark.createDataFrame(
        [(1, 'alpha beta gamma delta epsilon zeta'),
         (2, 'alpha beta gamma delta other words here'),
         (3, 'completely different text with no overlap at all')],
        'doc_id long, text string')
    bench = spark.createDataFrame(
        [(100, 'alpha beta gamma delta epsilon'),     # leaks from 1 and 2
         (101, 'nothing matches this benchmark item')],
        'doc_id long, text string')
    rep = {r['bench_id']: r for r in
           contamination_report(train, bench, shingle_k=3,
                                min_overlap=2).collect()}
    assert set(rep) == {100, 101}                      # zero rows kept
    assert rep[100]['n_contaminating_docs'] == 2
    assert rep[101]['n_contaminating_docs'] == 0
    assert rep[101]['max_overlap'] == 0 == rep[101]['total_overlap']
    hits = decontaminate(train, bench, shingle_k=3, min_overlap=2)
    assert rep[100]['total_overlap'] == \
        sum(r['n_overlap'] for r in hits.collect()
            if r['bench_id'] == 100)


def test_materialize_bins_text_and_ids(spark):
    from rbql_spark.ops.bpe import apply_bpe, bpe_vocab, encode_bpe_ids
    from rbql_spark.ops.sampling import materialize_bins, pack_sequences
    docs = spark.createDataFrame(
        [(i, 'word ' * (i * 2)) for i in range(1, 7)],
        'doc_id long, text string')
    packed = pack_sequences(docs, max_tokens=10, n_buckets=2)
    # text payload: bin members joined in bin_seq order with the sep
    bins = materialize_bins(packed, docs, sep=' <eod> ').collect()
    assign = {r['doc_id']: r for r in packed.collect()}
    for b in bins:
        members = sorted((assign[d]['bin_seq'], d) for d in assign
                         if assign[d]['bucket'] == b['bucket']
                         and assign[d]['bin_id'] == b['bin_id'])
        assert b['n_docs'] == len(members)
        assert b['n_tokens'] == sum(assign[d]['n_tokens']
                                    for _, d in members)
        texts = {r['doc_id']: r['text'] for r in docs.collect()}
        assert b['bin_payload'] == ' <eod> '.join(texts[d]
                                                  for _, d in members)
    # array payload: the tokenizer tail flattens id arrays in seq order
    enc = apply_bpe(docs, [('w', 'o')])
    ids = encode_bpe_ids(enc, bpe_vocab(enc))
    packed2 = pack_sequences(ids, max_tokens=10, n_buckets=2,
                             count_col='n_tokens')
    id_bins = materialize_bins(packed2, ids, payload_col='token_ids')
    id_map = {r['doc_id']: r['token_ids'] for r in ids.collect()}
    assign2 = {r['doc_id']: r for r in packed2.collect()}
    for b in id_bins.collect():
        members = sorted((assign2[d]['bin_seq'], d) for d in assign2
                         if assign2[d]['bucket'] == b['bucket']
                         and assign2[d]['bin_id'] == b['bin_id'])
        want = [x for _, d in members for x in id_map[d]]
        assert b['bin_payload'] == want
        assert b['n_tokens'] == len(want)


def test_sample_k_per_group_on_null_key_error(spark):
    # round-12 advisory: the silent NULL-key drop gets a strict mode
    import pytest
    from pyspark.sql import functions as F
    from rbql_spark.ops.sampling import sample_k_per_group
    df = spark.createDataFrame(
        [('g1', 'a'), ('g1', None), ('g2', 'b')], 'grp string, doc_id string')
    # default: NULL-keyed row silently excluded
    out = sample_k_per_group(df, k=2, group_col='grp')
    assert out.count() == 2
    # strict: raises at the NULL key
    with pytest.raises(Exception, match='NULL doc_id'):
        sample_k_per_group(df, k=2, group_col='grp',
                           on_null_key='error').collect()
    with pytest.raises(ValueError, match='on_null_key'):
        sample_k_per_group(df, k=2, group_col='grp', on_null_key='warn')


def test_embed_hashing_inline_matches_distributed(spark):
    """embed_hashing_inline (the pure-expression one-row query path used
    by retrieval_hybrid_rrf) must be value-identical to the distributed
    embed_hashing plan — same tokenizer, votes, norm fold, rounding."""
    from pyspark.sql import functions as F

    from rbql_spark.ops.textstats import embed_hashing, embed_hashing_inline
    texts = [
        'hash join scan',
        '',
        None,
        'Hash HASH hash h@sh 42 çöğü ÇÖĞÜ 北京 1a1a1a',
        'a ' * 50 + 'b',           # heavy repetition, vote cancellation
        '!!! ---   ',               # no tokens at all
        'solo',
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    for dim in (4, 16):
        dist = {r['doc_id']: list(r['embedding'])
                for r in embed_hashing(df, dim=dim).collect()}
        inl = {r['doc_id']: list(r['embedding'])
               for r in df.select(
                   'doc_id',
                   embed_hashing_inline(F.col('text'), dim=dim)
                   .alias('embedding')).collect()}
        assert dist.keys() == inl.keys()
        for k in dist:
            assert [repr(x) for x in dist[k]] == [repr(x) for x in inl[k]], \
                (dim, k, dist[k], inl[k])


def test_removed_options_raise_type_error():
    # each operator has one implementation; the old selector keywords are
    # gone rather than silently ignored
    from rbql_spark import tuning
    from rbql_spark.engine import EngineOptions
    from rbql_spark.main import _run_one_query
    from rbql_spark.ops.bpe import apply_bpe, train_bpe
    from rbql_spark.ops.classifier import classifier_score, classifier_train
    from rbql_spark.ops.dedup import (decontaminate_bloom, minhash_signatures,
                                      simhash, simhash_near_dups,
                                      spread_partitions)
    from rbql_spark.ops.similarity import pq_ann_topk
    from rbql_spark.ops.textstats import repetition_stats
    from rbql_spark.pyeval import eval_columns, eval_simple
    from rbql_spark.sources.csv import read_csv
    from rbql_spark.streaming.events import (run_stream_to_memory,
                                             run_stream_to_parquet)
    calls = [
        # the code picks these paths itself (stream vs batch, the
        # broadcast-sized query contract)
        lambda: classifier_score(None, [0.0, 0.0], impl='inline'),
        lambda: decontaminate_bloom(None, None, impl='bitmap'),
        lambda: pq_ann_topk(None, None, encoder='native'),
        # one value in use, or never read
        lambda: run_stream_to_parquet(None, 'q', timeout_sec=1),
        lambda: run_stream_to_memory(None, 'q', timeout_sec=1),
        lambda: EngineOptions(sample_rows=8),
        lambda: eval_columns(None, None, [], sample_rows=8),
        lambda: eval_simple(None, [], sample_rows=8),
        lambda: tuning.apply_plan_width(None, expansion=1.0),
        lambda: tuning.apply_plan_width(None, bytes_per_partition=64),
        lambda: tuning.advise_shuffle_partitions(None, 1,
                                                 bytes_per_partition=64),
        lambda: tuning.advise_shuffle_partitions(None, 1, cap=4),
        lambda: spread_partitions(None, min_per_core=2),
        lambda: train_bpe(None, id_col='doc_id'),
        lambda: _run_one_query(None, None, 'q', 'x.csv', ',', 'quoted',
                               is_interactive=False),
        lambda: classifier_train(None, iter_impl='native'),
        lambda: apply_bpe(None, [], impl='arrow'),
        lambda: minhash_signatures(None, 'text', 'doc_id',
                                   engine='vectorized'),
        lambda: simhash(None, 'text', 'doc_id', engine='vectorized'),
        lambda: simhash_near_dups(None, 'text', 'doc_id',
                                  engine='vectorized'),
        lambda: repetition_stats(None, engine='vectorized'),
        lambda: read_csv(None, 'x.csv', native=True),
    ]
    for call in calls:
        with pytest.raises(TypeError, match='unexpected keyword'):
            call()
