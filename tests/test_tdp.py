"""Training-data pipeline operator tests over the driver testdata."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from jivesearch_spark.tdp import ann, dedup, multimodal, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    d.cache().count()
    return d


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    e.cache().count()
    return e


def test_byte_tokenizer_identical_to_per_doc():
    """The vectorized byte-level tokenizer+hasher must produce hashes
    identical to the per-doc py_tokens + md5 reference on every input:
    Unicode (incl. İ / K — the two code points whose lower() maps into
    ASCII token space, which force the whole-batch fallback), empties,
    nulls, >16-byte tokens, and printable fuzz."""
    import random
    import string

    import pandas as pd
    import pyarrow as pa

    cases = ["Hello WORLD 123", "", None, "  punct!~@#  split  ",
             "İstanbul is in Türkiye", "Kelvin K sign 5K", "café crème",
             "a" * 40 + " " + "b" * 10, "ABC_def-GHI.jkl", "x",
             "multi\ndoc\ttext with 999 numbers", "中文 tokens mixed a42",
             "end-token", "9", "Z" * 16, "Q" * 17, "exactly16bytes00"]
    random.seed(7)
    alpha = string.printable + "Ééßİ K中文😀"
    cases += ["".join(random.choice(alpha)
                      for _ in range(random.randrange(0, 200)))
              for _ in range(500)]
    th1, o1, n1 = dedup._batch_token_hashes(pd.Series(cases), {})
    th2, o2, n2 = dedup._batch_token_hashes_slow(
        pa.array(cases, type=pa.string(), from_pandas=True), {})
    assert n1 == n2 and (o1 == o2).all() and (th1 == th2).all()


def test_batch_token_hashes_sliced_arrow_array():
    """A sliced Arrow string array (offset != 0) shares its parent's
    buffers; it must hash exactly like the same values built unsliced."""
    import pyarrow as pa
    vals = ["leading TOKENS outside", "Hello WORLD 123", "a b c", "",
            "end-token 42", "trailing words outside"]
    n = len(vals) - 2
    got = dedup._batch_token_hashes(pa.array(vals).slice(1, n), {})
    want = dedup._batch_token_hashes(pa.array(vals[1:1 + n]), {})
    assert got[2] == want[2] == n
    assert np.array_equal(got[1], want[1])
    assert np.array_equal(got[0], want[0])


def test_sketch_chunking_identical_to_minhash_sig():
    """_sketch_into (cache-resident chunked, scratch-buffer sketch)
    must be bit-identical to the reference _minhash_sig per segment —
    including with a chunk budget small enough to force many chunks
    and segments larger than the budget."""
    rng = np.random.default_rng(3)
    n_docs = 40
    seg_lens = rng.integers(1, 400, size=n_docs)
    seg_lens[5] = 5000   # a segment far above the tiny chunk budget
    gv = rng.integers(0, dedup.MERSENNE_P, size=int(seg_lens.sum()),
                      dtype=np.int64).astype(np.uint64)
    seg_offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(seg_lens, out=seg_offs[1:])
    seg_doc = np.arange(n_docs, dtype=np.int64)
    a_vec, b_vec = dedup._minhash_params(16)
    a, b = a_vec.astype(np.uint64), b_vec.astype(np.uint64)
    p = np.uint64(dedup.MERSENNE_P)
    import unittest.mock as mock
    mat = np.full((n_docs, 16), dedup.MERSENNE_P, dtype=np.uint64)
    with mock.patch.object(dedup, "_SKETCH_CHUNK", 512):
        dedup._sketch_into(mat, gv, seg_offs, seg_doc, a, b, p, 16)
    for s in range(n_docs):
        ref = dedup._minhash_sig(gv[seg_offs[s]:seg_offs[s + 1]], a, b)
        assert (mat[s] == ref).all(), s


@pytest.mark.spark
def test_exact_dedup_groups_match_duckdb(spark, docs):
    got = {(r.text_hash, r.keep_id, r.n_dups)
           for r in dedup.exact_dedup_groups(docs).collect()}
    want = {tuple(r) for r in duckdb.sql(f"""
        SELECT md5(text) AS h, min(doc_id), count(*)
        FROM '{SF}/documents.parquet' GROUP BY 1""").fetchall()}
    assert got == want


@pytest.mark.spark
def test_ngram_jaccard_pairs_match_duckdb(spark, docs):
    got = {(r.id_a, r.id_b, round(r.jaccard, 6))
           for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2,
                                              max_shingle_df=10**9).collect()}
    want = {(a, b, round(j, 6)) for a, b, j in duckdb.sql(f"""
        WITH toks AS (
          SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
          FROM '{SF}/documents.parquet'),
        sh AS (
          SELECT doc_id, list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                 for i in range(1, len(tk)-1)]) AS s
          FROM toks WHERE len(tk) >= 3),
        ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1,2)
        SELECT id_a, id_b,
               c / (len(sa.s) + len(sb.s) - c) AS j
        FROM inter JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
        WHERE c / (len(sa.s) + len(sb.s) - c) >= 0.2""").fetchall()}
    assert got == want


@pytest.mark.spark
def test_minhash_lsh_recall_vs_exact(spark, docs):
    exact = {(r.id_a, r.id_b)
             for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8,
                                                max_shingle_df=10**9).collect()}
    est = {(r.id_a, r.id_b)
           for r in dedup.minhash_lsh_pairs(docs, num_hashes=64, bands=16,
                                            threshold=0.7).collect()}
    if exact:
        recall = len(exact & est) / len(exact)
        assert recall >= 0.8, (recall, exact - est)
    # LSH estimates at 0.7 must at least include everything near-exact
    sigs_ok = dedup.minhash_signatures(docs.limit(5)).collect()
    assert all(len(r.sig) == 64 for r in sigs_ok)


@pytest.mark.spark
def test_minhash_band_bucket_cap(spark, docs):
    """Degenerate band buckets (here: 30 empty-text docs all sharing
    the sentinel signature) are dropped from candidate generation when
    they exceed max_bucket_size, while genuine near-dups keep pairing;
    the drop is reported through the log callback."""
    empties = spark.createDataFrame(
        [(10_000 + i, "") for i in range(30)], "doc_id long, text string")
    base = docs.select("doc_id", "text").limit(3)
    dup = base.withColumn("doc_id", F.col("doc_id") + 500_000)
    corpus = base.unionByName(dup).unionByName(empties)

    uncapped = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(
        corpus, num_hashes=64, bands=16, threshold=0.9,
        max_bucket_size=None).collect()}
    # empty-empty pairs estimate at 1.0 — present without the cap
    assert any(a >= 10_000 and b >= 10_000 and b < 500_000
               for a, b in uncapped)

    logs = []
    capped = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(
        corpus, num_hashes=64, bands=16, threshold=0.9,
        max_bucket_size=10, log=logs.append).collect()}
    # the 30-doc sentinel bucket (> cap in every band) no longer
    # generates its quadratic 435 pairs …
    assert not any(a >= 10_000 and b >= 10_000 and b < 500_000
                   for a, b in capped)
    # … but exact duplicates still pair through their (small) buckets
    assert all((d, d + 500_000) in capped for d in
               [r.doc_id for r in base.collect()])
    assert logs and "dropped" in logs[0]


@pytest.mark.spark
def test_signatures_deterministic_and_vectorized_exact(spark, docs):
    """The vectorized signature kernels are partitioning-independent
    (identical signatures at 1 vs 8 partitions — the per-batch token
    cache memoizes a pure function, so batch boundaries can't leak
    into values) and the 32-bit-lane Mersenne modmul reproduces the
    object-dtype (exact big-int) sketch bit-for-bit."""
    import numpy as np

    from jivesearch_spark import analyze
    from jivesearch_spark.tdp.dedup import (MERSENNE_P, _minhash_params,
                                            _minhash_sig, _shingle_hashes,
                                            _token_hashes)

    d = docs.select("doc_id", "text")
    s1 = {r.id: tuple(r.sig)
          for r in dedup.minhash_signatures(d.coalesce(1)).collect()}
    s8 = {r.id: tuple(r.sig)
          for r in dedup.minhash_signatures(d.repartition(8)).collect()}
    assert s1 == s8 and len(s1) == d.count()
    h1 = {r.id: r.simhash
          for r in dedup.simhash_signatures(d.coalesce(1)).collect()}
    h8 = {r.id: r.simhash
          for r in dedup.simhash_signatures(d.repartition(8)).collect()}
    assert h1 == h8

    # driver-side reference: same shingle hashes through the exact
    # object-dtype modmul must equal the Spark kernel's uint64 lanes
    a_vec, b_vec = _minhash_params(64)
    rows = d.limit(5).collect()
    for r in rows:
        hv = _shingle_hashes(_token_hashes(analyze.py_tokens(r.text), {}), 3)
        if hv.size == 0:
            continue
        ref = np.min((hv.astype(object)[None, :] * a_vec.astype(object)[:, None]
                      + b_vec.astype(object)[:, None]) % MERSENNE_P, axis=1)
        got = _minhash_sig(hv, a_vec.astype(np.uint64), b_vec.astype(np.uint64))
        assert [int(x) for x in got] == [int(x) for x in ref]
        assert s1[r.doc_id] == tuple(int(x) for x in got)


@pytest.mark.spark
def test_simhash_identical_docs_collide(spark, docs):
    two = docs.limit(1).unionByName(
        docs.limit(1).withColumn("doc_id", F.col("doc_id") + 100000))
    pairs = dedup.simhash_near_pairs(two, max_hamming=3).collect()
    assert len(pairs) == 1 and pairs[0].hamming == 0


@pytest.mark.spark
def test_cosine_topk_matches_numpy(spark, emb):
    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    q = rows[0].tolist()
    got = [(r.id, round(r.cosine, 6)) for r in ann.cosine_topk(emb, q, k=10).collect()]
    qv = np.array(q)
    sims = sorted(
        ((vid, float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv))))
         for vid, v in rows.items()),
        key=lambda kv: (-kv[1], kv[0]))[:10]
    want = [(i, round(s, 6)) for i, s in sims]
    assert got == want


@pytest.mark.spark
def test_ann_lsh_finds_planted_near_duplicates(spark, emb):
    # plant near-duplicates: copies of vectors 1..5 with tiny noise —
    # the LSH path MUST surface them in the top-k for their originals
    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    rng = np.random.default_rng(0)
    planted = [(100000 + vid,
                (rows[vid] + rng.normal(0, 1e-3, rows[vid].shape)).astype(np.float32).tolist(),
                0)
               for vid in range(1, 6)]
    emb2 = emb.unionByName(spark.createDataFrame(
        planted, "vec_id long, embedding array<float>, label int"))
    for vid in range(1, 6):
        q = rows[vid].tolist()
        got = [r.id for r in ann.ann_topk_lsh(emb2, q, k=3, n_bits=10,
                                              n_tables=8, probe_hamming=1).collect()]
        assert vid in got and (100000 + vid) in got, (vid, got)


@pytest.mark.spark
def test_ann_lsh_recall_report(spark, emb):
    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    q = rows[3].tolist()
    exact = {r.id for r in ann.cosine_topk(emb, q, k=10).collect()}
    approx = {r.id for r in ann.ann_topk_lsh(emb, q, k=10, n_bits=8,
                                             n_tables=16, probe_hamming=1).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.3  # weakly-similar random vectors: sanity floor


@pytest.mark.spark
def test_cosine_near_dup_lsh_pairs(spark, emb):
    """The sub-quadratic embedding near-dup path: planted duplicates
    (and lightly-perturbed copies) MUST pair through shared LSH cells,
    every emitted pair must be exact-cosine-verified (precision 1 vs
    the O(n²) comparator), and the degenerate-cell cap must not drop
    the planted pairs."""
    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    rng = np.random.default_rng(1)
    planted = []
    for vid in range(1, 11):
        v = rows[vid]
        planted.append((100000 + vid, v.astype(np.float32).tolist(), 0))
        planted.append((200000 + vid,
                        (v + rng.normal(0, 1e-3, v.shape))
                        .astype(np.float32).tolist(), 0))
    emb2 = emb.unionByName(spark.createDataFrame(
        planted, "vec_id long, embedding array<float>, label int"))

    got = {(r.id_a, r.id_b): r.cosine
           for r in ann.cosine_near_dup_lsh(
               emb2, threshold=0.95, n_bits=10, n_tables=16,
               max_bucket_size=1000).collect()}
    exact = {(r.id_a, r.id_b): r.cosine
             for r in ann.cosine_pairs(emb2, threshold=0.95).collect()}
    # precision 1: every emitted pair is a true pair with the exact value
    for pair, c in got.items():
        assert pair in exact and abs(c - exact[pair]) < 1e-9, pair
    # planted exact duplicates are recall-guaranteed (identical vector
    # ⇒ identical signature in every table)
    for vid in range(1, 11):
        assert (vid, 100000 + vid) in got, vid
    # overall recall vs the exact comparator
    if exact:
        assert len(got) / len(exact) >= 0.8, (len(got), len(exact))


@pytest.mark.spark
def test_token_counts_match_duckdb(spark, docs):
    got = {(r.id, r.ws_tokens, r.bpe_tokens, r.chars)
           for r in textstats.token_counts(docs).collect()}
    want = {tuple(r) for r in duckdb.sql(f"""
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')),
               len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')),
               length(text)
        FROM '{SF}/documents.parquet'""").fetchall()}
    assert got == want


@pytest.mark.spark
def test_language_id_plausible(spark, docs):
    out = textstats.language_id(docs).collect()
    assert len(out) == docs.count()
    assert all(r.lang_pred in (set(textstats.STOPWORDS) | {"und"}) for r in out)
    en_hits = [r for r in out if r.lang_pred == "en"]
    assert len(en_hits) > 0  # corpus text is English-ish


@pytest.mark.spark
def test_quality_and_fingerprints_deterministic(spark, docs):
    a = sorted((r.id, r.quality) for r in textstats.quality_scores(docs).collect())
    b = sorted((r.id, r.quality) for r in textstats.quality_scores(docs).collect())
    assert a == b
    fp = textstats.fingerprints(docs).collect()
    assert all(len(r.fingerprint) == 32 for r in fp)


@pytest.mark.spark
def test_multimodal_stub_plumbing(spark):
    rows = [
        (1, b"\x89PNG\r\n\x1a\n" + b"x" * 64),
        (2, b"\xff\xd8\xff" + b"jpegdata"),
        (3, b"GIF89a" + b"gif"),
        (4, b"ID3" + b"mp3"),
        (5, b"garbage-not-media"),
        (6, None),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = multimodal.decode_media(media).collect()
    by_id = {r.media_id: r for r in out}
    assert by_id[1].kind == "image/png" and by_id[1].ok
    assert by_id[2].kind == "image/jpeg" and len(by_id[2].feature) == 8
    assert by_id[4].kind == "audio/mp3" and by_id[4].n_frames >= 1
    assert not by_id[5].ok and not by_id[6].ok
    # deterministic: same payload → same features
    out2 = {r.media_id: r for r in multimodal.decode_media(media).collect()}
    assert out2[1].feature == by_id[1].feature
    # provenance columns: decoder mode + stub-score marker on every
    # decoded row (ok=False rows carry mode but no score provenance)
    assert by_id[1].decoder_mode in ("stub", "headers", "pil")
    assert by_id[1].nsfw_model == multimodal.NSFW_MODEL_STUB
    assert by_id[5].nsfw_model is None
    # safe filter refuses stub scores unless explicitly allowed
    dec = multimodal.decode_media(media)
    with pytest.raises(ValueError, match="stub"):
        multimodal.safe_filter(dec, threshold=1.1, safe=True)
    safe = multimodal.safe_filter(dec, threshold=1.1, safe=True,
                                  allow_stub_scores=True)
    assert safe.count() == 4
    # a real classifier's model name filters without the opt-in; one
    # stub-stamped row among them still refuses
    real = dec.withColumn("nsfw_model", F.when(
        F.col("nsfw_model").isNotNull(), F.lit("nsfw-net-v2")))
    assert multimodal.safe_filter(real, threshold=1.1, safe=True).count() == 4
    mixed = real.withColumn("nsfw_model", F.when(
        F.col("media_id") == 1, F.lit(multimodal.NSFW_MODEL_STUB))
        .otherwise(F.col("nsfw_model")))
    with pytest.raises(ValueError, match="stub"):
        multimodal.safe_filter(mixed, threshold=1.1, safe=True)


def _minimal_png(w: int, h: int) -> bytes:
    """A valid 8-bit grayscale PNG built by hand (zlib is stdlib), so
    the real-decoder branch is testable without Pillow present."""
    import struct
    import zlib

    def chunk(tag, body):
        c = tag + body
        return struct.pack(">I", len(body)) + c + struct.pack(
            ">I", zlib.crc32(c) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(range(x, x + w)) for x in range(h))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


@pytest.mark.spark
def test_multimodal_decoder_probe(spark):
    """decoder='auto' import-probes Pillow per executor: with the
    library absent the stdlib header parser still reads TRUE
    dimensions for PNG (feature/nsfw stay digest-pinned stub values);
    with Pillow present the real decode takes over."""
    png = _minimal_png(20, 7)
    media = spark.createDataFrame([(1, png)], "media_id long, payload binary")
    auto = multimodal.decode_media(media, decoder="auto").collect()[0]
    stub = multimodal.decode_media(media, decoder="stub").collect()[0]
    assert auto.kind == stub.kind == "image/png"
    assert (auto.width, auto.height) == (20, 7) and auto.ok
    if multimodal.available_decoder() != "pil":
        # headers mode: only the dims differ from the stub
        assert auto.feature == stub.feature
        assert auto.nsfw_score == stub.nsfw_score
        assert auto.n_frames == stub.n_frames


def test_parse_image_dims_stdlib():
    """True header dims for the three parseable formats + fallback on
    malformed headers (round-3 verdict ask #8)."""
    import struct

    png = _minimal_png(64, 48)
    assert multimodal.parse_image_dims(png) == (64, 48)

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00"
    assert multimodal.parse_image_dims(gif) == (320, 200)

    # minimal JPEG: SOI + APP0 (16 bytes) + SOF0 carrying 99x77
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 77, 99) + b"\x01\x11\x00")
    jpeg = b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    assert multimodal.parse_image_dims(jpeg) == (99, 77)

    # WebP, all three chunk layouts (container + VP8/VP8L specs)
    def riff(tag, body):
        payload = tag + struct.pack("<I", len(body)) + body
        return b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WEBP" + payload

    vp8x = riff(b"VP8X", b"\x00" * 4
                + (639).to_bytes(3, "little") + (479).to_bytes(3, "little"))
    assert multimodal.parse_image_dims(vp8x) == (640, 480)
    assert multimodal.sniff_kind(vp8x) == "image/webp"

    vp8 = riff(b"VP8 ", b"\x00" * 3 + b"\x9d\x01\x2a"
               + struct.pack("<HH", 320, 240) + b"\x00" * 4)
    assert multimodal.parse_image_dims(vp8) == (320, 240)

    bits = (199) | (149 << 14)  # 200x150 stored minus one
    vp8l = riff(b"VP8L", b"\x2f" + struct.pack("<I", bits) + b"\x00" * 8)
    assert multimodal.parse_image_dims(vp8l) == (200, 150)

    # RIFF that is NOT WebP keeps the wav default; bad VP8 start code
    assert multimodal.sniff_kind(b"RIFF\x00\x00\x00\x00WAVEfmt ") == "audio/wav"
    bad = riff(b"VP8 ", b"\x00" * 3 + b"\xff\xff\xff" + b"\x00" * 8)
    assert multimodal.parse_image_dims(bad) is None

    # malformed: PNG magic but no IHDR; truncated GIF; junk
    assert multimodal.parse_image_dims(b"\x89PNG\r\n\x1a\n" + b"x" * 64) is None
    assert multimodal.parse_image_dims(b"GIF89a\x01") is None
    assert multimodal.parse_image_dims(b"garbage") is None
    # malformed headers fall back to the stub decode entirely
    kind, dec = multimodal._headers_decode(b"\x89PNG\r\n\x1a\n" + b"x" * 64)
    _, sdec = multimodal._stub_decode(b"\x89PNG\r\n\x1a\n" + b"x" * 64)
    assert kind == "image/png" and dec == sdec


@pytest.mark.spark
def test_multimodal_resize_and_frame_sample(spark):
    rows = [
        (1, b"\x89PNG\r\n\x1a\n" + b"x" * 64),       # image → 1 frame
        (2, b"\x1aE\xdf\xa3" + b"webmpayload" * 8),  # video → many frames
        (3, b"not-media"),
        (4, None),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")

    rs = {r.media_id: r for r in
          multimodal.resize_media(media, 16, 12).collect()}
    assert rs[1].ok and rs[1].width == 16 and rs[1].height == 12
    assert len(bytes(rs[1].payload)) == 16 * 12
    assert not rs[3].ok and rs[3].payload is None and not rs[4].ok
    # deterministic: same payload → same buffer
    rs2 = {r.media_id: r for r in
           multimodal.resize_media(media, 16, 12).collect()}
    assert bytes(rs2[2].payload) == bytes(rs[2].payload)

    fr = multimodal.sample_frames(media, every_n=4).collect()
    by_id = {}
    for r in fr:
        by_id.setdefault(r.media_id, []).append(r)
    # image: exactly its single frame at idx 0
    assert [f.frame_idx for f in by_id[1]] == [0]
    # video: stride-4 sampling over the stub frame count, 25fps ts
    _, dec = multimodal._stub_decode(rows[1][1])
    n_frames = dec[2]
    idxs = sorted(f.frame_idx for f in by_id[2])
    assert idxs == list(range(0, n_frames, 4))
    assert all(f.ts_ms == f.frame_idx * 40 for f in by_id[2])
    assert all(len(bytes(f.frame)) == 32 for f in by_id[2])
    # undecodable rows surface as single ok=False rows
    assert len(by_id[3]) == 1 and not by_id[3][0].ok
    # fan-out cap
    capped = multimodal.sample_frames(media, every_n=1, max_frames=3)
    assert capped.where("media_id = 2").count() == min(n_frames, 3)


@pytest.mark.spark
def test_ann_ivf_recall_and_exact_degenerate(spark, emb):
    qv = list(emb.where("vec_id = 0").select("embedding").collect()[0][0])
    exact = [r.id for r in ann.cosine_topk(emb, qv, k=10).collect()]

    # probing every list must reproduce the exact top-k
    full = [r.id for r in
            ann.ann_topk_ivf(emb, qv, k=10, n_lists=8, n_probe=8).collect()]
    assert full == exact

    # probing a fraction of the lists keeps good recall on the head
    approx = [r.id for r in
              ann.ann_topk_ivf(emb, qv, k=10, n_lists=8, n_probe=3).collect()]
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.5, (recall, approx, exact)
    # the query vector itself (vec_id=0) must always be found
    assert exact[0] in approx

    # deterministic across invocations
    again = [r.id for r in
             ann.ann_topk_ivf(emb, qv, k=10, n_lists=8, n_probe=3).collect()]
    assert approx == again


@pytest.mark.spark
def test_cosine_near_dup_lsh_null_vectors(spark, emb):
    """A nullable embedding column whose FIRST row is NULL must not
    crash dim derivation (cosine_topk tolerates NULLs; the pair path
    must too), and NULL rows must simply be excluded."""
    nulls = spark.createDataFrame(
        [(500001, None, 0), (500002, None, 0)],
        "vec_id long, embedding array<float>, label int")
    emb2 = nulls.unionByName(emb)  # NULL row first
    got = ann.cosine_near_dup_lsh(emb2, threshold=0.95, n_bits=10,
                                  n_tables=8).collect()
    assert all(r.id_a not in (500001, 500002)
               and r.id_b not in (500001, 500002) for r in got)
    # all-NULL input → empty frame, not a crash
    assert ann.cosine_near_dup_lsh(nulls, threshold=0.9).count() == 0


def test_parse_image_dims_jpeg_sof_at_buffer_end():
    """A JPEG truncated immediately after the SOF width field (the
    dimension bytes end exactly at the buffer end) still parses —
    regression for the loop bound skipping the final readable SOF."""
    import struct

    sof_only = (b"\xff\xd8" + b"\xff\xc0" + struct.pack(">H", 11)
                + b"\x08" + struct.pack(">HH", 77, 99))
    assert len(sof_only) == 11  # SOF height/width end at the last byte
    assert multimodal.parse_image_dims(sof_only) == (99, 77)
