"""Training-data operators on tiny planted fixtures: exact dedup, MinHash
LSH, SimHash, Jaccard, text stats, ANN, multimodal plumbing."""

import hashlib
import math
import struct

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from weblog_pipeline.ops import corpus, dedup, multimodal, similarity, textstats

DOCS = [
    # two exact duplicates (after whitespace/case normalization)
    (0, "The quick brown fox jumps over the lazy dog", "en"),
    (1, "the  quick   brown fox JUMPS over the lazy dog", "en"),
    # a near-duplicate (one word changed)
    (2, "the quick brown fox jumps over the sleepy dog", "en"),
    # unrelated
    (3, "der schnelle braune fuchs springt und der hund ist faul", "de"),
    (4, "completely different content about spark pipelines and shuffles", "en"),
    # degenerate
    (5, "", "en"),
    (6, "one two", "en"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang=lg) for i, t, lg in DOCS]
    )


def test_exact_duplicates(spark, docs_df):
    groups = dedup.exact_duplicates(docs_df).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_docs"] == 2 and g["keeper_doc_id"] == 0


def _py_minhash_bands(text: str):
    """Deterministic Python twin of dedup.minhash_signatures."""
    words = text.strip().lower().split()
    shingles = {
        " ".join(words[i : i + 3]) for i in range(len(words) - 2)
    }
    if not shingles:
        return None
    mh = [
        min(hashlib.md5(f"{s}#{h}".encode()).hexdigest() for s in shingles)
        for h in range(dedup.N_MINHASH)
    ]
    rows = dedup.N_MINHASH // dedup.N_BANDS
    return [
        hashlib.md5("".join(mh[b * rows : (b + 1) * rows]).encode()).hexdigest()
        for b in range(dedup.N_BANDS)
    ]


def test_lsh_matches_python_oracle(spark, docs_df):
    got = {(r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidate_pairs(docs_df).collect()}
    bands = {i: _py_minhash_bands(t) for i, t, _ in DOCS}
    expected = set()
    ids = sorted(bands)
    for a in ids:
        for b in ids:
            if a < b and bands[a] and bands[b] and any(
                x == y for x, y in zip(bands[a], bands[b])
            ):
                expected.add((a, b))
    assert got == expected
    assert (0, 1) in got  # exact dups always collide


def test_lsh_xxhash_fast_path_finds_exact_dups(spark, docs_df):
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(docs_df, hash_fn="xxhash64").collect()
    }
    assert (0, 1) in got  # identical shingle sets collide in any hash family


def test_jaccard_counts(spark, docs_df):
    pairs = spark.createDataFrame([Row(doc_a=0, doc_b=1), Row(doc_a=0, doc_b=2)])
    jac = {
        (r["doc_a"], r["doc_b"]): (r["n_intersect"], r["n_union"])
        for r in dedup.jaccard_verify(docs_df, pairs).collect()
    }
    inter, union = jac[(0, 1)]
    assert inter == union  # identical shingle sets
    inter, union = jac[(0, 2)]
    assert 0 < inter < union  # one changed word -> partial overlap


def test_simhash_identical_and_near(spark, docs_df):
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs_df).collect()}
    assert fps[0] == fps[1]  # same normalized token set
    ham_near = bin(fps[0] ^ fps[2]).count("1")
    ham_far = bin(fps[0] ^ fps[4]).count("1")
    assert ham_near < ham_far


def test_token_counts(spark, docs_df):
    rows = {r["doc_id"]: r for r in textstats.token_counts(docs_df).collect()}
    assert rows[0]["n_tokens"] == 9
    assert rows[5]["n_tokens"] == 0
    assert rows[6]["n_tokens"] == 2
    assert rows[0]["n_chars"] == len(DOCS[0][1])


def test_quality_stats(spark, docs_df):
    rows = {r["doc_id"]: r for r in textstats.quality_stats(docs_df).collect()}
    # "the" appears twice in doc 0 + "over" not a stopword
    assert rows[0]["n_stopwords"] == 2
    assert rows[5]["n_tokens"] == 0 and rows[5]["mean_token_len_x100"] == 0
    toks = DOCS[0][1].lower().split()
    expected = sum(len(t) for t in toks) * 100 // len(toks)
    assert rows[0]["mean_token_len_x100"] == expected


def test_lang_id(spark, docs_df):
    rows = {r["doc_id"]: r["lang_guess"] for r in textstats.lang_id(docs_df).collect()}
    assert rows[0] == "en"
    assert rows[3] == "de"
    assert rows[5] == "und"


def test_fingerprint_normalization(spark, docs_df):
    rows = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprint(docs_df).collect()}
    assert rows[0] == rows[1]  # whitespace/case-insensitive
    assert rows[0] != rows[2]


def test_brute_force_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 8).astype("float32")
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(40)]
    )
    q = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = similarity.brute_force_topk(df, q, k=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))

    norms = np.linalg.norm(vecs, axis=1)
    for qi in range(3):
        sims = vecs @ vecs[qi] / (norms * norms[qi])
        order = [
            int(i)
            for i in sorted(range(40), key=lambda i: (-round(sims[i], 6), i))
            if i != qi
        ][:4]
        got_ids = [nid for _, nid in sorted(by_q[qi])]
        assert got_ids == order


def test_lsh_topk_recall(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.randn(30, 16).astype("float32")
    # plant a near-identical neighbor of vector 0
    base[1] = base[0] + rng.randn(16).astype("float32") * 0.01
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in base[i]]) for i in range(30)]
    )
    q = df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = similarity.lsh_topk(df, q, k=3, dim=16).collect()
    assert any(r["neighbor_id"] == 1 and r["rank"] == 1 for r in got)


def test_lsh_multiprobe_expands_candidates_and_keeps_planted(spark):
    """Hamming-1 multi-probe must (a) still return the planted neighbor at
    rank 1, (b) never SHRINK the per-query result set (probing only adds
    query-side buckets), and (c) reject unsupported probe radii."""
    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.randn(30, 16).astype("float32")
    base[1] = base[0] + rng.randn(16).astype("float32") * 0.01
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in base[i]]) for i in range(30)]
    )
    q = df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plain = similarity.lsh_topk(df, q, k=3, dim=16).collect()
    probed = similarity.lsh_topk(df, q, k=3, dim=16, probe_bits=1).collect()
    assert any(r["neighbor_id"] == 1 and r["rank"] == 1 for r in probed)
    assert len(probed) >= len(plain)
    with pytest.raises(ValueError, match="Hamming-1"):
        similarity.lsh_topk(df, q, k=3, dim=16, probe_bits=2)


def test_ivf_topk_recall(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.randn(64, 12).astype("float32")
    base[7] = base[3] + rng.randn(12).astype("float32") * 0.01  # planted neighbor
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in base[i]]) for i in range(64)]
    )
    q = df.where(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = similarity.ivf_topk(df, q, k=3, n_cells=8, n_probe=3).collect()
    assert any(r["neighbor_id"] == 7 and r["rank"] == 1 for r in got)


def test_lloyd_step_python_twin(spark):
    """lloyd_step must equal the numpy reference: assign by integer dot
    argmax (ties -> lower cell), new component = floor(sum/count); empty
    cells keep their seed."""
    import math as _math

    import numpy as np
    from pyspark.sql import Row

    rng = np.random.RandomState(9)
    vecs = rng.randn(40, 16).astype("float32")
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(40)]
    )
    seeds = [similarity.quantize_centroid([float(x) for x in vecs[i]])
             for i in (3, 11, 27)]
    got = similarity.lloyd_step(emb, seeds)

    q = np.array([[_math.floor(float(x) * similarity.IVF_QUANT) for x in v]
                  for v in vecs], dtype=np.int64)
    s = np.array(seeds, dtype=np.int64)
    dots = q @ s.T
    assign = np.argmax(dots, axis=1)  # argmax takes the first (lowest cell) on ties
    want = []
    for c in range(len(seeds)):
        members = q[assign == c]
        if len(members) == 0:
            want.append(list(seeds[c]))
        else:
            want.append(
                [_math.floor(members[:, d].sum() / len(members))
                 for d in range(16)]
            )
    assert got == want


def test_ivf_refined_is_valid_topk(spark):
    import numpy as np
    from pyspark.sql import Row

    rng = np.random.RandomState(4)
    vecs = rng.randn(80, 16).astype("float32")
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(80)]
    )
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rows = similarity.ivf_topk_refined(emb, q, k=4, n_cells=6, n_probe=2).collect()
    pairs = [(r["query_id"], r["neighbor_id"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_multimodal_metadata_plumbing(spark, docs_df):
    media = multimodal.media_from_documents(docs_df)
    meta = {r["media_id"]: r for r in multimodal.extract_media_metadata(media).collect()}
    assert len(meta) == len(DOCS)
    for i, text, _ in DOCS:
        blob = text.encode()
        assert meta[i]["n_bytes"] == len(blob)
        assert meta[i]["content_sha"] == hashlib.sha256(blob).hexdigest()
        assert len(meta[i]["feature"]) == multimodal.FEATURE_DIM
    assert meta[0]["media_type"] == "image" and meta[0]["n_frames"] == 1
    assert meta[1]["media_type"] == "audio" and meta[1]["width"] == 0
    assert meta[2]["media_type"] == "video" and meta[2]["n_frames"] >= 1


def test_frame_sampling(spark, docs_df):
    media = multimodal.media_from_documents(docs_df)
    frames = multimodal.sample_frames(media, every_n=7).collect()
    video_ids = {i for i, _, _ in DOCS if i % 3 == 2}
    assert {r["media_id"] for r in frames} == video_ids
    for r in frames:
        assert r["frame_idx"] % 7 == 0
        blob = dict((i, t) for i, t, _ in DOCS)[r["media_id"]].encode()
        want = hashlib.sha256(blob + str(r["frame_idx"]).encode()).hexdigest()
        assert r["frame_sha"] == want
        assert len(r["frame_feature"]) == multimodal.FEATURE_DIM


def test_multimodal_compressed_decode_is_stubbed():
    # the remaining honest stubs: color/progressive JPEG, compressed
    # audio codecs, video containers
    import struct as _struct

    # sampling factors 1-4 are all real now, INCLUDING fractional ratios
    # (4:3 etc. — see test_fractional_sampling_jpeg_fidelity); a fractional
    # SOF with no DQT/DHT quarantines as a missing-tables stream, not as a
    # NotImplementedError stub
    frac_sof = (
        b"\xff\xd8"
        + b"\xff\xc0" + _struct.pack(">H", 17)
        + _struct.pack(">BHHB", 8, 4, 4, 3)
        + b"\x01\x41\x00\x02\x31\x01\x03\x11\x01"
        + b"\xff\xda" + _struct.pack(">H", 12)
        + b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00"
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="DQT|DHT"):
        multimodal.decode_jpeg(frac_sof)
    # sampling factor > 4 violates T.81 — corrupt header, quarantined
    wild_sof = (
        b"\xff\xd8"
        + b"\xff\xc0" + _struct.pack(">H", 17)
        + _struct.pack(">BHHB", 8, 4, 4, 3)
        + b"\x01\x51\x00\x02\x11\x01\x03\x11\x01"
        + b"\xff\xda" + _struct.pack(">H", 12)
        + b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00"
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="sampling"):
        multimodal.decode_jpeg(wild_sof)
    # PARTIALLY-interleaved sequential scans are now REAL (see
    # test_property.test_partial_interleave_jpeg_always_matches_baseline);
    # a partial-interleave SOS with no DHT is corrupt framing and must
    # land in the ValueError quarantine class, not decode or crash oddly
    seq_partial_sos = (
        b"\xff\xd8"
        + b"\xff\xc0" + _struct.pack(">H", 17)
        + _struct.pack(">BHHB", 8, 4, 4, 3)
        + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
        + b"\xff\xda" + _struct.pack(">H", 10)
        + b"\x02" + bytes([1, 0x00, 2, 0x11]) + b"\x00\x3f\x00"
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="before DHT"):
        multimodal.decode_jpeg(seq_partial_sos)
    # a refinement AC symbol with size > 1 is invalid framing, quarantined
    bad_refine = (
        b"\xff\xd8"
        + b"\xff\xc2" + _struct.pack(">H", 11)
        + _struct.pack(">BHHB", 8, 4, 4, 1) + b"\x01\x11\x00"
        + b"\xff\xda" + _struct.pack(">H", 8)
        + b"\x01\x01\x00" + bytes([1, 5, 0x12])
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError):
        multimodal.decode_jpeg(bad_refine)
    with pytest.raises(NotImplementedError):
        multimodal.decode_av(b"\xff\xfb mp3 frame", "audio", fake=False)
    with pytest.raises(NotImplementedError):
        multimodal.decode_av(b"\x00\x00\x00\x20ftypmp42", "video", fake=False)
    # a RIFF container that is not WAVE is corrupt input, not a codec gap
    with pytest.raises(ValueError):
        multimodal.decode_av(b"RIFF\x04\x00\x00\x00AVI ", "audio", fake=False)
    # exotic/corrupt image magic is indistinguishable from corruption on
    # an untrusted blob -> quarantined as ValueError (NOT a codec stub)
    with pytest.raises(ValueError):
        multimodal.decode_image(b"II*\x00 tiff...", fake=False)
    with pytest.raises(ValueError):
        multimodal.decode_image(b"XM bitflipped bmp", fake=False)


def test_jpeg_roundtrip_fidelity():
    """The full baseline pipeline (DCT -> quantize -> Huffman -> unstuff ->
    dequantize -> IDCT) reconstructs a smooth gradient within quantization
    error; header fields are exact."""
    import numpy as np

    for w, h, seed in [(8, 8, 0), (16, 8, 10), (5, 3, 100), (33, 17, 200)]:
        payload = multimodal.encode_jpeg(w, h, seed)
        meta = multimodal.decode_jpeg(payload)
        assert (meta["width"], meta["height"], meta["n_frames"]) == (w, h, 1)
        src = np.fromfunction(
            lambda y, x: (seed + x + y) % 256, (h, w)
        ).astype(np.int64)
        err = np.abs(meta["pixels"].astype(np.int64) - src)
        assert err.max() <= 3, (w, h, seed, err.max())
    # dispatcher strips the pixel plane for the metadata path
    d = multimodal.decode_image(multimodal.encode_jpeg(8, 8, 50), fake=False)
    assert "pixels" not in d and len(d["feature"]) == multimodal.FEATURE_DIM
    # feature = top-row pixels: gradient 50..57 within quantization error
    got = [round(f * 255) for f in d["feature"]]
    assert all(abs(g - (50 + i)) <= 3 for i, g in enumerate(got))


def test_malformed_headers_raise_valueerror_not_struct_error(spark):
    """Review regression: corrupt segment headers must raise ValueError
    (the quarantine trigger), never struct.error/IndexError — and even if
    an unanticipated shape slips through, the UDF quarantine catches it."""
    import struct as _struct

    # JPEG SOF with declared length < 8 (body shorter than the header read)
    bad_sof = b"\xff\xd8\xff\xc0" + _struct.pack(">H", 4) + b"\x08\x00"
    # JPEG DHT whose declared length truncates the 16 bit-count bytes
    bad_dht = b"\xff\xd8\xff\xc4" + _struct.pack(">H", 5) + b"\x00\x01\x02"
    # JPEG SOS body shorter than its component list
    bad_sos = (
        b"\xff\xd8"
        + b"\xff\xc0" + _struct.pack(">H", 11)
        + _struct.pack(">BHHB", 8, 4, 4, 1) + b"\x01\x11\x00"
        + b"\xff\xda" + _struct.pack(">H", 4) + b"\x03\x01"
    )
    for payload in (bad_sof, bad_dht, bad_sos):
        with pytest.raises(ValueError):
            multimodal.decode_jpeg(payload)
    # CRC-valid PNG whose IHDR length != 13
    bad_ihdr = (
        multimodal.PNG_SIG
        + multimodal._png_chunk(b"IHDR", b"\x00\x00\x00\x01")
        + multimodal._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        multimodal.decode_png(bad_ihdr)
    # skip mode drops all of them instead of failing the job
    media = spark.createDataFrame(
        [
            Row(media_id=i, payload=bytearray(p), media_type="image")
            for i, p in enumerate((bad_sof, bad_dht, bad_sos, bad_ihdr))
        ]
        + [Row(media_id=9, payload=bytearray(multimodal.encode_bmp(2, 2, 5)),
               media_type="image")],
        schema=multimodal.MEDIA_SCHEMA,
    )
    kept = multimodal.extract_media_metadata(
        media, fake=False, on_error="skip"
    ).collect()
    assert [r["media_id"] for r in kept] == [9]


def test_jpeg_color_roundtrip_444_and_420():
    """Color decode: interleaved MCUs, per-component tables, chroma
    upsampling, YCbCr→RGB — both 4:4:4 and 4:2:0 reconstruct the RGB
    gradient within quantization error."""
    import numpy as np

    def src_rgb(w, h, seed):
        x = np.arange(w)[None, :]
        y = np.arange(h)[:, None]
        r = np.broadcast_to((seed + x) % 256, (h, w))
        g = np.broadcast_to((seed + y) % 256, (h, w))
        b = (seed + x + y) % 256
        return np.stack([r, g, b], axis=-1).astype(np.int64)

    for sub in (False, True):
        for w, h, seed in [(8, 8, 0), (16, 16, 30), (5, 3, 100), (33, 17, 60)]:
            payload = multimodal.encode_jpeg_color(w, h, seed, subsample=sub)
            meta = multimodal.decode_jpeg(payload)
            assert (meta["width"], meta["height"]) == (w, h)
            assert meta["pixels"].shape == (h, w, 3)
            err = np.abs(meta["pixels"].astype(np.int64) - src_rgb(w, h, seed))
            assert err.max() <= 8, (sub, w, h, seed, err.max())
    # feature of a color image = interleaved RGB of the top-left pixels
    d = multimodal.decode_image(
        multimodal.encode_jpeg_color(8, 8, 10), fake=False
    )
    got = [round(f * 255) for f in d["feature"]]
    exp = [10, 10, 10, 11, 10, 11, 12, 10]  # (R,G,B) of pixels (0..2, 0)
    assert all(abs(a - b) <= 8 for a, b in zip(got, exp))


def test_jpeg_corruption_is_quarantined():
    payload = multimodal.encode_jpeg(16, 16, 77)
    with pytest.raises(ValueError):
        multimodal.decode_jpeg(payload[:-4])  # EOI clipped
    with pytest.raises(ValueError):
        multimodal.decode_jpeg(payload[:20])  # truncated segment
    mutated = bytearray(payload)
    mutated[3] = 0x99  # corrupt the DQT marker length path
    with pytest.raises(ValueError):
        multimodal.decode_jpeg(bytes(mutated))


def test_png_roundtrip_all_filters():
    """encode_png cycles scanline filters 0-4 by row; a 7x6 image uses
    every filter type, so a wrong unfilter corrupts the gradient."""
    payload = multimodal.encode_png(7, 6, 200)
    meta = multimodal.decode_image(payload, fake=False)
    assert meta["width"] == 7 and meta["height"] == 6 and meta["n_frames"] == 1
    # first 8 unfiltered bytes: pixels (0,0),(1,0),(2,0) at value 200+x+y
    exp = [(200 + x) % 256 for x in range(3) for _ in range(3)][:8]
    assert [round(f * 255) for f in meta["feature"]] == exp
    # grayscale and RGBA color types decode too
    import struct as _struct
    import zlib as _zlib

    def gray_png(w, h, v):
        ihdr = _struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        rows = b"".join(b"\x00" + bytes([v] * w) for _ in range(h))
        return (
            multimodal.PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(b"IDAT", _zlib.compress(rows))
            + multimodal._png_chunk(b"IEND", b"")
        )

    g = multimodal.decode_png(gray_png(4, 2, 99))
    assert g["width"] == 4 and g["height"] == 2
    assert [round(f * 255) for f in g["feature"]] == [99] * 8


def test_png_corruption_is_quarantined():
    payload = multimodal.encode_png(9, 5, 31)
    flipped = bytearray(payload)
    flipped[45] ^= 0xFF  # inside IDAT -> CRC mismatch
    with pytest.raises(ValueError):
        multimodal.decode_png(bytes(flipped))
    with pytest.raises(ValueError):
        multimodal.decode_png(payload[:-16])  # truncated chunk
    # interlaced flag -> unsupported, ValueError (quarantine, not stub)
    import struct as _struct
    import zlib as _zlib

    ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    bad = (
        multimodal.PNG_SIG
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", _zlib.compress(b"\x00" * 14))
        + multimodal._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="interlaced"):
        multimodal.decode_png(bad)


def test_gif_roundtrip_and_animation_frames():
    payload = multimodal.encode_gif(7, 5, 40)
    meta = multimodal.decode_image(payload, fake=False)
    assert meta["width"] == 7 and meta["height"] == 5 and meta["n_frames"] == 1
    # grayscale palette: byte j of the feature = pixel (j//3)'s index
    exp = [(40 + (j // 3) % 7 + (j // 3) // 7) % 256 for j in range(8)]
    assert [round(f * 255) for f in meta["feature"]] == exp
    # animated: a second image descriptor bumps n_frames (descriptor
    # starts right after the 13-byte header + 768-byte global palette)
    single = multimodal.encode_gif(3, 3, 9)
    frame = single[13 + 768 : -1]  # descriptor..block terminator
    assert frame[0] == 0x2C
    animated = single[:-1] + frame + b"\x3b"
    assert multimodal.decode_gif(animated)["n_frames"] == 2


def test_gif_full_lzw_decode_table_building():
    """The decoder must handle genuinely COMPRESSING LZW (table growth,
    variable code widths, the KwKwK corner), not just the literal-coded
    fixtures — verified against an independent reference encoder."""
    import random

    def lzw_encode(indices, mcs):
        clear, end = 1 << mcs, (1 << mcs) + 1
        table = {bytes([i]): i for i in range(clear)}
        next_code, width = end + 1, mcs + 1
        acc = nbits = 0
        out = bytearray()

        def emit(code, wd):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += wd
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        emit(clear, width)
        w = b""
        for c in indices:
            wc = w + bytes([c])
            if wc in table:
                w = wc
                continue
            emit(table[w], width)
            if next_code < 4096:
                table[wc] = next_code
                next_code += 1
                if next_code == (1 << width) + 1 and width < 12:
                    width += 1
            w = bytes([c])
        if w:
            emit(table[w], width)
        emit(end, width)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    rng = random.Random(11)
    for mcs in (2, 4, 8):
        idx = bytes(rng.randrange(1 << mcs) for _ in range(1500))
        idx += idx[:700]  # repetition drives table growth + KwKwK
        dec = multimodal._lzw_decode(lzw_encode(idx, mcs), mcs, len(idx))
        assert bytes(dec) == idx


def test_gif_corruption_is_quarantined():
    payload = multimodal.encode_gif(6, 4, 9)
    with pytest.raises(ValueError):
        multimodal.decode_gif(payload[:-6])  # truncated data
    with pytest.raises(ValueError):
        multimodal.decode_gif(b"GIF89a" + payload[6:20])  # truncated GCT
    with pytest.raises(ValueError):
        multimodal.decode_gif(b"NOTGIF" + payload[6:])


def test_avi_dib_roundtrip_and_corruption():
    """Uncompressed AVI: raw bottom-up BGR frames decode pixel-exactly,
    frame sampling reads raw bytes, size mismatches quarantine, and
    a DIB depth outside {8, 24, 32} is a declared codec gap."""
    import struct as _struct

    payload = multimodal.encode_avi(6, 4, 3, 17, codec="DIB ")
    meta = multimodal.decode_avi(payload)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (6, 4, 3)
    got = [round(f * 255) for f in meta["feature"]]
    assert got == [(17 + i) % 256 for i in range(8)]  # pixel-EXACT
    stride = multimodal.bmp_stride(6)
    assert meta["frames"][2] == bytes((19 + i) % 256 for i in range(stride * 4))
    # frame-level sha/feature from raw bytes via the shared walk
    frames, kind, dims, layout = multimodal._avi_frames(payload)
    assert kind == "dib" and dims == (6, 4) and layout == (24, None)
    # width 1 -> 24-bit stride pads each 3-byte row to 4; the padding
    # byte must never leak into the decoded BGR stream
    narrow = multimodal.encode_avi(1, 4, 1, 5, codec="DIB ")
    got = [round(f * 255) for f in multimodal.decode_avi(narrow)["feature"]]
    assert got == [(5 + (j // 3) * 4 + j % 3) % 256 for j in range(8)]
    # strf width mutated -> every frame contradicts the declared layout
    bad = bytearray(payload)
    _struct.pack_into("<i", bad, payload.index(b"strf") + 12, 7)
    with pytest.raises(ValueError, match="corrupt AVI frame"):
        multimodal.decode_avi(bytes(bad))
    # 16-bit DIB is a genuine codec gap, not corruption
    bad = bytearray(payload)
    _struct.pack_into("<H", bad, payload.index(b"strf") + 22, 16)
    with pytest.raises(NotImplementedError, match="16-bit DIB"):
        multimodal.decode_avi(bytes(bad))
    # declaring 8bpp on a table-less 40-byte strf -> corrupt, quarantine
    bad = bytearray(payload)
    _struct.pack_into("<H", bad, payload.index(b"strf") + 22, 8)
    with pytest.raises(ValueError, match="color table"):
        multimodal.decode_avi(bytes(bad))
    # compressed strf under a DIB handler is contradictory -> quarantine
    bad = bytearray(payload)
    bad[payload.index(b"strf") + 24 : payload.index(b"strf") + 28] = b"MJPG"
    with pytest.raises(ValueError, match="compressed layout"):
        multimodal.decode_avi(bytes(bad))


def test_avi_dib_8bit_palette_roundtrip():
    """8-bit palette DIB: stored indices expand through the strf RGBQUAD
    table (B=p, G=2p, R=3p in the fixture), stride padding dropped, and
    an index past a short color table quarantines as corrupt data."""
    payload = multimodal.encode_avi(6, 4, 2, 17, codec="DIB ", bpp=8)
    meta = multimodal.decode_avi(payload)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (6, 4, 2)
    got = [round(f * 255) for f in meta["feature"]]
    # decoded BGR byte j of frame 0 (one row covers 3*6=18 >= 8 bytes):
    # pixel x = j//3, channel c = j%3, index p = (17 + x) % 256
    assert got == [((j % 3 + 1) * ((17 + j // 3) % 256)) % 256 for j in range(8)]
    # width 1 -> 8-bit stride pads each 1-byte row to 4; rows advance
    narrow = multimodal.encode_avi(1, 4, 1, 9, codec="DIB ", bpp=8)
    got = [round(f * 255) for f in multimodal.decode_avi(narrow)["feature"]]
    assert got == [((j % 3 + 1) * ((9 + (j // 3) * 4) % 256)) % 256 for j in range(8)]
    frames, kind, dims, (bpp, palette) = multimodal._avi_frames(payload)
    assert bpp == 8 and len(palette) == 256
    assert palette[5] == bytes(multimodal.dib_palette_entry(5))
    with pytest.raises(ValueError, match="past the"):
        multimodal._dib_bgr_prefix(frames[0], 6, 4, 8, palette[:10], 8)


def test_avi_dib_32bit_roundtrip():
    """32-bit BGRX DIB: every 4th stored byte (X) is dropped from the
    decoded BGR stream."""
    payload = multimodal.encode_avi(5, 3, 2, 40, codec="DIB ", bpp=32)
    meta = multimodal.decode_avi(payload)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (5, 3, 2)
    got = [round(f * 255) for f in meta["feature"]]
    # stride = 4*5 = 20; decoded byte j -> stored 4*(j//3) + j%3
    assert got == [(40 + 4 * (j // 3) + j % 3) % 256 for j in range(8)]
    _, _, _, layout = multimodal._avi_frames(payload)
    assert layout == (32, None)


def test_mulaw_wav_decode():
    """G.711 mu-law expansion: spec corner values + feature mapping that
    recovers the exact integer sample through float32."""
    assert multimodal.mulaw_expand(0xFF) == 0
    assert multimodal.mulaw_expand(0x00) == -32124
    assert multimodal.mulaw_expand(0x80) == 32124
    payload = multimodal.encode_wav(12, 40, audio_format=7)
    meta = multimodal.decode_wav(payload)
    assert meta["n_frames"] == 12
    got = [round(f * 65536) - 32768 for f in meta["feature"]]
    assert got == [multimodal.mulaw_expand((40 + i) % 256) for i in range(8)]
    # 16-bit mu-law is contradictory -> quarantined
    mutated = bytearray(payload)
    import struct as _struct

    _struct.pack_into("<H", mutated, 34, 16)  # bits-per-sample field
    with pytest.raises(ValueError, match="G.711"):
        multimodal.decode_wav(bytes(mutated))


def test_alaw_wav_decode():
    """G.711 A-law expansion: spec corner values (min step 8, max 32256,
    sign bit SET = positive) + feature mapping exactness."""
    assert multimodal.alaw_expand(0xD5) == 8
    assert multimodal.alaw_expand(0x55) == -8
    assert multimodal.alaw_expand(0xAA) == 32256
    assert multimodal.alaw_expand(0x2A) == -32256
    payload = multimodal.encode_wav(12, 40, audio_format=6)
    meta = multimodal.decode_wav(payload)
    assert meta["n_frames"] == 12
    got = [round(f * 65536) - 32768 for f in meta["feature"]]
    assert got == [multimodal.alaw_expand((40 + i) % 256) for i in range(8)]
    # 16-bit A-law is contradictory -> quarantined
    mutated = bytearray(payload)
    import struct as _struct

    _struct.pack_into("<H", mutated, 34, 16)
    with pytest.raises(ValueError, match="G.711"):
        multimodal.decode_wav(bytes(mutated))


def test_ima_adpcm_wav_decode():
    """IMA-ADPCM: the WAV decoder's nibble state machine reproduces the
    encoder's reconstruction list bit-for-bit, the fact chunk truncates
    the padded final block, and malformed streams quarantine."""
    import struct as _struct

    n, seed = 100, 123
    samples = []
    for i in range(n):
        t = (seed + i) % 510
        v = t if t < 255 else 510 - t
        samples.append((v - 128) * 257)
    data, recon = multimodal.ima_adpcm_encode(samples, block_align=5)
    payload = multimodal.encode_wav_adpcm(n, seed, block_align=5)
    meta = multimodal.decode_wav(payload)
    assert meta["n_frames"] == n  # fact chunk wins over block padding
    got = [round(f * 65536) - 32768 for f in meta["feature"]]
    assert got == recon[: multimodal.FEATURE_DIM]
    # block-header samples are the exact (clamped) source values
    for j in (0, 3, 6, 9, 30):
        assert recon[j] == max(-32768, samples[j])
    # reconstruction tracks a continuous wave closely (real ADPCM, not
    # just state-machine agreement): max error < 4 steps of the wave
    assert max(abs(r - s) for r, s in zip(recon, samples)) < 1200
    # stereo ADPCM / bad step index / truncated block header quarantine
    bad = bytearray(payload)
    _struct.pack_into("<H", bad, 22, 2)  # n_channels field
    with pytest.raises(ValueError, match="stereo"):
        multimodal.decode_wav(bytes(bad))
    bad = bytearray(payload)
    di = payload.index(b"data") + 8
    bad[di + 2] = 89  # step index > 88
    with pytest.raises(ValueError, match="step index"):
        multimodal.decode_wav(bytes(bad))


def test_avi_mjpeg_roundtrip_and_corruption():
    """Real video: RIFF/AVI container walk + per-frame baseline JPEG."""
    payload = multimodal.encode_avi(12, 10, 4, 30)
    meta = multimodal.decode_avi(payload)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (12, 10, 4)
    assert len(meta["frames"]) == 4
    # frame f is a standalone JPEG seeded 30+f
    f2 = multimodal.decode_jpeg(meta["frames"][2])
    got = [round(v * 255) for v in f2["feature"]]
    assert all(abs(g - (32 + j)) <= 3 for j, g in enumerate(got))
    # dispatcher: decode_av strips the frame list
    d = multimodal.decode_av(payload, "video", fake=False)
    assert "frames" not in d and d["n_frames"] == 4
    with pytest.raises(ValueError):
        multimodal.decode_avi(payload[:-10])
    # bit-flipped frame in a DECLARED-MJPEG stream = corrupt data ->
    # ValueError (quarantine), never a codec stub
    bad = bytearray(payload)
    bad[payload.index(b"\xff\xd8")] = 0x00
    with pytest.raises(ValueError, match="corrupt AVI frame"):
        multimodal.decode_avi(bytes(bad))
    # a DIFFERENT declared codec is the genuine codec gap
    other = bytearray(bad)
    h = other.index(b"vidsMJPG")
    other[h + 4 : h + 8] = b"H264"
    with pytest.raises(NotImplementedError, match="H264"):
        multimodal.decode_avi(bytes(other))
    # trailing transfer padding after the declared RIFF size is legal
    assert multimodal.decode_avi(payload + b"\x00" * 32)["n_frames"] == 4


def test_frame_sampling_quarantines_corrupt_clip(spark):
    """A clip whose LATER frame is corrupt must be droppable via
    on_error='skip' even though frame 0 decodes fine."""
    good = multimodal.encode_avi(8, 8, 3, 10)
    bad = bytearray(multimodal.encode_avi(8, 8, 3, 20))
    # corrupt the 3rd frame's SOI (frames are identical length here)
    idxs = [i for i in range(len(bad) - 1)
            if bad[i] == 0xFF and bad[i + 1] == 0xD8]
    bad[idxs[-1]] = 0x00
    media = spark.createDataFrame(
        [
            Row(media_id=0, payload=bytearray(good), media_type="video"),
            Row(media_id=1, payload=bad, media_type="video"),
        ],
        schema=multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.sample_frames(
        media, every_n=2, fake=False, on_error="skip"
    ).collect()
    assert {r["media_id"] for r in rows} == {0}
    with pytest.raises(Exception):
        multimodal.sample_frames(media, every_n=2, fake=False).collect()


def test_real_frame_sampling_through_spark(spark, docs_df):
    media = multimodal.media_avi_from_documents(docs_df)
    rows = multimodal.sample_frames(media, every_n=2, fake=False).collect()
    got = {}
    for r in rows:
        got.setdefault(r["media_id"], []).append(r["frame_idx"])
    for i, _, _ in DOCS:
        nf = 1 + i % 5
        assert sorted(got[i]) == list(range(0, nf, 2))
    # frame hash is over the frame's actual JPEG bytes
    p = multimodal.encode_avi(8 + 0 % 24, 8 + 0 % 16, 1 + 0 % 5, 0 % 200)
    frames = multimodal.decode_avi(p)["frames"]
    r0 = next(r for r in rows if r["media_id"] == 0 and r["frame_idx"] == 0)
    assert r0["frame_sha"] == hashlib.sha256(frames[0]).hexdigest()


def test_wav_roundtrip_and_corruption():
    payload = multimodal.encode_wav(25, 7, sample_rate=16000, n_channels=2)
    meta = multimodal.decode_wav(payload)
    assert meta["n_frames"] == 25 and meta["sample_rate"] == 16000
    assert meta["n_channels"] == 2 and meta["width"] == 0
    # sample i channel c = (7 + i + c) % 256, interleaved
    assert [round(f * 255) for f in meta["feature"]] == [7, 8, 8, 9, 9, 10, 10, 11]
    with pytest.raises(ValueError):
        multimodal.decode_wav(payload[:-9])  # truncated data chunk
    # non-PCM format tag -> compressed, ValueError
    import struct as _struct

    mutated = bytearray(payload)
    _struct.pack_into("<H", mutated, 20, 85)  # format 85 = MP3
    with pytest.raises(ValueError, match="compressed WAV"):
        multimodal.decode_wav(bytes(mutated))


def test_png_wav_decode_through_spark(spark, docs_df):
    png_meta = {
        r["media_id"]: r
        for r in multimodal.extract_media_metadata(
            multimodal.media_png_from_documents(docs_df), fake=False
        ).collect()
    }
    wav_meta = {
        r["media_id"]: r
        for r in multimodal.extract_media_metadata(
            multimodal.media_wav_from_documents(docs_df), fake=False
        ).collect()
    }
    for i, _, _ in DOCS:
        assert png_meta[i]["width"] == 1 + i % 32
        assert png_meta[i]["height"] == 1 + i % 24
        assert wav_meta[i]["n_frames"] == 1 + i % 100
        assert wav_meta[i]["n_bytes"] == 44 + (1 + i % 100)


def test_bmp_roundtrip_real_decode():
    payload = multimodal.encode_bmp(13, 7, 200)
    meta = multimodal.decode_image(payload, fake=False)
    assert meta["width"] == 13 and meta["height"] == 7 and meta["n_frames"] == 1
    assert meta["feature"] == [200 / 255.0] * multimodal.FEATURE_DIM
    # n_bytes accounting: header + 4-byte-padded rows
    assert len(payload) == 54 + multimodal.bmp_stride(13) * 7
    with pytest.raises(ValueError):
        multimodal.decode_bmp(b"BMxx")  # truncated


def test_ppm_real_decode():
    payload = b"P6\n# a comment\n5 3\n255\n" + bytes(range(45))
    meta = multimodal.decode_image(payload, fake=False)
    assert meta["width"] == 5 and meta["height"] == 3
    assert meta["feature"] == [b / 255.0 for b in range(multimodal.FEATURE_DIM)]


def test_bmp_decode_through_spark(spark, docs_df):
    media = multimodal.media_bmp_from_documents(docs_df)
    meta = {
        r["media_id"]: r
        for r in multimodal.extract_media_metadata(media, fake=False).collect()
    }
    for i, _, _ in DOCS:
        assert meta[i]["width"] == 1 + i % 64
        assert meta[i]["height"] == 1 + i % 48
        assert meta[i]["n_bytes"] == 54 + multimodal.bmp_stride(1 + i % 64) * (
            1 + i % 48
        )


def test_dedup_pipeline_drop_list(spark):
    from pyspark.sql import Row

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text=base),
            Row(doc_id=1, text="  ".join(base.split())),  # exact dup (normalized)
            Row(doc_id=2, text=base.replace("tango", "zulu")),  # 17/19 Jaccard
            Row(doc_id=3, text="completely different content about spark pipelines"),
        ]
    )
    drops = {
        r["doc_id"]: (r["dup_of"], r["reason"])
        for r in dedup.dedup_pipeline(df, jaccard_pct=80).collect()
    }
    # doc 1 normalizes to doc 0's content -> exact drop; the near-dup is
    # dropped against the REPRESENTATIVE (0), not the exact dup (1)
    assert drops == {1: (0, "exact"), 2: (0, "near")}


def test_cross_neardup_flags_only_cross_pairs(spark):
    """An increment doc near-duplicating a corpus doc is reported with
    its lowest corpus match; near-dups WITHIN a side never pair, and an
    unrelated increment doc stays clean."""
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    corpus = spark.createDataFrame(
        [
            Row(doc_id=0, text=base),
            Row(doc_id=1, text=base),  # same content: both should match
            Row(doc_id=2, text="unrelated corpus text about warehouses"),
        ]
    )
    inc = spark.createDataFrame(
        [
            Row(doc_id=100, text=base.replace("tango", "zulu")),  # near-dup
            Row(doc_id=101, text=base.replace("tango", "zulu")),  # its twin
            Row(doc_id=102, text="fresh snapshot content, nothing shared"),
        ]
    )
    got = {
        r["doc_id"]: (r["n_matches"], r["first_match"])
        for r in dedup.cross_neardup(corpus, inc, jaccard_pct=80).collect()
    }
    # 100 and 101 each match corpus docs 0 AND 1 (cross-side only: the
    # 100<->101 identity pair is never formed); 102 has no report
    assert got == {100: (2, 0), 101: (2, 0)}
    # bucket_cap drops a flooded corpus bucket: cap=1 removes the
    # two-doc corpus bucket, so nothing verifies
    capped = dedup.cross_neardup(corpus, inc, jaccard_pct=80, bucket_cap=1)
    assert capped.count() == 0


def test_dedup_pipeline_identical_flood_no_pair_explosion(spark):
    """200 identical docs: exact dedup collapses them to ONE representative
    before MinHash, so the LSH self-join sees singleton buckets — this
    completes instantly instead of exploding into 200*199/2 pairs."""
    from pyspark.sql import Row

    flood = spark.createDataFrame(
        [Row(doc_id=i, text="same words repeated here for everyone") for i in range(200)]
        + [Row(doc_id=1000, text="a genuinely different document about other things")]
    )
    rows = dedup.dedup_pipeline(flood).collect()
    assert len(rows) == 199
    assert all(r["reason"] == "exact" and r["dup_of"] == 0 for r in rows)


def test_lsh_bucket_cap_drops_flooded_buckets(spark):
    """Raw lsh_candidate_pairs with a bucket_cap drops over-full buckets
    (the documented guard when callers skip exact dedup)."""
    from pyspark.sql import Row

    flood = spark.createDataFrame(
        [Row(doc_id=i, text="same words repeated here for everyone") for i in range(50)]
    )
    assert dedup.lsh_candidate_pairs(flood, bucket_cap=10).count() == 0
    assert dedup.lsh_candidate_pairs(flood, bucket_cap=None).count() == 50 * 49 // 2


def test_simhash_block_cap(spark):
    from pyspark.sql import Row

    flood = spark.createDataFrame(
        [Row(doc_id=i, text="same words repeated here for everyone") for i in range(50)]
    )
    assert dedup.simhash_near_pairs(flood, bucket_cap=10).count() == 0
    assert (
        dedup.simhash_near_pairs(flood, bucket_cap=None).count() == 50 * 49 // 2
    )


def test_latest_per_source(spark):
    from pyspark.sql import Row

    from weblog_pipeline.ops import corpus

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a", lang="en", source="s1", n_chars=10),
            Row(doc_id=5, text="b", lang="en", source="s1", n_chars=20),
            Row(doc_id=3, text="c", lang="de", source="s2", n_chars=30),
        ]
    )
    got = {r["source"]: (r["doc_id"], r["n_chars"]) for r in corpus.latest_per_source(df).collect()}
    assert got == {"s1": (5, 20), "s2": (3, 30)}


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    import hashlib

    from pyspark.sql import Row

    from weblog_pipeline.ops import corpus

    rows = [
        Row(doc_id=i, text="t", lang=("en" if i % 2 == 0 else "de"), source="s", n_chars=1)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows)
    rates = {"en": 50, "de": 10}
    got = {r["doc_id"] for r in corpus.stratified_sample(df, rates).collect()}
    # python twin of the hash-bucket rule
    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 100

    expected = {
        i for i in range(400)
        if bucket(i) < rates["en" if i % 2 == 0 else "de"]
    }
    assert got == expected
    # re-run identical (no RNG)
    assert {r["doc_id"] for r in corpus.stratified_sample(df, rates).collect()} == got


def test_clean_corpus_drops_dups_and_junk(spark):
    from pyspark.sql import Row

    from weblog_pipeline.ops import corpus

    good = (
        "the quick brown fox jumps over the lazy dog and then the dog "
        "sleeps while the fox runs away into the woods again and again"
    )
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text=good, lang="en", source="s", n_chars=len(good)),
            Row(doc_id=1, text=good.upper(), lang="en", source="s", n_chars=len(good)),  # exact dup
            Row(doc_id=2, text="kurz und knapp ohne englische worte", lang="de", source="s", n_chars=35),
            Row(doc_id=3, text="tiny", lang="en", source="s", n_chars=4),  # too few tokens
        ]
    )
    kept = {r["doc_id"] for r in corpus.clean_corpus(df).collect()}
    assert kept == {0}


def test_dup_ngram_stats(spark):
    from pyspark.sql import Row

    from weblog_pipeline.ops import corpus

    common = "the quick brown fox"
    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"{common} variant {i} here", lang="en", source="s", n_chars=1)
         for i in range(6)]
        + [Row(doc_id=99, text="totally unique words nothing shared", lang="en", source="s", n_chars=1)]
    )
    rows = {r["doc_id"]: r for r in corpus.dup_ngram_stats(df, df_threshold=4).collect()}
    # 'the quick brown', 'quick brown fox', 'brown fox variant' appear in
    # all 6 docs (> 4) -> boilerplate; 'fox variant {i}' / 'variant {i} here' unique
    assert rows[0]["n_boiler"] == 3 and rows[0]["n_grams"] == 5
    assert rows[0]["boiler_pct_x100"] == 3 * 10000 // 5
    assert rows[99]["n_boiler"] == 0


def test_tfidf_topk_python_twin(spark):
    import math

    texts = {
        0: "apple banana apple",
        1: "banana cherry",
        2: "apple cherry cherry date",
    }
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in texts.items()])
    got = {
        (r["doc_id"], r["rank"]): (r["token"], r["tf"], r["score_micro"])
        for r in textstats.tfidf_topk(df, k=2).collect()
    }
    n = len(texts)
    docs_tokens = {i: t.split() for i, t in texts.items()}
    dfreq = {}
    for toks in docs_tokens.values():
        for t in set(toks):
            dfreq[t] = dfreq.get(t, 0) + 1
    for i, toks in docs_tokens.items():
        scored = []
        for t in set(toks):
            tf = toks.count(t)
            idf_micro = math.floor(
                math.log((n + 1) / (dfreq[t] + 1)) * 1_000_000
            )
            scored.append((-tf * idf_micro, t, tf, tf * idf_micro))
        scored.sort()
        for rank, (_, t, tf, score) in enumerate(scored[:2], start=1):
            assert got[(i, rank)] == (t, tf, score), (i, rank)


def test_perplexity_buckets_integer_thresholds(spark):
    """Bucket decision is the integer inequality sum_lp_micro >= -T * n.
    Corpus built so each doc's average bigram lp is exactly computable:

      doc 0 "a a a a a a": every bigram (a,a) has c=5 = c(a,.) -> lp 0
            -> head (avg 0 >= -1).
      doc 1 "p b p c ... p i": 8 bigrams (p,X) at ln(1/9) = -2.197 and 7
            (X,p) at ln(1/1) = 0 -> avg -1.172 -> middle.
      doc 2 "p z": single bigram at ln(1/9) = -2.197 -> tail.
      doc 3 "x": no bigrams -> excluded entirely.
    """
    texts = {
        0: "a a a a a a",
        1: "p b p c p d p e p f p g p h p i",
        2: "p z",
        3: "x",
    }
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in texts.items()])
    got = {r["bucket"]: (r["n_docs"], r["sum_bigrams"])
           for r in textstats.perplexity_buckets(df).collect()}
    assert got == {"head": (1, 5), "middle": (1, 15), "tail": (1, 1)}


def test_embedding_dim_stats_integer_moments(spark):
    """Quantize-then-sum moments: floor(x*1000) per component, exact
    integer count/sum/sum-of-squares per dimension."""
    rows = [
        Row(vec_id=0, embedding=[0.5, -0.25]),
        Row(vec_id=1, embedding=[0.0015, 1.0]),
    ]
    got = {
        r["dim"]: (r["n"], r["s1"], r["s2"])
        for r in similarity.embedding_dim_stats(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<float>"
            )
        ).collect()
    }
    # dim0: q = floor(500), floor(1.5)=1 -> s1=501, s2=250001
    # dim1: q = floor(-250), floor(1000) -> s1=750, s2=62500+1000000
    assert got == {0: (2, 501, 250001), 1: (2, 750, 1062500)}


def test_source_boilerplate_fractional_per_source(spark):
    """A line in >=30% of ONE source's docs is flagged for that source
    only; globally-shared-but-rare-within-source lines and small sources
    are not."""
    import hashlib

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    rows = []
    # source A: 10 docs, "NAV-A" on 5 of them (50% -> flagged),
    # "RARE" on 2 (20% -> not flagged)
    for i in range(10):
        t = f"body {i}"
        if i % 2 == 0:
            t += "\nNAV-A"
        if i in (0, 1):
            t += "\nRARE"
        rows.append(Row(doc_id=i, source="A", text=t))
    # source B: 3 docs (< min_docs), all share "NAV-B" -> skipped
    for i in range(3):
        rows.append(Row(doc_id=100 + i, source="B", text=f"x {i}\nNAV-B"))
    got = {
        (r["source"], r["line_md5"], r["line_df"], r["n_docs"])
        for r in corpus.source_boilerplate(
            spark.createDataFrame(rows), min_docs=10, pct=30
        ).collect()
    }
    assert got == {("A", md5("NAV-A"), 5, 10)}


def test_embedding_covariance_upper_triangle_exact(spark):
    """mapInPandas outer-product partials sum to the exact integer
    cross-moments; the diagonal equals embedding_dim_stats' s2."""
    rows = [
        Row(vec_id=0, embedding=[0.5, -0.25]),
        Row(vec_id=1, embedding=[0.0015, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["dim_i"], r["dim_j"]): r["s_ij"]
        for r in similarity.embedding_covariance(df).collect()
    }
    # q-vectors: [500, -250], [1, 1000]
    assert got == {
        (0, 0): 500 * 500 + 1 * 1,
        (0, 1): 500 * -250 + 1 * 1000,
        (1, 1): (-250) * (-250) + 1000 * 1000,
    }
    diag = {
        r["dim"]: r["s2"]
        for r in similarity.embedding_dim_stats(df).collect()
    }
    assert got[(0, 0)] == diag[0] and got[(1, 1)] == diag[1]


def test_embedding_outliers_flags_scaled_and_zeroed(spark):
    """Quantized squared norm flags a zeroed vector low and a
    double-scaled vector high; a unit-ish vector flags neither."""
    unit = [0.125] * 64                  # q=125, norm2 = 64*125^2 = 1_000_000
    rows = [
        Row(vec_id=0, embedding=unit),
        Row(vec_id=1, embedding=[0.0] * 64),
        Row(vec_id=2, embedding=[0.25] * 64),   # q=250 -> 4_000_000
    ]
    got = {
        r["vec_id"]: (r["norm2_q"], r["is_low"], r["is_high"])
        for r in similarity.embedding_outliers(
            spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        ).collect()
    }
    assert got == {
        0: (1_000_000, False, False),
        1: (0, True, False),
        2: (4_000_000, False, True),
    }


def test_key_skew_topk_ties_and_share(spark):
    """Top-k hot keys ranked (count desc, key asc); share in integer
    basis points; totals on every row."""
    rows = (
        [Row(k=7) for _ in range(6)]
        + [Row(k=3) for _ in range(3)]
        + [Row(k=5) for _ in range(3)]
        + [Row(k=9)]
    )
    got = [
        (r["rank"], r["key"], r["n"], r["share_bp"], r["n_rows"], r["n_keys"])
        for r in corpus.key_skew(spark.createDataFrame(rows), "k", top_k=3)
        .orderBy("rank")
        .collect()
    ]
    # 13 rows, 4 keys; ties between "3" and "5" break on key string
    assert got == [
        (1, "7", 6, 4615, 13, 4),
        (2, "3", 3, 2307, 13, 4),
        (3, "5", 3, 2307, 13, 4),
    ]


def test_source_overlap_counts_and_stop_gram_cap(spark):
    """Pairs count distinct shared shingles; a gram present in more
    sources than src_cap is a stop-gram excluded from pair generation
    (but still counted in per-source totals)."""
    shared = "alpha beta gamma"          # in A and B -> 1 shared shingle
    stop = "omega omega omega"           # in A, B, C -> capped out at cap=2
    rows = [
        Row(doc_id=1, source="A", text=f"{shared} {stop}"),
        Row(doc_id=2, source="B", text=f"{shared} only here {stop}"),
        Row(doc_id=3, source="C", text=f"unrelated words entirely {stop}"),
    ]
    got = {
        (r["source_a"], r["source_b"]): (
            r["n_shared"], r["n_grams_a"], r["n_grams_b"]
        )
        for r in corpus.source_overlap(
            spark.createDataFrame(rows), src_cap=2
        ).collect()
    }
    # doc A tokens: alpha beta gamma omega omega omega -> 4 shingles
    # A&B share: "alpha beta gamma", "beta gamma omega"?  B has
    # "... gamma only here ..." so only "alpha beta gamma" matches; the
    # omega-chain shingles differ except "omega omega omega" (in all 3,
    # capped).  Totals count ALL distinct shingles per source.
    assert got[("A", "B")][0] == 1
    assert ("A", "C") not in got and ("B", "C") not in got
    assert got[("A", "B")][1] == 4  # A: 6 tokens -> 4 distinct shingles
    """Exact distinct collapses duplicate content; the HLL++ estimate
    stays inside max(3, 15%) of exact on a planted corpus (deterministic
    — no RNG in the sketch, so this can never flake)."""
    rows = [
        Row(doc_id=i, source="a", text=f"unique {i}") for i in range(200)
    ] + [
        Row(doc_id=1000 + i, source="b", text="same") for i in range(50)
    ] + [Row(doc_id=2000, source="b", text=None)]
    got = {
        r["source"]: (r["n_exact"], r["within_bound"])
        for r in corpus.cardinality_audit(
            spark.createDataFrame(rows, "doc_id long, source string, text string")
        ).collect()
    }
    assert got == {"a": (200, True), "b": (1, True)}


def test_token_windows_boundaries(spark):
    """Window/stride arithmetic: n<=window -> one chunk; the start
    sequence extends exactly far enough to cover the tail; empty docs
    emit nothing; the final chunk truncates at n_tokens."""
    rows = [
        Row(doc_id=0, text=" ".join(["w"] * 10)),   # n=10, 1 chunk
        Row(doc_id=1, text=" ".join(["w"] * 11)),   # n=11 -> k_max=1
        Row(doc_id=2, text=" ".join(["w"] * 25)),   # n=25 -> k_max=3
        Row(doc_id=3, text="   "),                  # 0 tokens -> no rows
    ]
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["start_tok"], r["end_tok"])
        for r in corpus.token_windows(
            spark.createDataFrame(rows), window=10, stride=5
        ).collect()
    )
    assert got == [
        (0, 0, 0, 10),
        (1, 0, 0, 10), (1, 1, 5, 11),
        (2, 0, 0, 10), (2, 1, 5, 15), (2, 2, 10, 20), (2, 3, 15, 25),
    ]
    # every token index < n is covered by at least one chunk
    for n in (1, 10, 11, 25, 26, 99):
        covered = set()
        for _, _, s, e in [
            (0, c["chunk_idx"], c["start_tok"], c["end_tok"])
            for c in corpus.token_windows(
                spark.createDataFrame([Row(doc_id=0, text=" ".join(["w"] * n))]),
                window=10,
                stride=7,
            ).collect()
        ]:
            covered |= set(range(s, e))
        assert covered == set(range(n)), n
    with pytest.raises(ValueError, match="stride"):
        corpus.token_windows(spark.createDataFrame(rows), window=4, stride=5)


def test_mixture_weights_sqrt_flattening(spark):
    """alpha=0.5 boosts the tail: a 100:1 doc-count ratio becomes a 10:1
    weight ratio. s_kilo = floor(1000*sqrt(n)); weights are basis points
    of the s_kilo total (integer division)."""
    rows = [
        Row(doc_id=i, source="big" if i < 100 else "small")
        for i in range(101)
    ]
    got = {
        r["source"]: (r["n_docs"], r["s_kilo"], r["weight_bp"])
        for r in corpus.mixture_weights(
            spark.createDataFrame(rows)
        ).collect()
    }
    # sqrt(100)*1000 = 10000, sqrt(1)*1000 = 1000, total 11000
    assert got == {
        "big": (100, 10000, 10000 * 10000 // 11000),
        "small": (1, 1000, 1000 * 10000 // 11000),
    }
    # proportional sampling would give big 99%; sqrt gives it ~91%
    assert 9000 < got["big"][2] < 9200


def test_length_quantiles_exact_discrete(spark):
    """Quantile p is the value at 0-based sorted position
    floor((n-1)*p/100) — lower interpolation, integer-exact.

    'en' lengths sorted: [1,2,3,4,5,6,7,8,9,10] (n=10): p10 -> pos 0 ->
    1? floor(9*10/100)=0 -> 1; p50 -> floor(9*50/100)=4 -> 5; p90 ->
    floor(9*90/100)=8 -> 9. 'de' has one doc: every quantile is it.
    Ties collapse through the per-length counts, NULL text is excluded."""
    rows = [
        Row(doc_id=i, text="x" * (i + 1), lang="en") for i in range(10)
    ] + [
        Row(doc_id=100, text="yyy", lang="de"),
        Row(doc_id=101, text=None, lang="de"),
    ]
    got = {
        r["lang"]: (r["n_docs"], r["p10_len"], r["p50_len"], r["p90_len"])
        for r in textstats.length_quantiles(
            spark.createDataFrame(rows, "doc_id long, text string, lang string")
        ).collect()
    }
    assert got == {"en": (10, 1, 5, 9), "de": (1, 3, 3, 3)}


def test_pii_scrub(spark):
    df = spark.createDataFrame(
        [
            Row(
                doc_id=0,
                text="mail bob@example.com or alice@foo.org, ip 10.1.2.3, call 555-123-4567",
            ),
            Row(doc_id=1, text="+4915112345678 dialed 192.168.0.1 twice"),
            Row(doc_id=2, text="no pii here"),
        ]
    )
    got = {r["doc_id"]: r for r in textstats.pii_scrub(df).collect()}
    assert (got[0]["n_emails"], got[0]["n_ipv4"], got[0]["n_phones"]) == (2, 1, 1)
    assert (
        got[0]["clean_text"]
        == "mail [EMAIL] or [EMAIL], ip [IP], call [PHONE]"
    )
    assert (got[1]["n_emails"], got[1]["n_ipv4"], got[1]["n_phones"]) == (0, 1, 1)
    assert got[1]["clean_text"] == "[PHONE] dialed [IP] twice"
    assert got[2]["clean_text"] == "no pii here"
    assert (got[2]["n_emails"], got[2]["n_ipv4"], got[2]["n_phones"]) == (0, 0, 0)


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b\nfoo\nfoo\na b"),
            Row(doc_id=1, text=""),
            Row(doc_id=2, text="one two"),
        ]
    )
    got = {r["doc_id"]: r for r in corpus.repetition_stats(df).collect()}
    # doc 0: 4 non-empty lines, 2 distinct -> 2 dups; tokens a b foo foo a b
    # -> 2-grams [a b, b foo, foo foo, foo a, a b]: top "a b" = 2 of 5
    assert got[0]["n_lines"] == 4 and got[0]["n_dup_lines"] == 2
    assert got[0]["dup_line_bp"] == 5000
    assert got[0]["n_2grams"] == 5 and got[0]["top_2gram_n"] == 2
    assert got[0]["top_2gram_bp"] == 4000
    assert got[1]["n_lines"] == 0 and got[1]["top_2gram_bp"] == 0
    assert got[2]["n_lines"] == 1 and got[2]["n_dup_lines"] == 0
    assert got[2]["n_2grams"] == 1 and got[2]["top_2gram_bp"] == 10000


def test_dedup_lines_reassembly(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="keep me\nFOOTER\nalso keep"),
            Row(doc_id=1, text="other\nFOOTER"),
            Row(doc_id=2, text="FOOTER"),
            Row(doc_id=3, text="a\n\nb"),  # empty line preserved
        ]
    )
    got = {r["doc_id"]: r for r in corpus.dedup_lines(df, max_df=1).collect()}
    assert got[0]["text"] == "keep me\nalso keep" and got[0]["n_dropped"] == 1
    assert got[0]["n_lines"] == 3
    assert got[1]["text"] == "other"
    assert got[2]["text"] == "" and got[2]["n_dropped"] == 1
    assert got[3]["text"] == "a\n\nb" and got[3]["n_dropped"] == 0


def test_resize_bmp_nearest_neighbor_kernel():
    # 4x2 gradient: pixel (x,y) = (v, v, v) with v = y*4 + x
    w, h = 4, 2
    stride = multimodal.bmp_stride(w)
    import struct as _struct

    data = bytearray(stride * h)
    for y in range(h):
        for x in range(w):
            v = y * 4 + x
            data[y * stride + x * 3 : y * stride + x * 3 + 3] = bytes([v] * 3)
    payload = (
        b"BM"
        + _struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + _struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
        + bytes(data)
    )
    out = multimodal.resize_bmp(payload, 2, 1)
    meta = multimodal.decode_image(out, fake=False)
    assert meta["width"] == 2 and meta["height"] == 1
    # nearest-neighbor picks src pixels (0,0) and (2,0): values 0 and 2
    pix = out[54:]
    assert pix[0:3] == b"\x00\x00\x00" and pix[3:6] == b"\x02\x02\x02"


def test_resize_bmp_matches_per_pixel_reference():
    """The numpy gather kernel must emit byte-identical output to the
    per-pixel round-half-down reference loop (incl. padded strides,
    non-divisible scale factors, up- and down-scaling)."""
    import struct as _struct

    def reference(payload, tw, th):
        data_offset = _struct.unpack_from("<I", payload, 10)[0]
        w, h = _struct.unpack_from("<ii", payload, 18)
        w, h = abs(w), abs(h)
        ss, ds = multimodal.bmp_stride(w), multimodal.bmp_stride(tw)
        out = bytearray(ds * th)
        for y in range(th):
            sy = y * h // th
            for x in range(tw):
                sx = x * w // tw
                s = data_offset + sy * ss + sx * 3
                out[y * ds + x * 3 : y * ds + x * 3 + 3] = payload[s : s + 3]
        return bytes(out)

    import random

    rng = random.Random(7)
    for w, h, tw, th in [(5, 3, 2, 2), (3, 7, 8, 4), (6, 6, 6, 6), (1, 1, 4, 4)]:
        stride = multimodal.bmp_stride(w)
        data = bytes(rng.randrange(256) for _ in range(stride * h))
        payload = (
            b"BM"
            + _struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
            + _struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
            )
            + data
        )
        assert multimodal.resize_bmp(payload, tw, th)[54:] == reference(
            payload, tw, th
        )


def test_truncated_bmp_is_quarantined(spark):
    """ADVICE regression: a BMP whose header declares 3x2 but whose pixel
    data is truncated must raise (and be dropped in skip mode), never emit
    a short, internally inconsistent output."""
    import struct as _struct

    import pytest as _pytest

    w, h = 3, 2
    full = multimodal.encode_bmp(w, h, 7)
    truncated = full[: 54 + 15]  # 15 of the 24 declared data bytes
    with _pytest.raises(ValueError, match="truncated"):
        multimodal.resize_bmp(truncated, 3, 2)
    with _pytest.raises(ValueError, match="truncated"):
        multimodal.decode_bmp(truncated)

    media = spark.createDataFrame(
        [
            Row(media_id=0, payload=bytearray(full), media_type="image"),
            Row(media_id=1, payload=bytearray(truncated), media_type="image"),
        ],
        schema=multimodal.MEDIA_SCHEMA,
    )
    meta = multimodal.extract_media_metadata(media, fake=False, on_error="skip").collect()
    assert [r["media_id"] for r in meta] == [0]
    resized = multimodal.resize_images(media, 2, 2, on_error="skip").collect()
    assert [r["media_id"] for r in resized] == [0]


def test_null_payload_is_quarantined_in_both_udfs(spark):
    """Review regression: a NULL payload must be quarantined (skip) or
    raise ValueError (raise) in BOTH media UDFs — never a TypeError from
    bytes(None) outside the try block."""
    media = spark.createDataFrame(
        [
            Row(media_id=0, payload=bytearray(multimodal.encode_bmp(2, 2, 1)),
                media_type="image"),
            Row(media_id=1, payload=None, media_type="image"),
        ],
        schema=multimodal.MEDIA_SCHEMA,
    )
    kept_meta = multimodal.extract_media_metadata(
        media, fake=False, on_error="skip"
    ).collect()
    assert [r["media_id"] for r in kept_meta] == [0]
    kept_resized = multimodal.resize_images(media, 2, 2, on_error="skip").collect()
    assert [r["media_id"] for r in kept_resized] == [0]


def test_resize_images_through_spark(spark, docs_df):
    media = multimodal.media_bmp_from_documents(docs_df)
    got = {
        r["media_id"]: (r["width"], r["height"], r["n_bytes"])
        for r in multimodal.resize_images(media, None, None).collect()
    }
    for i, _, _ in DOCS:
        tw = max(1, (1 + i % 64) // 2)
        th = max(1, (1 + i % 48) // 2)
        assert got[i] == (tw, th, 54 + multimodal.bmp_stride(tw) * th)


def test_connected_components_chain_and_islands(spark):
    edges = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=2, doc_b=3), Row(doc_a=3, doc_b=4),
         Row(doc_a=10, doc_b=11), Row(doc_a=20, doc_b=21), Row(doc_a=11, doc_b=12)]
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_duplicate_clusters_merges_exact_and_near(spark):
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text=base),
            Row(doc_id=1, text="  ".join(base.split())),       # exact dup of 0
            Row(doc_id=2, text=base.replace("tango", "zulu")),  # near dup of 0
            Row(doc_id=3, text=base.replace("tango", "zulu").upper()),  # exact dup of 2
            Row(doc_id=9, text="unrelated words entirely different topic here"),
        ]
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.duplicate_clusters(df).collect()}
    # exact(0,1) + near(0,2) + exact(2,3) all merge into one component
    assert got == {0: 0, 1: 0, 2: 0, 3: 0}
    assert 9 not in got  # no duplicate evidence -> not in any cluster


def test_vocab_topk_and_bpe_pairs(spark, docs_df):
    vocab = textstats.vocab_topk(docs_df, k=5).collect()
    assert vocab[0]["rank"] == 1
    by_tok = {r["token"]: r for r in vocab}
    # 'the' occurs 6x across docs 0,1,2 (2 each)
    assert by_tok["the"]["n_occurrences"] == 6 and by_tok["the"]["n_docs"] == 3
    # ranks strictly ordered by (count desc, token asc)
    keys = [(-r["n_occurrences"], r["token"]) for r in vocab]
    assert keys == sorted(keys)

    pairs = textstats.bpe_pair_counts(docs_df, k=10).collect()
    by_pair = {r["pair"]: r["n_occurrences"] for r in pairs}
    assert by_pair["the quick"] == 3  # docs 0,1,2


def test_winnow_fingerprints_robust_to_local_edit(spark):
    import hashlib as _h

    from pyspark.sql import Row

    a = "the quick brown fox jumps over the lazy dog tonight"
    b = a.replace("tonight", "tonite")  # local edit near the end
    df = spark.createDataFrame(
        [Row(doc_id=0, text=a), Row(doc_id=1, text=b), Row(doc_id=2, text="tiny")]
    )
    rows = {r["doc_id"]: r for r in textstats.winnow_fingerprints(df).collect()}
    # python twin for doc 0
    k, window = 8, 4
    grams = [_h.md5(a[i : i + k].encode()).hexdigest() for i in range(len(a) - k + 1)]
    mins = {min(grams[i : i + window]) for i in range(len(grams) - window + 1)}
    assert rows[0]["n_grams"] == len(grams)
    assert rows[0]["n_fingerprints"] == len(mins)
    assert rows[0]["min_fp"] == min(mins)
    # doc 2 is shorter than k+window-1 -> no complete window -> absent
    assert 2 not in rows


def test_bigram_logprob_python_twin(spark):
    import math
    from collections import Counter

    from pyspark.sql import Row

    texts = {
        0: "a b a b c",
        1: "a b c",
        2: "solo",
    }
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts.items()]
    )
    got = {r["doc_id"]: r for r in textstats.bigram_logprob(df).collect()}

    streams = {i: list(zip(t.split(), t.split()[1:])) for i, t in texts.items()}
    bc = Counter(bg for s in streams.values() for bg in s)
    pc = Counter(bg[0] for s in streams.values() for bg in s)
    for i, s in streams.items():
        if not s:
            assert i not in got
            continue
        sum_micro = sum(
            math.floor((math.log(bc[bg]) - math.log(pc[bg[0]])) * 1_000_000)
            for bg in s
        )
        assert got[i]["n_bigrams"] == len(s)
        assert got[i]["sum_lp_micro"] == sum_micro


def test_resize_mixed_axis_and_topdown(spark, docs_df):
    import struct as _struct

    # fixed width + auto height: the given axis is honored, None halves
    media = multimodal.media_bmp_from_documents(docs_df)
    got = {
        r["media_id"]: (r["width"], r["height"])
        for r in multimodal.resize_images(media, target_w=4, target_h=None).collect()
    }
    for i, _, _ in DOCS:
        assert got[i] == (4, max(1, (1 + i % 48) // 2))

    # top-down (negative height) input keeps its row-order sign on output
    src = bytearray(multimodal.encode_bmp(6, 4, 77))
    _struct.pack_into("<i", src, 22, -4)
    out = multimodal.resize_bmp(bytes(src), 3, 2)
    assert _struct.unpack_from("<i", out, 22)[0] == -2
    assert multimodal.decode_image(out, fake=False)["height"] == 2

    # compressed BMPs are rejected like decode_bmp does
    import pytest as _pytest

    bad = bytearray(multimodal.encode_bmp(6, 4, 77))
    _struct.pack_into("<I", bad, 30, 1)  # biCompression = RLE8
    with _pytest.raises(ValueError, match="compressed BMP"):
        multimodal.resize_bmp(bytes(bad), 3, 2)


def _cc_op(spark):
    edges = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=2, doc_b=3), Row(doc_a=10, doc_b=11)]
    )
    return dedup.connected_components(edges)


def _pagerank_op(spark):
    from weblog_pipeline.ops import graph

    edges = spark.createDataFrame(
        [Row(src_host=s, dst_host=t, n_links=n)
         for s, t, n in [("a", "b", 2), ("a", "c", 1), ("b", "c", 3), ("c", "a", 1)]]
    )
    return graph.pagerank(edges, iters=4)


def _bpe_op(spark):
    df = spark.createDataFrame(
        [Row(doc_id=0, text="banana band"), Row(doc_id=1, text="banana")]
    )
    return textstats.bpe_train(df, n_merges=4)


def _markov_op(spark):
    import datetime

    from weblog_pipeline.aggregate import markov_stationary

    base = datetime.datetime(2024, 1, 1)
    seq = ["a", "b"] * 4 + ["a", "c"]
    return markov_stationary(spark.createDataFrame(
        [Row(event_id=i, ts=base + datetime.timedelta(seconds=i), user_id=1,
             event_type=t, value=1.0, props=None) for i, t in enumerate(seq)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ), iters=4)


@pytest.mark.parametrize(
    "op", [_cc_op, _pagerank_op, _bpe_op, _markov_op],
    ids=["connected_components", "pagerank", "bpe_train", "markov_stationary"],
)
def test_iterative_op_reliable_checkpoint(spark, set_checkpoint_dir, tmp_path, op):
    """With a checkpoint dir configured (the production setup), an
    iterative operator's per-iteration state must use RELIABLE
    checkpointing -- files under the dir -- so executor loss mid-iteration
    cannot strand it, and its rows must equal the local-checkpoint run's."""
    import os as _os

    set_checkpoint_dir(None)
    local_rows = sorted(op(spark).collect())
    set_checkpoint_dir(str(tmp_path))
    # keep the result DataFrame referenced until after the file check:
    # cleanCheckpoints=true (build_session) lets the ContextCleaner reap
    # snapshots once their RDD is GC'd, which could race os.walk
    result = op(spark)
    assert sorted(result.collect()) == local_rows
    files = [f for _, _, fs in _os.walk(tmp_path) for f in fs]
    assert files, "no reliable checkpoint files were written"
    del result


def test_connected_components_raises_on_non_convergence(spark):
    from pyspark.sql import Row

    chain = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(6)]  # diameter 6
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=2)
    # enough rounds: converges to the single component
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.connected_components(chain, max_iter=10).collect()}
    assert set(got.values()) == {0}


def test_media_quarantine_skip_mode(spark, docs_df):
    from pyspark.sql import Row

    # one valid BMP, one corrupt payload (truncated header)
    media = spark.createDataFrame(
        [
            Row(media_id=0, payload=bytearray(multimodal.encode_bmp(5, 4, 9)), media_type="image"),
            Row(media_id=1, payload=bytearray(b"BMxx"), media_type="image"),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    # raise mode: the corrupt payload fails the job
    with pytest.raises(Exception):
        multimodal.extract_media_metadata(media, fake=False).collect()
    # skip mode: quarantine — the good row survives, the corrupt one drops
    meta = multimodal.extract_media_metadata(media, fake=False, on_error="skip").collect()
    assert [r["media_id"] for r in meta] == [0]
    resized = multimodal.resize_images(media, 2, 2, on_error="skip").collect()
    assert [r["media_id"] for r in resized] == [0]
    # any other mode is refused when the plan is built, by every decoder
    for stage in (
        multimodal.extract_media_metadata, multimodal.sample_frames,
        multimodal.resize_images, multimodal.media_ahash, multimodal.media_phash,
        multimodal.audio_fingerprint, multimodal.audio_loudness,
        multimodal.media_colorstats,
    ):
        with pytest.raises(ValueError, match="on_error must be 'raise' or 'skip'"):
            stage(media, on_error="ignore")


@pytest.mark.parametrize(
    "exc", [ValueError, struct.error, IndexError, NotImplementedError],
    ids=["ValueError", "struct.error", "IndexError", "NotImplementedError"],
)
def test_map_rows_on_error_contract(spark, exc):
    """The one media row stage's quarantine: under 'skip' a ValueError,
    struct.error or IndexError from the kernel drops EVERY output row of
    that input row, those yielded before the raise included; under
    'raise' it fails the job. NotImplementedError (a codec gap) fails the
    job under both."""
    df = spark.createDataFrame([(0,), (1,), (2,)], "media_id long")

    def two_frames(mid):
        yield {"media_id": mid, "frame_idx": 0}
        if mid == 1:
            raise exc("corrupt frame")
        yield {"media_id": mid, "frame_idx": 1}

    def run(on_error):
        return multimodal._map_rows(
            df, ["media_id"], multimodal.FRAME_SCHEMA, two_frames, on_error
        ).collect()

    raised = "struct.error" if exc is struct.error else exc.__name__
    with pytest.raises(Exception, match=f"{raised}: corrupt frame"):
        run("raise")
    if exc is NotImplementedError:
        with pytest.raises(Exception, match=f"{raised}: corrupt frame"):
            run("skip")
    else:
        got = sorted((r["media_id"], r["frame_idx"], r["frame_sha"]) for r in run("skip"))
        assert got == [(0, 0, None), (0, 1, None), (2, 0, None), (2, 1, None)]


def test_quality_classifier_python_twin(spark):
    import hashlib

    texts = {0: "apple banana apple", 1: "zero", 2: "  ", 3: "Cherry date"}
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in texts.items()])
    weights = textstats.classifier_weights(spark)
    got = {
        r["doc_id"]: (r["n_scored"], r["score"], r["label"])
        for r in textstats.quality_classifier(df, weights).collect()
    }

    def w(tok):
        b = int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % textstats.CLS_BUCKETS
        return (b * textstats._CLS_MULT) % 2**32 % textstats.CLS_W_MOD - 1000

    for i, t in texts.items():
        toks = t.strip().lower().split()
        if not toks:
            assert i not in got  # token-less docs emit no row
            continue
        score = sum(w(tok) for tok in toks)
        assert got[i] == (len(toks), score, "keep" if score >= 0 else "drop"), i


def test_quality_classifier_broadcasts_weights(spark):
    df = spark.createDataFrame([Row(doc_id=0, text="a b c")])
    plan = textstats.quality_classifier(
        df, textstats.classifier_weights(spark)
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the token stream must not be shuffled by bucket to meet the weights
    assert "hashpartitioning(bucket" not in plan


def test_pack_sequences_python_twin(spark):
    texts = {
        0: "a b c",            # 3 tokens
        1: "d e",              # 2
        2: "",                 # 0 (blank)
        3: "f g h i",          # 4
        10: "j k",             # 2 -> new stratum with stratum_docs=10
        11: "l",               # 1
    }
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in texts.items()])
    got = {
        r["doc_id"]: (r["stratum"], r["n_tokens"], r["shard"], r["offset_in_shard"])
        for r in corpus.pack_sequences(df, budget=4, stratum_docs=10).collect()
    }
    expect = {}
    running = {}
    for i in sorted(texts):
        s = i // 10
        n = len(texts[i].split())
        off = running.get(s, 0)
        expect[i] = (s, n, off // 4, off % 4)
        running[s] = off + n
    assert got == expect
    # doc 3 starts at offset 5 -> shard 1 of stratum 0; doc 10 restarts at 0
    assert got[3] == (0, 4, 1, 1)
    assert got[10] == (1, 2, 0, 0)


def test_pack_sequences_window_is_stratum_bounded(spark):
    df = spark.createDataFrame([Row(doc_id=i, text="x y") for i in range(30)])
    plan = corpus.pack_sequences(df, budget=4, stratum_docs=10)._jdf.queryExecution().executedPlan().toString()
    # the running sum must partition by stratum (bounded), never run globally
    assert "partitionspec=[stratum" in plan.lower().replace(" ", "") or "stratum" in plan
    assert "SinglePartition" not in plan


def test_html_meta_python_twin(spark):
    from weblog_pipeline.generate import gen_page
    from weblog_pipeline.ops import htmlstats
    from weblog_pipeline.webpages import generate_webpages

    pages = generate_webpages(spark, 12)
    got = {r["url"]: r for r in htmlstats.html_meta(pages).collect()}
    for i in range(12):
        p = gen_page(i)
        r = got[p.url]
        html = p.html.decode()
        assert r["title"] == f"page {i}"
        assert r["n_paragraphs"] == html.count("<p>")
        assert r["n_markers"] == i % 6
        assert r["header_url_ok"] == 1
        assert r["html_bytes"] == len(p.html)


def test_html_meta_is_single_stage(spark):
    from weblog_pipeline.ops import htmlstats
    from weblog_pipeline.webpages import generate_webpages

    plan = htmlstats.html_meta(generate_webpages(spark, 4))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # scan-bound: no shuffle anywhere


def test_cdc_chunks_python_twin(spark):
    import hashlib
    import re

    texts = {0: "The quick brown fox jumps over the lazy dog again and again",
             1: "tiny", 2: ""}
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in texts.items()])
    got = {}
    for r in dedup.cdc_chunks(df).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["start"], r["chunk_len"], r["chunk_hash"])
        )

    def twin(text):
        t = re.sub(r"\s+", " ", text.strip().lower())
        if not t:
            return None
        cuts = [0] * (len(t) + 1)
        for p in range(2, len(t) - dedup.CDC_K + 2):
            h = int(hashlib.md5(t[p - 1:p - 1 + dedup.CDC_K].encode()).hexdigest()[:4], 16)
            if h % dedup.CDC_MODULUS == 0:
                cuts[p] = 1
        out, cid = {}, 0
        for p in range(1, len(t) + 1):
            cid += cuts[p]
            out.setdefault(cid, []).append(p)
        return [
            (cid, ps[0], len(ps),
             hashlib.md5(t[ps[0] - 1:ps[0] - 1 + len(ps)].encode()).hexdigest())
            for cid, ps in sorted(out.items())
        ]

    for i, t in texts.items():
        want = twin(t)
        if want is None:
            assert i not in got
        else:
            assert sorted(got[i]) == want, i


def test_cdc_chunks_survive_prefix_insertion(spark):
    # THE content-defined property: prepending words shifts offsets but
    # leaves the tail chunks' hashes identical (offset-based chunking loses
    # every chunk after the edit point)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    df = spark.createDataFrame(
        [Row(doc_id=0, text=base), Row(doc_id=1, text="NEW WORDS " + base)]
    )
    by_doc = {0: set(), 1: set()}
    for r in dedup.cdc_chunks(df).collect():
        by_doc[r["doc_id"]].add(r["chunk_hash"])
    shared = by_doc[0] & by_doc[1]
    assert len(shared) >= len(by_doc[0]) // 2  # most chunks re-align


def test_cdc_dup_stats_flags_planted_substring(spark):
    shared = "the exact same boilerplate sentence repeated verbatim here"
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text=f"unique opening words {shared}"),
            Row(doc_id=1, text=f"{shared} different closing words"),
            Row(doc_id=2, text="completely unrelated text with nothing shared"),
        ]
    )
    got = {r["doc_id"]: r for r in dedup.cdc_dup_stats(df).collect()}
    assert got[0]["n_dup_chunks"] > 0 and got[1]["n_dup_chunks"] > 0
    assert got[2]["n_dup_chunks"] == 0


def test_label_centroids_python_twin_with_negatives(spark):
    import math

    vecs = [
        (0, [0.5, -0.3], 1),
        (1, [0.1, -0.9], 1),
        (2, [1.0, 0.25], 2),
    ]
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=e, label=lb) for i, e, lb in vecs]
    )
    got = {
        (r["label"], r["dim"]): (r["n_vecs"], r["centroid_q"])
        for r in similarity.label_centroids(df).collect()
    }
    by_label = {}
    for _, e, lb in vecs:
        by_label.setdefault(lb, []).append(e)
    for lb, es in by_label.items():
        for d in range(2):
            qs = [math.floor(v[d] * 1_000_000) for v in es]
            want = math.floor(sum(qs) / len(qs))  # floor, NOT truncate
            assert got[(lb, d)] == (len(es), want), (lb, d)


def test_pack_rows_matches_pack_sequences(spark):
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["w"] * (i % 7))) for i in range(40)]
    )
    via_text = corpus.pack_sequences(docs, budget=8, stratum_docs=10)
    n_tok = F.when(F.trim("text") == "", F.lit(0)).otherwise(
        F.array_size(F.split(F.trim("text"), r"\s+"))
    )
    via_rows = corpus.pack_rows(
        docs.select("doc_id", n_tok.alias("n_tokens")), budget=8, stratum_docs=10
    )
    assert sorted(map(tuple, via_text.collect())) == sorted(
        map(tuple, via_rows.collect())
    )


def test_jpeg_progressive_equals_baseline_pixels():
    import numpy as np

    # same quantized coefficients -> bit-identical reconstruction, for
    # pure spectral selection AND successive approximation at 1-3 levels
    for (w, h, seed) in [(8, 8, 0), (17, 9, 100), (56, 40, 255), (33, 21, 160)]:
        base = multimodal.decode_jpeg(multimodal.encode_jpeg(w, h, seed))
        for levels in (0, 1, 2, 3):
            prog = multimodal.decode_jpeg(
                multimodal.encode_jpeg_progressive(w, h, seed, levels=levels)
            )
            assert (prog["width"], prog["height"]) == (w, h)
            assert np.array_equal(base["pixels"], prog["pixels"]), (
                w, h, seed, levels,
            )


def test_jpeg_progressive_truncation_quarantined():
    payload = multimodal.encode_jpeg_progressive(24, 16, 77)
    for cut in (len(payload) // 3, len(payload) // 2, len(payload) - 3):
        with pytest.raises(ValueError):
            multimodal.decode_jpeg(payload[:cut])


def test_jpeg_progressive_color_equals_baseline_color():
    import numpy as np

    for (w, h, seed) in [(8, 8, 10), (17, 9, 100), (33, 21, 160)]:
        for sub in (False, True):
            base = multimodal.decode_jpeg(
                multimodal.encode_jpeg_color(w, h, seed, subsample=sub)
            )
            prog = multimodal.decode_jpeg(
                multimodal.encode_jpeg_progressive_color(
                    w, h, seed, subsample=sub
                )
            )
            assert np.array_equal(base["pixels"], prog["pixels"]), (
                w, h, seed, sub,
            )


def test_jpeg_progressive_color_truncation_quarantined():
    payload = multimodal.encode_jpeg_progressive_color(24, 16, 77, subsample=True)
    for cut in (len(payload) // 3, len(payload) // 2, len(payload) - 3):
        with pytest.raises(ValueError):
            multimodal.decode_jpeg(payload[:cut])


def test_jpeg_noninterleaved_sequential_equals_baseline():
    import numpy as np

    for (w, h, seed) in [(8, 8, 10), (17, 9, 100), (33, 21, 160)]:
        for sub in (False, True):
            base = multimodal.decode_jpeg(
                multimodal.encode_jpeg_color(w, h, seed, subsample=sub)
            )
            ni = multimodal.decode_jpeg(
                multimodal.encode_jpeg_color_noninterleaved(
                    w, h, seed, subsample=sub
                )
            )
            assert np.array_equal(base["pixels"], ni["pixels"]), (w, h, seed, sub)


def test_jpeg_noninterleaved_truncation_quarantined():
    payload = multimodal.encode_jpeg_color_noninterleaved(24, 16, 77)
    for cut in (len(payload) // 3, len(payload) // 2, len(payload) - 3):
        with pytest.raises(ValueError):
            multimodal.decode_jpeg(payload[:cut])


def test_ngram_contamination_flags_planted_overlap(spark):
    """A train doc that embeds a probe's exact 3-gram run is flagged with
    the right distinct-gram count; clean docs and sub-3-token docs are
    not; a gram repeated inside one doc counts once."""
    probes = spark.createDataFrame(
        [Row(probe_id=1, text="alpha beta gamma delta")],
    )
    train = spark.createDataFrame(
        [
            # embeds probe grams (alpha beta gamma) and (beta gamma delta)
            Row(doc_id=10, text="x alpha beta gamma delta y"),
            # repeats one shared gram twice -> still 1 distinct shared gram
            Row(doc_id=11, text="alpha beta gamma z alpha beta gamma"),
            Row(doc_id=12, text="totally clean text here"),
            Row(doc_id=13, text="alpha beta"),  # <3 tokens of overlap run
        ]
    )
    got = {
        r["doc_id"]: (r["n_shared_grams"], r["n_probes_hit"], r["first_probe_id"])
        for r in corpus.ngram_contamination(train, probes).collect()
    }
    assert got == {10: (2, 1, 1), 11: (1, 1, 1)}


def test_lsh_dedup_quality_catches_planted_neardup(spark):
    """A perturbed copy (4 appended tokens, Jaccard ~0.95) must appear in
    BOTH the exact ground truth and the LSH candidate set of the audit
    metric; a rewritten LSH that misses it shows up as recall < 10000."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="the quick brown fox jumps over the lazy dog "
                               "and keeps on running far away"),
            Row(doc_id=37, text="completely different words live in this "
                                "document body for contrast purposes"),
            # near-dup of doc 0, in-slice (74 % 37 == 0)
            Row(doc_id=74, text="the quick brown fox jumps over the lazy dog "
                                "and keeps on running far away zq0 zq1"),
            Row(doc_id=5, text="out of slice entirely"),
        ]
    )
    row = dedup.lsh_dedup_quality(docs, sample_mod=37, jaccard_pct=50).collect()[0]
    assert row["n_true"] == 1
    assert row["n_hits"] == 1
    assert row["recall_bp"] == 10000


# ---------------------------------------------------------------- lexical index


def test_posting_lists_python_twin(spark):
    """The per-term top-k against a Python twin: ranks by tf desc, then
    doc_id asc, with every term's df beside them."""
    from collections import Counter

    words = ["alpha", "beta", "gamma", "delta"]
    rows = []
    for d in range(24):
        # doc d repeats words[d % 4] (d // 4 + 1) times plus one 'alpha'
        body = " ".join([words[d % 4]] * (d // 4 + 1) + ["alpha"])
        rows.append(Row(doc_id=d, text=body))
    docs = spark.createDataFrame(rows)
    got = sorted(
        (r["token"], r["rank"], r["doc_id"], r["tf"], r["df"])
        for r in textstats.posting_lists(docs, k=3, min_df=2).collect()
    )
    tf = {(t, r.doc_id): n for r in rows for t, n in Counter(r.text.split()).items()}
    want = []
    for t in words:
        posts = sorted((-n, d) for (tok, d), n in tf.items() if tok == t)
        want += [(t, i + 1, d, -n, len(posts)) for i, (n, d) in enumerate(posts[:3])]
    assert got == sorted(want)
    # python twin for one term: 'beta' appears in docs d%4==1 with tf d//4+1
    beta = [t for t in got if t[0] == "beta"]
    # top tf: doc 21 (6), doc 17 (5), doc 13 (4)
    assert [(r, d, tf) for (_, r, d, tf, _) in beta] == [
        (1, 21, 6), (2, 17, 5), (3, 13, 4)
    ]
    assert all(df == 6 for (_, _, _, _, df) in beta)


def test_pmi_collocations_python_twin(spark):
    """PMI micro-nat ranking matches a from-scratch python computation."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="new york new york city"),
            Row(doc_id=1, text="san francisco bay"),
            Row(doc_id=2, text="new deal and new york again"),
            Row(doc_id=3, text="bay area san francisco"),
        ]
    )
    got = [
        (r["rank"], r["w1"], r["w2"], r["c_bigram"], r["pmi_micro"])
        for r in textstats.pmi_collocations(docs, k=10, min_count=2).collect()
    ]
    # python twin
    toks = [t.split() for t in [
        "new york new york city", "san francisco bay",
        "new deal and new york again", "bay area san francisco"]]
    uni, bg = {}, {}
    n_uni = n_bg = 0
    for ws in toks:
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
            n_uni += 1
        for a, b in zip(ws, ws[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
            n_bg += 1
    scored = []
    for (a, b), c in bg.items():
        if c < 2:
            continue
        pmi = (
            math.log(c) + 2 * math.log(n_uni) - math.log(n_bg)
            - math.log(uni[a]) - math.log(uni[b])
        )
        scored.append((math.floor(pmi * 1e6), a, b, c))
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    want = [
        (i + 1, a, b, c, p) for i, (p, a, b, c) in enumerate(scored)
    ]
    assert got == want


def test_continuation_counts_separates_fixed_phrases(spark):
    """'francisco' is frequent but always follows 'san' -> 1 predecessor
    type; 'york' follows only 'new'; 'new' precedes several tokens."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="new york and new jersey and new deal"),
            Row(doc_id=1, text="san francisco loves san francisco"),
            Row(doc_id=2, text="new york new haven"),
        ]
    )
    got = {
        r["token"]: (r["c_unigram"], r["n_prec_types"], r["n_succ_types"])
        for r in textstats.continuation_counts(docs, min_count=2).collect()
    }
    assert got["francisco"] == (2, 1, 1)  # after 'san'; before 'loves' only
    assert got["york"][1] == 1            # only 'new' precedes
    assert got["new"][2] >= 4             # york, jersey, deal, haven
    assert "and" in got and got["and"][0] == 2


# ------------------------------------------------------------------ link graph


def _link_docs(spark):
    from weblog_pipeline.ops import graph  # noqa: F401

    return spark.createDataFrame(
        [
            Row(doc_id=0, source="a", text='intro <a href="https://b.example/x">click here</a> tail'),
            Row(doc_id=1, source="a", text='<a href="https://c.example/y">best guide</a>'),
            Row(doc_id=2, source="b", text='<a href="https://c.example/z">guide here</a> and '
                                           '<a href="https://a.example/">home link</a>'),
            Row(doc_id=3, source="c", text="no links at all"),
            Row(doc_id=4, source="b", text='<a href="https://c.example/z2">guide</a>'),
        ]
    )


def test_extract_links_and_graph(spark):
    from weblog_pipeline.ops import graph

    links = graph.extract_links(_link_docs(spark))
    got = sorted(
        (r["src_host"], r["dst_host"], r["anchor"]) for r in links.collect()
    )
    assert got == [
        ("a.example", "b.example", "click here"),
        ("a.example", "c.example", "best guide"),
        ("b.example", "a.example", "home link"),
        ("b.example", "c.example", "guide"),
        ("b.example", "c.example", "guide here"),
    ]
    edges = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in graph.link_graph(links).collect()
    }
    assert edges == {
        ("a.example", "b.example"): 1,
        ("a.example", "c.example"): 1,
        ("b.example", "c.example"): 2,
        ("b.example", "a.example"): 1,
    }


def test_pagerank_integer_twin(spark):
    """Integer PageRank matches an exact python recursion edge-for-edge
    (per-edge floor division, then sum — the order-free-exact contract)."""
    from weblog_pipeline.ops import graph

    edge_rows = [
        ("a", "b", 2), ("a", "c", 1), ("b", "c", 3), ("c", "a", 1),
        ("d", "c", 5),  # d has no in-links -> stays at base after iter 1
    ]
    edges = spark.createDataFrame(
        [Row(src_host=s, dst_host=t, n_links=n) for s, t, n in edge_rows]
    )
    scale, d, iters = 10**9, 85, 4
    got = {
        r["host"]: (r["n_out"], r["rank_scaled"])
        for r in graph.pagerank(edges, iters=iters, scale=scale,
                                damping_pct=d).collect()
    }
    # python twin
    nodes = {s for s, _, _ in edge_rows} | {t for _, t, _ in edge_rows}
    n_out = {}
    for s, _, n in edge_rows:
        n_out[s] = n_out.get(s, 0) + n
    base = (100 - d) * scale // 100
    rank = {v: scale for v in nodes}
    for _ in range(iters):
        inc = {v: 0 for v in nodes}
        for s, t, n in edge_rows:
            inc[t] += rank[s] * n * d // (n_out[s] * 100)
        rank = {v: base + inc[v] for v in nodes}
    want = {v: (n_out.get(v, 0), rank[v]) for v in nodes}
    assert got == want
    # sanity: c (most in-mass) outranks the dangling-fed a and unloved d
    assert got["c"][1] > got["a"][1] > got["d"][1] == base


def test_hits_integer_twin(spark):
    """Integer HITS matches an exact python recursion half-step for
    half-step (divide-first normalization, truncating div — the
    order-free-exact contract shared with pagerank)."""
    from weblog_pipeline.ops import graph

    edge_rows = [
        ("a", "b", 2), ("a", "c", 1), ("b", "c", 3), ("c", "a", 1),
        ("d", "c", 5),  # d: pure hub (no in-links) -> auth pinned to 0
    ]
    edges = spark.createDataFrame(
        [Row(src_host=s, dst_host=t, n_links=n) for s, t, n in edge_rows]
    )
    scale, iters = 10**6, 4
    got = {
        r["host"]: (r["auth_scaled"], r["hub_scaled"])
        for r in graph.hits(edges, iters=iters, scale=scale).collect()
    }
    # python twin
    nodes = sorted({s for s, _, _ in edge_rows} | {t for _, t, _ in edge_rows})

    def half(scores, inbound):
        raw = {v: 0 for v in nodes}
        for s, t, n in edge_rows:
            tgt, src = (t, s) if inbound else (s, t)
            raw[tgt] += scores[src] * n
        mx = max(raw.values())
        den = max(1, mx // scale)
        return {v: raw[v] // den for v in nodes}

    hub = {v: scale for v in nodes}
    for _ in range(iters):
        auth = half(hub, inbound=True)
        hub = half(auth, inbound=False)
    assert got == {v: (auth[v], hub[v]) for v in nodes}
    # sanity: c is the dominant authority; d the dominant hub; d has 0 auth
    assert got["c"][0] == max(a for a, _ in got.values())
    assert got["d"][1] == max(h for _, h in got.values())
    assert got["d"][0] == 0


def test_anchor_topk_ranks_inbound_tokens(spark):
    from weblog_pipeline.ops import graph

    links = graph.extract_links(_link_docs(spark))
    got = {
        (r["dst_host"], r["rank"]): (r["token"], r["n_occurrences"])
        for r in graph.anchor_topk(links, k=2).collect()
    }
    # c.example inbound anchors: 'best guide', 'guide here', 'guide'
    assert got[("c.example", 1)] == ("guide", 3)
    assert got[("c.example", 2)] == ("best", 1)  # tie with 'here' -> token asc
    assert got[("b.example", 1)] == ("click", 1)


def test_gopher_quality_flags_per_rule_bits(spark):
    """Each Gopher rule bit flips on its own planted violation; a clean
    50+-word document with stopwords passes all seven."""
    good = ("the data " + "word " * 60 + "and that have with it ends").strip()
    rows = [
        Row(doc_id=0, text=good),                          # passes all
        Row(doc_id=1, text="the and short"),               # word_count fails
        Row(doc_id=2, text=("the and " + "a " * 100).strip()),  # mean len < 3
        Row(doc_id=3, text=("the and " + "word " * 58).strip() + " " + "#" * 40),
        Row(doc_id=4, text="- the bullet\n- and another\n- again\n"
                           "- more\n- bullets\n- only\n- here\n- now\n- yes\n- end"),
        Row(doc_id=5, text="the trail...\nand more...\nword line\nhm..."),
        Row(doc_id=6, text=("the and " + "12345 " * 100).strip()),  # alpha fails
        Row(doc_id=7, text=("word " * 80).strip()),        # no stopwords
        Row(doc_id=8, text=""),                            # degenerate
    ]
    got = {
        r["doc_id"]: (r["flags"], r["pass"])
        for r in textstats.gopher_quality_flags(
            spark.createDataFrame(rows)
        ).collect()
    }
    ALL = (1 << len(textstats.GOPHER_BITS)) - 1
    assert got[0] == (ALL, True)
    assert not got[1][0] & 1          # word_count bit off
    assert not got[2][0] & 2          # mean_word_len bit off
    assert not got[3][0] & 4, got[3]  # symbol_ratio bit off (40 '#' vs 68 words)
    assert not got[4][0] & 8          # bullet_lines bit off (10/10 bulleted)
    assert not got[5][0] & 16         # ellipsis_lines bit off (3/4 lines)
    assert not got[6][0] & 32         # alpha_words bit off (digits only)
    assert not got[7][0] & 64         # stopwords bit off
    assert got[8] == (16 | 8 | 4, False)  # empty: only the ratio rules hold
    assert all(not v[1] for k, v in got.items() if k != 0)


def test_c4_quality_flags_line_rules(spark):
    """C4 line keep-rule: terminal punctuation + >=5 words + no
    javascript/policy boilerplate; document bits flip on lorem/brace/
    sentence-count/badword violations independently."""
    rows = [
        # passes all: two kept sentence lines, >=3 terminators
        Row(doc_id=0, text="One two three four five six.\nSeven eight nine ten eleven! Yes. Ok."),
        # line dropped: no terminal punctuation -> 0 sentences
        Row(doc_id=1, text="one two three four five six seven"),
        # line dropped: too few words
        Row(doc_id=2, text="tiny line here."),
        # javascript line dropped even though it ends in '.'
        Row(doc_id=3, text="please enable JavaScript to view this content."),
        # policy phrase dropped (case-insensitive)
        Row(doc_id=4, text="read our Privacy Policy before continuing today."),
        # lorem ipsum bit off; the line itself is kept (ends in '.')
        Row(doc_id=5, text="some Lorem Ipsum filler text sits here. More words arrive. End."),
        # curly brace bit off
        Row(doc_id=6, text="function code { return one two three. } Four five six. Done."),
        # badword bit off
        Row(doc_id=7, text="this page mentions badprobe openly and often. Twice more. Yes."),
        Row(doc_id=8, text=""),
    ]
    got = {
        r["doc_id"]: r
        for r in textstats.c4_quality_flags(
            spark.createDataFrame(rows), badwords=("badprobe",)
        ).collect()
    }
    ALL = (1 << len(textstats.C4_BITS)) - 1
    assert (got[0]["flags"], got[0]["pass"]) == (ALL, True)
    assert got[0]["n_kept_lines"] == 2 and got[0]["n_sentences"] == 4
    assert got[1]["n_kept_lines"] == 0 and not got[1]["pass"]
    assert got[2]["n_kept_lines"] == 0
    assert got[3]["n_kept_lines"] == 0  # javascript
    assert got[4]["n_kept_lines"] == 0  # policy phrase
    assert not got[5]["flags"] & 1      # lorem bit off
    assert got[5]["n_kept_lines"] == 1
    assert not got[6]["flags"] & 2      # brace bit off
    assert not got[7]["flags"] & 8      # badword bit off
    assert got[8]["n_lines"] == 1 and got[8]["n_kept_lines"] == 0


def test_cms_heavy_hitters_overestimates_and_ranks(spark):
    """CMS estimate >= exact count for every head token; ranks are the
    exact-count order; the eps=3/width bound flag holds on a tiny corpus."""
    rows = [Row(doc_id=i, text="alpha " * 9 + "beta " * 4 + f"uniq{i}") for i in range(6)]
    got = textstats.cms_heavy_hitters(spark.createDataFrame(rows), k=3).collect()
    by_rank = {r["rank"]: r for r in got}
    assert [by_rank[i]["token"] for i in (1, 2)] == ["alpha", "beta"]
    assert by_rank[1]["exact_n"] == 54 and by_rank[2]["exact_n"] == 24
    for r in got:
        assert r["cms_est"] >= r["exact_n"]
        assert r["overest"] == r["cms_est"] - r["exact_n"]
        assert r["within_bound"]  # 64 tokens << width*... bound trivially holds


def test_bloom_prefilter_no_false_negatives(spark):
    """Every present doc bloom-hits (Bloom's structural guarantee); a tiny
    1-cell-wide grid makes every probe a hit, so misses become tracked
    false positives rather than false negatives."""
    existing = spark.createDataFrame(
        [Row(doc_id=i, text=f"existing document number {i}") for i in range(20)]
    )
    incoming = spark.createDataFrame(
        # 0-9 copies of existing content (re-keyed), 10-14 genuinely new
        [Row(doc_id=100 + i, text=f"existing document number {i}") for i in range(10)]
        + [Row(doc_id=200 + i, text=f"brand new content {i}") for i in range(5)]
    )
    got = {
        r["doc_id"]: r
        for r in corpus.bloom_prefilter(existing, incoming, depth=3, width=4096).collect()
    }
    assert len(got) == 15
    for i in range(10):
        r = got[100 + i]
        assert r["present"] and r["bloom_hit"] and not r["is_fp"]
    # is_fp is exactly bloom_hit & ~present everywhere
    for r in got.values():
        assert r["is_fp"] == (r["bloom_hit"] and not r["present"])
        assert not (r["present"] and not r["bloom_hit"]), "false negative"

    # degenerate width=1: every cell set -> all 5 new docs are false
    # positives, none are false negatives
    tiny = {
        r["doc_id"]: r
        for r in corpus.bloom_prefilter(existing, incoming, depth=2, width=1).collect()
    }
    assert all(r["bloom_hit"] for r in tiny.values())
    assert sum(r["is_fp"] for r in tiny.values()) == 5


def test_bpe_train_greedy_merge_sequence(spark):
    """Hand-computed BPE run on {banana x2, band x1}: merges follow
    max-count with lexicographic tie-break, greedy left-to-right
    application, and the loop stops when the pair supply dries up."""
    df = spark.createDataFrame(
        [Row(doc_id=0, text="banana band"), Row(doc_id=1, text="banana")]
    )
    got = [
        (r["step"], r["lhs"], r["rhs"], r["pair_count"])
        for r in textstats.bpe_train(df, n_merges=8).orderBy("step").collect()
    ]
    assert got == [
        (1, "a", "n", 5),      # an: 2x2 in banana + 1 in band
        (2, "b", "an", 3),
        (3, "an", "a", 2),     # tie with (ban, an): 'an' < 'ban'
        (4, "ban", "ana", 2),
        (5, "ban", "d", 1),
    ]  # step 6+: banana and band are single symbols -> supply dry


def test_bpe_apply_fixed_merge_table(spark):
    """Applying a fixed merge list reproduces training-time greedy
    segmentation: banana -> [ban, an, a], band -> [ban, d]."""
    df = spark.createDataFrame(
        [Row(doc_id=0, text="banana band"), Row(doc_id=1, text="banana"),
         Row(doc_id=2, text="")]
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_pieces"])
        for r in textstats.bpe_apply(df, (("a", "n"), ("b", "an"))).collect()
    }
    assert got[0] == (2, 10, 5)   # [ban, an, a] + [ban, d]
    assert got[1] == (1, 6, 3)
    assert got[2] == (0, 0, 0)


def test_vocab_growth_first_appearance_cumsum(spark):
    """Hand-checked Heaps curve on 4 docs / 2 buckets: tokens count toward
    the bucket of their FIRST appearance only; cumulative sums cover all
    docs and the full vocabulary."""
    rows = [
        Row(doc_id=0, text="a b"),        # bucket 0: new a, b
        Row(doc_id=1, text="b c"),        # bucket 0: new c
        Row(doc_id=2, text="a d"),        # bucket 1: new d
        Row(doc_id=3, text=""),           # bucket 1: no tokens
    ]
    got = [
        (r["bucket"], r["n_docs_cum"], r["vocab_cum"], r["new_tokens"])
        for r in textstats.vocab_growth(
            spark.createDataFrame(rows), n_buckets=2
        ).orderBy("bucket").collect()
    ]
    assert got == [(1, 2, 3, 3), (2, 4, 4, 1)]


def test_mixture_sample_epoch_counts(spark):
    """Budget 6 over sources {A: 4 docs, B: 1 doc} with alpha=0.5 weights
    (s_kilo 2000/1000): A's quota 4 -> one copy each, B's quota 2 -> the
    low-resource doc repeats twice. Budget 3 downsamples A by the
    documented hash threshold."""
    rows = [Row(doc_id=i, text="t", source="A") for i in range(4)] + [
        Row(doc_id=10, text="t", source="B")
    ]
    df = spark.createDataFrame(rows)
    got6 = {r["doc_id"]: r["n_copies"]
            for r in corpus.mixture_sample(df, budget=6).collect()}
    assert got6 == {0: 1, 1: 1, 2: 1, 3: 1, 10: 2}

    got3 = {r["doc_id"]: r["n_copies"]
            for r in corpus.mixture_sample(df, budget=3).collect()}
    assert got3[10] == 1                      # B: quota 1, k=1, r=0
    expect_extra = {
        i: int(hashlib.md5(f"mx:{i}".encode()).hexdigest()[:4], 16) % 4 < 2
        for i in range(4)
    }  # A: quota 2, k=0, r=2 -> hash-threshold extras
    assert {i: got3[i] for i in range(4)} == {
        i: int(v) for i, v in expect_extra.items()
    }


def test_bfs_depth_multi_source_min_hops(spark):
    """Hand-drawn graph: seeds are the 2 heaviest outlink sources; depth
    is min hops from ANY seed; nodes beyond the hop budget and unreached
    nodes are absent."""
    from weblog_pipeline.ops import graph

    E = [
        ("a", "b", 5), ("a", "c", 5),   # a: weight 10 (seed)
        ("b", "d", 9),                  # b: weight 9  (seed)
        ("c", "e", 1), ("d", "e", 1),   # e reachable at depth 2
        ("e", "f", 1),                  # f at depth 3
        ("f", "g", 1),                  # g at depth 4
        ("g", "h", 1),                  # h at depth 5 -> EXCLUDED (iters=4)
        ("z", "z2", 1),                 # z component unreached from seeds
    ]
    edges = spark.createDataFrame(E, "src_host string, dst_host string, n_links long")
    got = {
        r["host"]: r["depth"]
        for r in graph.bfs_depth(edges, seeds_k=2, iters=4).collect()
    }
    assert got == {"a": 0, "b": 0, "c": 1, "d": 1, "e": 2, "f": 3, "g": 4}


def _ref_bpe(word_counts, n_merges):
    """20-line reference BPE (Sennrich et al.): symbol-list greedy merges,
    max pair count with (lhs, rhs) lexicographic tie-break."""
    reps = {w: list(w) for w in word_counts}
    merges = []
    for step in range(1, n_merges + 1):
        pairs = {}
        for w, c in word_counts.items():
            s = reps[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] = pairs.get((s[i], s[i + 1]), 0) + c
        if not pairs:
            break
        (lhs, rhs), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, lhs, rhs, cnt))
        for w, s in reps.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            reps[w] = out
    return merges


def test_bpe_train_matches_reference_on_random_corpora(spark):
    """Seeded randomized equivalence: tiny-alphabet corpora maximize
    merge ties, self-overlaps (aaa), and multi-char-symbol boundary
    traps — the Spark double-separator implementation must match the
    symbol-list reference merge-for-merge on every one."""
    import random

    rng = random.Random(20260817)
    for trial in range(12):
        vocab = {
            "".join(rng.choice("aab") for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(1, 6))
        }
        word_counts = {w: rng.randint(1, 3) for w in vocab}
        text_parts = [w for w, c in sorted(word_counts.items()) for _ in range(c)]
        df = spark.createDataFrame([Row(doc_id=0, text=" ".join(text_parts))])
        got = [
            (r["step"], r["lhs"], r["rhs"], r["pair_count"])
            for r in textstats.bpe_train(df, n_merges=5).orderBy("step").collect()
        ]
        want = _ref_bpe(word_counts, 5)
        assert got == want, (trial, word_counts, got, want)


def test_bpe_train_bytes_matches_reference_on_nonascii_corpora(spark):
    """Byte-level twin of the fuzz above on a deliberately hostile
    alphabet — multi-byte UTF-8 (é = C3A9, ✓ = E29C93) plus a repeated
    ASCII byte for self-overlap runs: the hex-symbol representation must
    match the symbol-list reference merge-for-merge, with zero OOV and
    no word gate."""
    import random

    rng = random.Random(20260818)
    for trial in range(12):
        vocab = {
            "".join(rng.choice("aé✓") for _ in range(rng.randint(1, 5)))
            for _ in range(rng.randint(1, 6))
        }
        word_counts = {w: rng.randint(1, 3) for w in vocab}
        byte_counts = {
            "".join(f"{b:02X}" for b in w.encode("utf-8")): c
            for w, c in word_counts.items()
        }
        # reference symbols = hex byte pairs, not characters
        ref_reps = {
            h: [h[i : i + 2] for i in range(0, len(h), 2)] for h in byte_counts
        }
        want = _ref_bpe_symbols(byte_counts, ref_reps, 5)
        text_parts = [w for w, c in sorted(word_counts.items()) for _ in range(c)]
        df = spark.createDataFrame([Row(doc_id=0, text=" ".join(text_parts))])
        got = [
            (r["step"], r["lhs"], r["rhs"], r["pair_count"])
            for r in textstats.bpe_train_bytes(df, n_merges=5)
            .orderBy("step")
            .collect()
        ]
        assert got == want, (trial, word_counts, got, want)


def _ref_bpe_symbols(word_counts, reps, n_merges):
    """_ref_bpe generalized to caller-supplied initial symbol lists."""
    merges = []
    for step in range(1, n_merges + 1):
        pairs = {}
        for w, c in word_counts.items():
            s = reps[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] = pairs.get((s[i], s[i + 1]), 0) + c
        if not pairs:
            break
        (lhs, rhs), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, lhs, rhs, cnt))
        for w, s in reps.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            reps[w] = out
    return merges


def test_hashed_tf_sparse_counts(spark):
    """Same token -> same bucket across docs; tf counts duplicates; the
    bucket is the pinned md5-conv idiom."""
    df = spark.createDataFrame(
        [Row(doc_id=0, text="alpha alpha beta"), Row(doc_id=1, text="alpha")]
    )
    rows = textstats.hashed_tf(df, n_buckets=64).collect()
    b = lambda t: int(hashlib.md5(t.encode()).hexdigest()[:4], 16) % 64  # noqa: E731
    got = {(r["doc_id"], r["bucket"]): r["tf"] for r in rows}
    assert got == {
        (0, b("alpha")): 2, (0, b("beta")): 1, (1, b("alpha")): 1,
    }


def test_freq_spectrum(spark, docs_df):
    rows = {r["freq"]: r["n_types"] for r in textstats.freq_spectrum(docs_df).collect()}
    # recompute from the shared tokenizer semantics
    from collections import Counter

    counts = Counter(
        t for _, text, _ in DOCS for t in text.strip().lower().split() if t
    )
    expected = Counter(counts.values())
    assert rows == dict(expected)
    # spectrum identity: sum(freq * n_types) == total token count
    assert sum(f * n for f, n in rows.items()) == sum(counts.values())


def test_sentence_stats(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="One. Two two! Three three three?? Trailing."),
            Row(doc_id=1, text="no terminal punctuation at all"),
            Row(doc_id=2, text=""),
            Row(doc_id=3, text="..!?"),  # only boundaries, no content
            Row(doc_id=4, text=None),
        ]
    )
    rows = {r["doc_id"]: r for r in textstats.sentence_stats(df).collect()}
    assert (rows[0]["n_sentences"], rows[0]["max_sent_len"], rows[0]["sum_sent_len"]) \
        == (4, len("three three three"), len("One") + len("Two two") + len("three three three".title()) + len("Trailing"))
    assert rows[1]["n_sentences"] == 1 and rows[1]["max_sent_len"] == len(df.collect()[1]["text"])
    assert (rows[2]["n_sentences"], rows[2]["max_sent_len"], rows[2]["sum_sent_len"]) == (0, 0, 0)
    assert (rows[3]["n_sentences"], rows[3]["max_sent_len"], rows[3]["sum_sent_len"]) == (0, 0, 0)
    assert (rows[4]["n_sentences"], rows[4]["max_sent_len"], rows[4]["sum_sent_len"]) == (0, 0, 0)


def test_unicode_nfc(spark):
    nfd = "Caf" + "e\u0301" + " du Monde"  # decomposed: one cp shorter after NFC
    nfc = "Caf" + "\u00e9" + " du Monde"
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text=nfd),
            Row(doc_id=1, text=nfc),
            Row(doc_id=2, text="plain ascii"),
            Row(doc_id=3, text=""),
            Row(doc_id=4, text=None),
        ]
    )
    rows = {r["doc_id"]: r for r in textstats.unicode_nfc(df).collect()}
    assert rows[0]["is_nfc"] == 0
    assert rows[0]["raw_len"] == len(nfd) and rows[0]["nfc_len"] == len(nfd) - 1
    assert rows[1]["is_nfc"] == 1 and rows[1]["nfc_len"] == len(nfc)
    assert rows[2]["is_nfc"] == 1
    assert rows[3]["is_nfc"] == 1 and rows[3]["raw_len"] == 0
    # NULL text audits as empty (matches the SQL twin's coalesce)
    assert rows[4]["is_nfc"] == 1 and rows[4]["raw_len"] == 0 and rows[4]["nfc_len"] == 0


def test_importance_sample_bins_and_copy_realization(spark):
    """Custom two-token weight table steers docs into known bins; copy
    counts must equal rate div 100 plus the md5-threshold extra."""
    from pyspark.sql import types as T

    from weblog_pipeline.ops import corpus

    def bucket_of(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % textstats.CLS_BUCKETS

    # weights: token 'good' strongly positive, 'bad' strongly negative,
    # 'meh' mildly positive (mean weight < 1/4 of a token)
    w = {bucket_of("good"): 1000, bucket_of("bad"): -1000, bucket_of("meh"): 0}
    weights = spark.createDataFrame(
        [(b, w.get(b, 0)) for b in range(textstats.CLS_BUCKETS)],
        T.StructType(
            [
                T.StructField("bucket", T.LongType()),
                T.StructField("weight", T.LongType()),
            ]
        ),
    )
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="good good good"),   # mean +1000 -> bin 3
            Row(doc_id=1, text="bad bad"),          # mean -1000 -> bin 0
            Row(doc_id=2, text="meh meh"),          # mean 0     -> bin 2
            Row(doc_id=3, text="good bad bad"),     # mean -333  -> bin 0
        ]
    )
    rows = {r["doc_id"]: r for r in corpus.importance_sample(df, weights).collect()}
    assert [rows[i]["bin"] for i in range(4)] == [3, 0, 2, 0]
    assert [rows[i]["rate_pct"] for i in range(4)] == [300, 25, 150, 25]
    for i in range(4):
        rate = rows[i]["rate_pct"]
        extra = int(hashlib.md5(f"is:{i}".encode()).hexdigest()[:4], 16) % 100 < rate % 100
        assert rows[i]["n_copies"] == rate // 100 + extra, i


def test_decontaminate_fuzzy_catches_planted_probes(spark):
    """At least one planted near-copy must be detected, every detected
    plant must name its source probe as first_match, and no probe-side
    doc may appear as contaminated (the cross join is one-directional).
    Plants with Jaccard barely at the 50% bar may legitimately miss the
    band collision — LSH recall at the threshold is probabilistic, which
    is the documented trade (dedup_lsh_recall tracks it)."""
    from weblog_pipeline import driver_queries as dq

    df = dq.q_decontaminate_fuzzy(spark, "/root/testdata/sf0.001")
    rows = {r["doc_id"]: r for r in df.collect()}
    planted = {k: v for k, v in rows.items() if k >= dq.DECON_PLANT_OFFSET}
    assert planted, "no planted contamination detected"
    for k, v in planted.items():
        assert v["first_match"] == k - dq.DECON_PLANT_OFFSET
    for k in rows:
        if k < dq.DECON_PLANT_OFFSET:
            assert k % 97 != 3, f"probe {k} reported as contaminated train doc"


def test_char_entropy_integer_micro_nats(spark):
    """Hand-computed entropy on planted alphabets: single-char flood -> 0,
    uniform alphabet -> ln(k), and the integer realization matches the
    per-term floor formula exactly."""
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="aaaaaaaa"),        # H = 0
            Row(doc_id=1, text="abcd"),            # uniform 4: H = ln(4)
            Row(doc_id=2, text="aab"),             # H = ln(3) - (2 ln 2)/3
            Row(doc_id=3, text=""),                # no rows
            Row(doc_id=4, text=None),              # no rows
        ]
    )
    rows = {r["doc_id"]: r for r in textstats.char_entropy(df).collect()}
    assert set(rows) == {0, 1, 2}

    def h_micro(counts):
        n = sum(counts)
        s = sum(math.floor(math.log(c) * c * 1000000) for c in counts)
        return math.floor(math.log(n) * 1000000) - s // n

    assert rows[0]["entropy_micro"] == 0 and rows[0]["n_chars"] == 8
    assert rows[1]["entropy_micro"] == h_micro([1, 1, 1, 1]) == 1386294
    assert rows[2]["entropy_micro"] == h_micro([2, 1])


def test_data_split_deterministic_and_exhaustive(spark, docs_df):
    """Every doc gets exactly one split, assignment matches the salted
    md5 bucket, and a second run (different partitioning) is identical."""
    from weblog_pipeline.ops import corpus

    rows = {r["doc_id"]: r for r in corpus.data_split(docs_df).collect()}
    assert set(rows) == {i for i, _, _ in DOCS}
    for i, r in rows.items():
        b = int(hashlib.md5(f"sp:{i}".encode()).hexdigest()[:4], 16) % 100
        assert r["bucket"] == b
        assert r["split"] == ("train" if b < 98 else "val" if b < 99 else "test")
    again = {
        r["doc_id"]: r["split"]
        for r in corpus.data_split(docs_df.repartition(7)).collect()
    }
    assert again == {i: r["split"] for i, r in rows.items()}
    with pytest.raises(ValueError):
        corpus.data_split(docs_df, pct=(90, 5, 4))


def test_funnel_stages_ordering_and_window(spark):
    """Out-of-order completions don't count; the conversion window bounds
    each hop; first-occurrence times chain (not any-occurrence)."""
    import datetime

    from weblog_pipeline.aggregate import funnel_stages

    t0 = datetime.datetime(2025, 7, 4)

    def ev(i, user, typ, secs):
        return Row(
            event_id=i, user_id=user, event_type=typ,
            ts=t0 + datetime.timedelta(seconds=secs),
        )

    rows = [
        # user 1: full funnel in order
        ev(0, 1, "view", 0), ev(1, 1, "click", 10), ev(2, 1, "purchase", 20),
        # user 2: purchase BEFORE click -> stage 2 only
        ev(3, 2, "view", 0), ev(4, 2, "purchase", 5), ev(5, 2, "click", 10),
        # user 3: click outside the window -> stage 1
        ev(6, 3, "view", 0), ev(7, 3, "click", 90000),
        # user 4: no view at all -> stage 0 (click/purchase don't help)
        ev(8, 4, "click", 0), ev(9, 4, "purchase", 10),
        # user 5: FIRST view starts the clock; click before it ignored,
        # click after it counts
        ev(10, 5, "click", 0), ev(11, 5, "view", 5), ev(12, 5, "click", 9),
        # user 6: purchase exactly at t2 (ts == t2) is NOT strictly after
        ev(13, 6, "view", 0), ev(14, 6, "click", 7), ev(15, 6, "purchase", 7),
    ]
    df = spark.createDataFrame(rows)
    got = {r["user_id"]: r["stage"] for r in funnel_stages(df, window_s=86400).collect()}
    assert got == {1: 3, 2: 2, 3: 1, 4: 0, 5: 2, 6: 2}


def test_cohort_retention_triangle(spark):
    """Cohort day = first-signup day; pre-signup activity excluded; a
    user active twice on the same offset day counts once; users who
    never sign up are absent."""
    import datetime

    from weblog_pipeline.aggregate import cohort_retention

    t0 = datetime.datetime(2025, 7, 4)

    def ev(i, user, typ, days, secs=0):
        return Row(
            event_id=i, user_id=user, event_type=typ,
            ts=t0 + datetime.timedelta(days=days, seconds=secs),
        )

    rows = [
        # user 1: signs up day 0, active day 0 (twice) and day 2
        ev(0, 1, "signup", 0), ev(1, 1, "view", 0, 60),
        ev(2, 1, "click", 0, 120), ev(3, 1, "view", 2),
        # user 2: same cohort day, active day 0 only; a PRE-signup view
        # the day before must not create a negative offset
        ev(4, 2, "view", -1), ev(5, 2, "signup", 0, 30),
        # user 3: cohorts a day later, active days 0 and 1
        ev(6, 3, "signup", 1), ev(7, 3, "purchase", 2),
        # user 4: never signs up -> not cohorted at all
        ev(8, 4, "view", 0), ev(9, 4, "click", 5),
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r["cohort_day_s"], r["day_offset"]): r["n_users"]
        for r in cohort_retention(df).collect()
    }
    d0 = int(t0.replace(tzinfo=datetime.timezone.utc).timestamp())
    d1 = d0 + 86400
    assert got == {(d0, 0): 2, (d0, 2): 1, (d1, 0): 1, (d1, 1): 1}


def test_attribution_last_touch_asof(spark):
    """Latest strictly-earlier touch wins (ties broken by event_id);
    touches outside the lookback or after the conversion don't count;
    unattributed conversions surface with the -1/'none' sentinels; a
    touch in the PREVIOUS range bucket is still found."""
    import datetime

    from weblog_pipeline.aggregate import attribution_last_touch

    t0 = datetime.datetime(2025, 7, 4)

    def ev(i, user, typ, secs):
        return Row(
            event_id=i, user_id=user, event_type=typ,
            ts=t0 + datetime.timedelta(seconds=secs),
        )

    day = 86400
    rows = [
        # user 1: view then click then purchase -> click (latest) wins
        ev(0, 1, "view", 0), ev(1, 1, "click", 50), ev(2, 1, "purchase", 100),
        # user 2: touch exactly AT the conversion ts with smaller
        # event_id -> counts (strictly earlier in (ts, event_id) order);
        # larger event_id at same ts must NOT count
        ev(3, 2, "view", 200), ev(4, 2, "purchase", 200), ev(5, 2, "click", 200),
        # user 3: only touch is 8 days before -> outside 7-day lookback
        ev(6, 3, "view", 0), ev(7, 3, "purchase", 8 * day),
        # user 4: no touches at all
        ev(8, 4, "purchase", 500),
        # user 5: touch 6.9 days earlier (previous bucket) still matches
        ev(9, 5, "click", 0), ev(10, 5, "purchase", 6 * day + 80000),
    ]
    df = spark.createDataFrame(rows)
    got = {
        r["conv_id"]: (r["touch_id"], r["touch_type"], r["delta_us"])
        for r in attribution_last_touch(df).collect()
    }
    assert got[2] == (1, "click", 50_000_000)
    assert got[4] == (3, "view", 0)
    assert got[7] == (-1, "none", -1)
    assert got[8] == (-1, "none", -1)
    assert got[10] == (9, "click", (6 * day + 80000) * 1_000_000)


def test_event_transitions_day_scoped(spark):
    """Consecutive pairs within a (user, day) stratum, ordered by
    (ts, event_id); cross-midnight edges dropped; p_bp is integer
    floor-division of the from-state row total."""
    import datetime

    from weblog_pipeline.aggregate import event_transitions

    t0 = datetime.datetime(2025, 7, 4)

    def ev(i, user, typ, days, secs):
        return Row(
            event_id=i, user_id=user, event_type=typ,
            ts=t0 + datetime.timedelta(days=days, seconds=secs),
        )

    rows = [
        # user 1 day 0: view -> click -> view (ts tie broken by event_id)
        ev(0, 1, "view", 0, 0), ev(1, 1, "click", 0, 10),
        ev(2, 1, "view", 0, 10),
        # user 1 day 1: purchase alone -> no pair; the view->purchase
        # cross-midnight edge must NOT appear
        ev(3, 1, "purchase", 1, 0),
        # user 2 day 0: view -> error
        ev(4, 2, "view", 0, 0), ev(5, 2, "error", 0, 5),
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r["from_type"], r["to_type"]): (r["n"], r["p_bp"])
        for r in event_transitions(df).collect()
    }
    assert got == {
        ("view", "click"): (1, 5000),
        ("view", "error"): (1, 5000),
        ("click", "view"): (1, 10000),
    }


def test_value_percentiles_hdr_buckets(spark):
    """Percentile q = smallest bucket whose cumulative count reaches
    ceil(q% of total); floor-bucketing, integer thresholds."""
    from weblog_pipeline.aggregate import value_percentiles

    rows = [
        # type a: 10 events, values 0..9 land in bucket 0 with width 10
        *[Row(event_id=i, event_type="a", value=float(i)) for i in range(9)],
        Row(event_id=9, event_type="a", value=95.0),  # bucket 9
        # type b: 4 events in distinct buckets 0,1,2,3
        *[
            Row(event_id=10 + i, event_type="b", value=10.0 * i + 5.0)
            for i in range(4)
        ],
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r["event_type"], r["q"]): r["bucket"]
        for r in value_percentiles(df).collect()
    }
    # a: total 10 -> p50 needs cum>=5 (bucket 0), p95 cum>=10 (bucket 9),
    # p99 cum>=10 (bucket 9)
    # b: total 4 -> p50 cum>=2 (bucket 1), p95 cum>=4 (bucket 3), p99 same
    assert got == {
        ("a", 50): 0, ("a", 95): 9, ("a", 99): 9,
        ("b", 50): 1, ("b", 95): 3, ("b", 99): 3,
    }


def test_log_templates_masking_and_counts(spark):
    """HEX mask (8+ lowercase hex) applies before NUM; templates below
    min_count drop; n_docs is distinct; blank lines never template."""
    from weblog_pipeline.ops.textstats import log_templates

    rows = [
        Row(doc_id=0, text="GET /api/42 took 120 ms\n"
                           "GET /api/7 took 9 ms\n\n"),
        Row(doc_id=1, text="GET /api/1 took 1 ms\n"
                           "session deadbeef01 expired"),
        Row(doc_id=2, text="session cafebabe99 expired\n"
                           "only-once line"),
    ]
    got = {
        r["template"]: (r["n_lines"], r["n_docs"])
        for r in log_templates(spark.createDataFrame(rows)).collect()
    }
    assert got == {
        "GET /api/<NUM> took <NUM> ms": (3, 2),
        "session <HEX> expired": (2, 2),
    }


def test_bm25_topk_ranking_semantics(spark):
    """Multi-term match beats single-term; higher tf beats lower at equal
    length; rarer term (higher idf) beats commoner; non-matching docs
    absent; ranks contiguous from 1."""
    from weblog_pipeline.ops.textstats import bm25_topk

    filler = [
        Row(doc_id=10 + i, text="x y z w v") for i in range(6)
    ]
    rows = [
        Row(doc_id=0, text="apple apple apple x x"),
        Row(doc_id=1, text="apple x x x x"),
        Row(doc_id=2, text="banana x x x x"),
        Row(doc_id=3, text="apple banana x x x"),
        Row(doc_id=4, text="x x x x x"),
        *filler,
    ]
    got = bm25_topk(
        spark.createDataFrame(rows), ("apple", "banana"), k=10
    ).collect()
    order = [r["doc_id"] for r in sorted(got, key=lambda r: r["rank"])]
    # df(apple)=3 < idf of df(banana)=2; equal doc lengths:
    # two-term doc 3 > tf=3 doc 0 > rare-term doc 2 > common-term doc 1
    assert order == [3, 0, 2, 1]
    assert [r["rank"] for r in sorted(got, key=lambda r: r["rank"])] == [1, 2, 3, 4]
    n_terms = {r["doc_id"]: r["n_terms"] for r in got}
    assert n_terms == {3: 2, 0: 1, 2: 1, 1: 1}


def test_pq_codes_match_independent_recipe(spark):
    """PQ assignment must equal an independently-computed twin of the
    public recipe: md5-ordered codebook sample, floor-quantized integer
    dots per contiguous subvector, argmax with lower-code ties."""
    import hashlib

    import numpy as np

    from weblog_pipeline.ops.similarity import IVF_QUANT, pq_codes

    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 8).astype("float32")
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(30)]
    )
    got = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in pq_codes(df, m=2, n_codes=4).collect()
    }

    order = sorted(
        range(30), key=lambda i: hashlib.md5(str(i).encode()).hexdigest()
    )[:4]
    q = np.floor(vecs.astype(np.float64) * IVF_QUANT).astype(np.int64)
    cents = q[order]
    expected = {}
    for j in range(2):
        sl = slice(j * 4, (j + 1) * 4)
        dots = q[:, sl] @ cents[:, sl].T
        for i in range(30):
            expected[(i, j)] = int(dots[i].argmax())
    assert got == expected
    assert len(got) == 60


def test_pq_adc_topk_matches_independent_recipe(spark):
    """The ADC ranking must equal an independently-computed numpy twin:
    codebook sample, code assignment, per-query LUT, summed lookups,
    (-adc, neighbor_id) ordering."""
    import hashlib

    import numpy as np

    from weblog_pipeline.ops.similarity import IVF_QUANT, pq_adc_topk

    rng = np.random.RandomState(11)
    vecs = rng.randn(25, 8).astype("float32")
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(25)]
    )
    qids = [0, 7]
    queries = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_dot"])
        for r in pq_adc_topk(emb, queries, m=2, n_codes=4, k=4).collect()
    }

    order = sorted(
        range(25), key=lambda i: hashlib.md5(str(i).encode()).hexdigest()
    )[:4]
    q = np.floor(vecs.astype(np.float64) * IVF_QUANT).astype(np.int64)
    cents = q[order]
    codes = np.zeros((25, 2), dtype=int)
    for j in range(2):
        sl = slice(j * 4, (j + 1) * 4)
        codes[:, j] = (q[:, sl] @ cents[:, sl].T).argmax(1)
    expected = {}
    for qid in qids:
        scores = []
        for i in range(25):
            if i == qid:
                continue
            adc = sum(
                int(q[qid, j * 4:(j + 1) * 4] @ cents[codes[i, j], j * 4:(j + 1) * 4])
                for j in range(2)
            )
            scores.append((-adc, i))
        for rank, (neg, i) in enumerate(sorted(scores)[:4], start=1):
            expected[(qid, rank)] = (i, -neg)
    assert got == expected


def test_pq_adc_rerank_at_full_depth_equals_brute_force(spark):
    """With rerank >= corpus size the ADC pass nominates everything, so
    the exact re-rank must reproduce brute-force top-k exactly — the
    nomination stage is lossless at full depth."""
    import numpy as np

    from weblog_pipeline.ops.similarity import brute_force_topk, pq_adc_topk

    rng = np.random.RandomState(13)
    vecs = rng.randn(20, 8).astype("float64")
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(20)]
    )
    q = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_r6"])
        for r in pq_adc_topk(emb, q, m=2, n_codes=4, k=4, rerank=30).collect()
    }
    expected = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_r6"])
        for r in brute_force_topk(emb, q, k=4).collect()
    }
    assert got == expected


def test_trustrank_matches_independent_recurrence(spark):
    """TrustRank must equal an independently-computed twin of the
    integer recurrence: md5-ordered seed pick, teleport gated to seeds,
    truncating-div propagation; hosts unreachable from the seed end at
    rank 0."""
    import hashlib

    from weblog_pipeline.ops.graph import PR_DAMPING_PCT, PR_SCALE, trustrank

    edges = spark.createDataFrame(
        [
            Row(src_host="a.example", dst_host="b.example", n_links=2),
            Row(src_host="b.example", dst_host="c.example", n_links=1),
            Row(src_host="d.example", dst_host="a.example", n_links=1),
        ]
    )
    iters, scale, d = 3, PR_SCALE, PR_DAMPING_PCT
    got = {
        r["host"]: (r["is_seed"], r["n_out"], r["rank_scaled"])
        for r in trustrank(edges, n_seeds=1, iters=iters).collect()
    }

    hosts = ["a.example", "b.example", "c.example", "d.example"]
    seed = min(hosts, key=lambda h: hashlib.md5(h.encode()).hexdigest())
    e = [("a.example", "b.example", 2), ("b.example", "c.example", 1),
         ("d.example", "a.example", 1)]
    n_out = {}
    for s, _, n in e:
        n_out[s] = n_out.get(s, 0) + n
    base = (100 - d) * scale // 100
    rank = {h: (scale if h == seed else 0) for h in hosts}
    for _ in range(iters):
        inc = {h: 0 for h in hosts}
        for s, t, n in e:
            inc[t] += (rank[s] * n * d) // (n_out[s] * 100)
        rank = {h: (base if h == seed else 0) + inc[h] for h in hosts}
    expected = {
        h: (1 if h == seed else 0, n_out.get(h, 0), rank[h]) for h in hosts
    }
    assert got == expected
    # trust never reaches hosts with no path from the seed
    from_seed = {seed}
    changed = True
    while changed:
        changed = False
        for s, t, _ in e:
            if s in from_seed and t not in from_seed:
                from_seed.add(t)
                changed = True
    for h in hosts:
        if h not in from_seed:
            assert got[h][2] == 0, (h, got[h])


def test_readability_flesch_centi(spark):
    """Hand-checked Flesch centi-points: vowel-group syllables with the
    one-per-word floor, guarded denominators for empty docs."""
    from weblog_pipeline.ops.textstats import readability

    rows = [
        # hello(2) world(1). it(1) is(1) sunny(2)! -> W=5 S=2 Y=7
        Row(doc_id=0, text="Hello world. It is sunny!"),
        # vowelless word floors at 1 syllable: grr(1). -> W=1 S=1 Y=1
        Row(doc_id=1, text="Grr."),
        # empty text: all guards engage
        Row(doc_id=2, text=""),
    ]
    got = {
        r["doc_id"]: (r["n_words"], r["n_sents"], r["n_syll"], r["fre_centi"])
        for r in readability(spark.createDataFrame(rows)).collect()
    }
    assert got[0] == (5, 2, 7, 20683 - (1015 * 5) // 20 - (8460 * 7) // 5)
    assert got[0][3] == 8586
    assert got[1] == (1, 1, 1, 20683 - 101 - 8460)
    assert got[2] == (0, 0, 0, 20683)


def test_drift_psi_hand_computed(spark):
    """PSI with Laplace smoothing, ppm integer probabilities, and
    floored micro-nat log terms — hand-checked on a planted shift."""
    import datetime

    from weblog_pipeline.aggregate import drift_psi

    t0 = datetime.datetime(2025, 7, 4)          # epoch day 20273 (odd -> cur)
    t1 = t0 + datetime.timedelta(days=1)        # even -> base

    def ev(i, ts, value):
        return Row(event_id=i, event_type="a", ts=ts, value=value)

    rows = [
        ev(0, t1, 5.0), ev(1, t1, 5.0),          # base: bucket 0 x2
        ev(2, t0, 5.0), ev(3, t0, 95.0),         # cur: bucket 0, bucket 9
    ]
    got = {
        r["event_type"]: (r["n_base"], r["n_cur"], r["psi_sum"])
        for r in drift_psi(spark.createDataFrame(rows)).collect()
    }
    # buckets: (0): ca=2 cb=1; (9): ca=0 cb=1; ta=tb=4
    # pa0=750000 pb0=500000 ln(1.5)->405465 ; pa9=250000 pb9=500000
    # ln(0.5)-> -693148 (floored)
    expected = 250000 * 405465 + (-250000) * (-693148)
    assert got == {"a": (2, 2, expected)}


def test_bot_gap_stats_regularity(spark):
    """Scripted near-constant gaps flag as regular; human-bursty gaps do
    not; strata with < 5 gaps never flag; moments are exact integers."""
    import datetime

    from weblog_pipeline.aggregate import bot_gap_stats

    t0 = datetime.datetime(2025, 7, 4)

    def ev(i, user, secs):
        return Row(event_id=i, user_id=user,
                   ts=t0 + datetime.timedelta(seconds=secs))

    rows = [
        # user 1: metronome — 6 events exactly 10 s apart -> regular
        *[ev(i, 1, 10 * i) for i in range(6)],
        # user 2: bursty — gaps 1, 1, 600, 1, 1200 s -> not regular
        *[ev(10 + j, 2, s) for j, s in
          enumerate([0, 1, 2, 602, 603, 1803])],
        # user 3: only 3 events (2 gaps) -> below the n >= 5 floor
        *[ev(20 + j, 3, 100 * j) for j in range(3)],
    ]
    got = {
        r["user_id"]: (r["n_gaps"], r["sum_gap_ms"], r["sum_gap2_ms"],
                       r["is_regular"])
        for r in bot_gap_stats(spark.createDataFrame(rows)).collect()
    }
    assert got[1] == (5, 50_000, 5 * 10_000**2, 1)
    assert got[2][0] == 5 and got[2][3] == 0
    assert got[3] == (2, 200_000, 2 * 100_000**2, 0)


def test_anomaly_days_median_mad(spark):
    """Planted spike: counts [1,1,1,1,10] -> lower median 1, MAD 0, the
    spike day is the single anomaly, max_dev 9."""
    import datetime

    from weblog_pipeline.aggregate import anomaly_days

    t0 = datetime.datetime(2025, 7, 4)
    rows = []
    eid = 0
    for day, n in enumerate([1, 1, 1, 1, 10]):
        for _ in range(n):
            rows.append(
                Row(event_id=eid, event_type="a",
                    ts=t0 + datetime.timedelta(days=day))
            )
            eid += 1
    got = anomaly_days(spark.createDataFrame(rows)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n_days"], r["med_cnt"], r["mad"], r["n_anomalies"],
            r["max_dev"]) == (5, 1, 0, 1, 9)


def test_dau_wau_trailing_window(spark):
    """Three days, overlapping users: WAU is the distinct-user union of
    the trailing window, stickiness integer basis points."""
    import datetime

    from weblog_pipeline.aggregate import dau_wau

    t0 = datetime.datetime(2025, 7, 4)

    def ev(i, user, day):
        return Row(event_id=i, user_id=user,
                   ts=t0 + datetime.timedelta(days=day, minutes=i))

    rows = [
        ev(0, 1, 0), ev(1, 1, 1), ev(2, 1, 2),
        ev(3, 2, 0), ev(4, 2, 0),            # duplicate user-day collapses
        ev(5, 3, 2),
    ]
    day0 = int(t0.replace(tzinfo=datetime.timezone.utc).timestamp())
    got = {
        r["day_s"]: (r["dau"], r["wau"], r["stickiness_bp"])
        for r in dau_wau(spark.createDataFrame(rows)).collect()
    }
    assert got == {
        day0: (2, 2, 10000),
        day0 + 86400: (1, 2, 5000),
        day0 + 2 * 86400: (2, 3, 6666),
    }


def test_session_paths_prefix_and_ranks(spark):
    """Paths are ts-ordered '>'-joined prefixes capped at 5 events;
    ranking is (count desc, path asc), engine-deterministic."""
    import datetime

    from weblog_pipeline.aggregate import session_paths

    t0 = datetime.datetime(2025, 7, 4)

    def ev(i, user, sec, et):
        return Row(event_id=i, user_id=user, event_type=et,
                   ts=t0 + datetime.timedelta(seconds=sec))

    rows = []
    for u in (1, 2):
        rows += [ev(u * 10 + j, u, j, t) for j, t in enumerate("abc")]
    rows += [ev(30 + j, 3, j, t) for j, t in enumerate("aaaaabc")]
    rows += [ev(50, 4, 0, "z")]
    got = [
        (r["rank"], r["path"], r["n_sessions"])
        for r in session_paths(spark.createDataFrame(rows)).collect()
    ]
    assert sorted(got) == [
        (1, "a>b>c", 2),
        (2, "a>a>a>a>a", 1),
        (3, "z", 1),
    ]


def test_ab_metrics_against_hashlib_twin(spark):
    """Arm assignment must equal an independent hashlib.md5 twin; counts
    and cent totals are exact; lift is integer DIV basis points."""
    import datetime
    import hashlib
    import math

    from weblog_pipeline.aggregate import ab_metrics

    t0 = datetime.datetime(2025, 7, 4)
    evs = [  # (event_id, user, value)
        (0, 1, 1.25), (1, 1, 2.50), (2, 2, 0.07), (3, 3, 10.0),
        (4, 6, 3.33), (5, 6, 0.01), (6, 11, 99.99),
    ]
    rows = [
        Row(event_id=i, user_id=u, event_type="x", value=v,
            ts=t0 + datetime.timedelta(minutes=i))
        for i, u, v in evs
    ]

    def arm(u):
        return "ab"[int(hashlib.md5(str(u).encode()).hexdigest()[0], 16) % 2]

    a = {e for e in evs if arm(e[1]) == "a"}
    b = {e for e in evs if arm(e[1]) == "b"}
    assert a and b, "fixture must exercise both arms"
    exp_a_users = len({u for _, u, _ in a})
    exp_b_users = len({u for _, u, _ in b})
    exp = (
        exp_a_users, exp_b_users, len(a), len(b),
        sum(math.floor(v * 100) for *_, v in a),
        sum(math.floor(v * 100) for *_, v in b),
        len(a) * 10000 // exp_a_users - len(b) * 10000 // exp_b_users,
    )
    got = ab_metrics(spark.createDataFrame(rows)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["a_users"], r["b_users"], r["a_events"], r["b_events"],
            r["a_value_c"], r["b_value_c"], r["lift_bp"]) == exp


def test_rrf_fuse_hand_computed(spark):
    """RRF integer micro-units: score(d) = sum 1e6 DIV (60 + rank);
    overlap doc outranks single-system docs, ties break by doc_id."""
    from weblog_pipeline.ops.retrieval import rrf_fuse

    s1 = spark.createDataFrame([Row(doc_id=10, rank=1), Row(doc_id=20, rank=2)])
    s2 = spark.createDataFrame([Row(doc_id=20, rank=1), Row(doc_id=30, rank=2)])
    got = [
        (r["rank"], r["doc_id"], r["n_systems"], r["rrf_score"])
        for r in rrf_fuse({"a": s1, "b": s2}, k=10).collect()
    ]
    r1 = 1_000_000 // 61
    r2 = 1_000_000 // 62
    assert got == [
        (1, 20, 2, r1 + r2),  # present in both lists
        (2, 10, 1, r1),       # single-system, rank 1
        (3, 30, 1, r2),       # single-system, rank 2
    ]


def test_label_propagation_two_triangles(spark):
    """Hand-traced synchronous LPA on two triangles joined by a bridge:
    after 3 deterministic rounds the triangles settle on labels 'a' and
    'c' (the tie-breaks are exercised on every node)."""
    from weblog_pipeline.ops.graph import label_propagation

    edges = spark.createDataFrame(
        [
            Row(src_host=s, dst_host=t, n_links=1)
            for s, t in [
                ("a", "b"), ("b", "c"), ("a", "c"),   # triangle 1
                ("d", "e"), ("e", "f"), ("d", "f"),   # triangle 2
                ("c", "d"),                            # bridge
                ("a", "a"),                            # self-loop: dropped
            ]
        ]
    )
    got = {
        r["host"]: (r["label"], r["community_size"])
        for r in label_propagation(edges).collect()
    }
    assert got == {
        "a": ("a", 3), "b": ("a", 3), "c": ("a", 3),
        "d": ("c", 3), "e": ("c", 3), "f": ("c", 3),
    }


def test_split_leakage_flags_cross_split_duplicates(spark):
    """A duplicate pair straddling train/test must surface as is_leak=1;
    a same-split pair counts under is_leak=0. Split ids are chosen with
    an independent hashlib twin of the split hash."""
    import hashlib

    from weblog_pipeline.ops.corpus import split_leakage

    def split(i):
        b = int(hashlib.md5(f"sp:{i}".encode()).hexdigest()[:4], 16) % 100
        return "train" if b < 98 else ("val" if b < 99 else "test")

    train_ids = [i for i in range(3000) if split(i) == "train"]
    test_id = next(i for i in range(3000) if split(i) == "test")
    t1 = "one two three four five six seven eight nine ten"
    t2 = "red green blue cyan magenta yellow black white gray pink"
    docs = spark.createDataFrame(
        [
            Row(doc_id=train_ids[0], text=t1),
            Row(doc_id=test_id, text=t1),       # exact dup across splits
            Row(doc_id=train_ids[1], text=t2),
            Row(doc_id=train_ids[2], text=t2),  # exact dup inside train
            Row(doc_id=train_ids[3], text="lonely singleton document here"),
        ]
    )
    got = {
        (r["split_a"], r["split_b"]): (r["n_pairs"], r["is_leak"])
        for r in split_leakage(docs).collect()
    }
    assert got == {
        ("test", "train"): (1, 1),   # least/greatest: 'test' < 'train'
        ("train", "train"): (1, 0),
    }


def test_hard_negatives_excludes_same_label(spark):
    """The nearest neighbor overall shares the query's label and must
    NOT appear; the ranked output holds only different-label vectors."""
    from weblog_pipeline.ops.similarity import hard_negatives

    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0], label=0),   # query
            Row(vec_id=1, embedding=[0.99, 0.1], label=0),  # same label
            Row(vec_id=2, embedding=[0.9, 0.3], label=1),
            Row(vec_id=3, embedding=[-1.0, 0.0], label=2),
        ]
    )
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    got = [
        (r["rank"], r["neighbor_id"], r["neighbor_label"])
        for r in hard_negatives(emb, q, k=5).collect()
    ]
    assert got == [(1, 2, 1), (2, 3, 2)]


def test_knn_label_eval_majority_and_tiebreak(spark):
    """Majority vote among k=3: query 0 (label 0) sees labels {0,0,1} ->
    correct; query 10 (label 2) sees {1,1,0} -> wrong. Accuracy in bp."""
    from weblog_pipeline.ops.similarity import knn_label_eval

    rows = [
        # cluster near +x: the k=3 neighborhood of query 0
        Row(vec_id=0, embedding=[1.0, 0.0], label=0),
        Row(vec_id=1, embedding=[0.99, 0.05], label=0),
        Row(vec_id=2, embedding=[0.98, 0.1], label=0),
        Row(vec_id=3, embedding=[0.97, 0.15], label=1),
        # cluster near +y: the k=3 neighborhood of query 10
        Row(vec_id=10, embedding=[0.0, 1.0], label=2),
        Row(vec_id=11, embedding=[0.05, 0.99], label=1),
        Row(vec_id=12, embedding=[0.1, 0.98], label=1),
        Row(vec_id=13, embedding=[0.15, 0.97], label=0),
    ]
    emb = spark.createDataFrame(rows)
    q = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    got = {
        r["query_label"]: (r["n_queries"], r["n_correct"], r["acc_bp"])
        for r in knn_label_eval(emb, q, k=3).collect()
    }
    assert got == {0: (1, 1, 10000), 2: (1, 0, 0)}


def test_token_fertility_hand_computed(spark):
    """'the' collapses to one piece under the (t,h)(th,e) merges: a doc
    of three 'the' words has fertility 10000 bp; an unmergeable word
    stays character-pieces."""
    from weblog_pipeline.ops.textstats import token_fertility

    merges = (("t", "h"), ("th", "e"))
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="the the the", lang="en"),
            Row(doc_id=1, text="xyz", lang="de"),
        ]
    )
    got = {
        r["lang"]: (r["n_docs"], r["n_words"], r["n_pieces"],
                    r["fertility_bp"], r["chars_per_piece_bp"])
        for r in token_fertility(docs, merges).collect()
    }
    # en: 3 words, 3 pieces ('the' merged), 9 chars -> 30000 bp/piece
    # de: 1 word, 3 pieces (x y z), 3 chars -> 10000 bp/piece
    assert got == {
        "en": (1, 3, 3, 10000, 30000),
        "de": (1, 1, 3, 30000, 10000),
    }


def test_query_likelihood_hand_computed(spark):
    """QL scores match an independent math.log twin on a 3-doc corpus;
    the shorter doc with rarer mass ranks first; term-free docs are
    absent."""
    import math

    from weblog_pipeline.ops.textstats import query_likelihood_topk

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="spark spark join"),
            Row(doc_id=1, text="hash join"),
            Row(doc_id=2, text="alpha beta"),
        ]
    )
    mu, total = 10, 7
    cf = {"spark": 2, "join": 2, "hash": 1}
    tfs = {0: {"spark": 2, "join": 1}, 1: {"hash": 1, "join": 1}}
    dls = {0: 3, 1: 2}

    def flnu(x):
        return math.floor(math.log(x) * 1_000_000)

    const_all = sum(flnu(mu * c) for c in cf.values())

    def score(d):
        adj = sum(
            flnu(tf * total + mu * cf[t]) - flnu(mu * cf[t])
            for t, tf in tfs[d].items()
        )
        return const_all + adj - 3 * (flnu(dls[d] + mu) + flnu(total))

    got = [
        (r["rank"], r["doc_id"], r["n_terms"], r["score_micro"])
        for r in query_likelihood_topk(
            docs, ("spark", "join", "hash"), k=5, mu=mu
        ).collect()
    ]
    assert got == [(1, 1, 2, score(1)), (2, 0, 2, score(0))]


def test_trimmed_mean_against_python_twin(spark):
    """Bucket-grain winsorized mean: exact integer-cent twin, whale
    bucket dropped, raw mean still dragged by the whale."""
    import math

    from weblog_pipeline.aggregate import trimmed_mean

    vals = {
        # 20 ordinary values in buckets 0..3 plus one whale at 990.0
        "a": [float(i) % 37.5 + 1.25 for i in range(20)] + [990.0],
        # too few events to trim anything: lo=1 -> first bucket whole
        "b": [5.0, 15.0, 25.0],
        # single-bucket key: trim empties the histogram -> raw fallback
        "c": [5.0, 5.5, 6.0],
    }
    rows = [
        Row(event_id=i, event_type=k, value=v)
        for i, (k, v) in enumerate(
            (k, v) for k, vs in sorted(vals.items()) for v in vs
        )
    ]

    def twin(vs, trim=5):
        hist = {}
        for v in vs:
            b = math.floor(v / 10.0)
            n, s = hist.get(b, (0, 0))
            hist[b] = (n + 1, s + math.floor(v * 100))
        total = len(vs)
        lo = (trim * total + 99) // 100
        hi = ((100 - trim) * total) // 100
        cum = 0
        n_kept = sum_kept = 0
        for b in sorted(hist):
            n, s = hist[b]
            before, cum = cum, cum + n
            if before >= lo and cum <= hi:
                n_kept += n
                sum_kept += s
        raw = sum(math.floor(v * 100) for v in vs) // total
        trm = sum_kept // n_kept if n_kept else raw
        return (total, n_kept, sum_kept, trm, raw)

    got = {
        r["event_type"]: (
            r["n_events"], r["n_kept"], r["sum_kept_c"],
            r["trimmed_mean_c"], r["raw_mean_c"],
        )
        for r in trimmed_mean(spark.createDataFrame(rows)).collect()
    }
    assert got == {k: twin(vs) for k, vs in vals.items()}
    # the whale must actually be trimmed for "a"
    assert got["a"][3] < got["a"][4]
    # single-bucket key: n_kept 0, trimmed falls back to the raw mean
    assert got["c"][1] == 0 and got["c"][3] == got["c"][4] == 550


def test_passage_fingerprints_against_python_twin(spark):
    """token_windows boundaries + md5 passage identity; identical
    passages across docs share a hash; short doc = one window."""
    import hashlib

    from weblog_pipeline.ops.corpus import passage_fingerprints

    texts = {
        0: "A b c d e f g h i j k l m n o p q r s t",   # 20 toks, W=8/S=6
        1: "x y z",                                      # short: 1 window
        2: "a b c d e f g h i j k l m n o p q r s t",   # lowercased twin of 0
    }
    rows = [Row(doc_id=k, text=v) for k, v in texts.items()]

    def twin(doc_id, text, w=8, s=6):
        toks = text.lower().split(" ")
        n = len(toks)
        k_max = (n - w + s - 1) // s if n > w else 0
        out = []
        for k in range(k_max + 1):
            sl = toks[k * s : k * s + w]
            out.append((
                doc_id, k, k * s, min(k * s + w, n),
                hashlib.md5(" ".join(sl).encode()).hexdigest(),
            ))
        return out

    exp = sorted(r for k, v in texts.items() for r in twin(k, v))
    got = sorted(
        tuple(r) for r in passage_fingerprints(
            spark.createDataFrame(rows), window=8, stride=6
        ).collect()
    )
    assert got == exp
    # case-folded identity: doc 0 and doc 2 share every chunk hash
    h0 = {r[4] for r in got if r[0] == 0}
    h2 = {r[4] for r in got if r[0] == 2}
    assert h0 == h2 and len(h0) == 3


def test_phrase_search_overlaps_and_repeats(spark):
    """Overlapping occurrences each count; repeated-token phrases
    match; case-folded; docs without the full phrase absent."""
    from weblog_pipeline.ops.textstats import phrase_search

    rows = [
        Row(doc_id=0, text="a a a a b"),        # 'a a': starts 0,1,2
        Row(doc_id=1, text="x A a y a b"),      # 'a a': start 1 (folded)
        Row(doc_id=2, text="a b a b a"),        # 'a a': none
        Row(doc_id=3, text="b a a"),            # start 1
    ]
    df = spark.createDataFrame(rows)
    got = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_search(df, ("a", "a")).collect()
    }
    assert got == {0: (3, 0), 1: (1, 1), 3: (1, 1)}
    # 3-term phrase
    got3 = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_search(df, ("a", "b", "a")).collect()
    }
    assert got3 == {2: (2, 0)}


def test_containment_pairs_quote_detection(spark):
    """A short quote embedded verbatim in a long page: containment hits
    10000 bp while Jaccard stays tiny; unrelated docs never pair; a
    df-capped (ubiquitous) shingle generates no candidates."""
    from weblog_pipeline.ops.dedup import containment_pairs, jaccard_verify

    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    rows = [
        Row(doc_id=0, text=quote),                       # 8 shingles
        Row(doc_id=1, text=filler + " " + quote),        # contains all 8
        Row(doc_id=2, text="totally different content here today now"),
        # common boilerplate shared by >4 docs -> df cap excludes it
        *[
            Row(doc_id=10 + i, text="copyright acme corp all rights " + f"u{i}")
            for i in range(6)
        ],
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_intersect"], r["n_a"], r["n_b"],
                                   r["containment_bp"])
        for r in containment_pairs(df).collect()
    }
    assert set(got) == {(0, 1)}
    n_i, n_a, n_b, bp = got[(0, 1)]
    assert n_i == n_a == 8 and bp == 10000 and n_b > 100
    # the same pair's Jaccard is far below any near-dup threshold
    jv = jaccard_verify(
        df, spark.createDataFrame([Row(doc_a=0, doc_b=1)])
    ).collect()[0]
    assert 100 * jv["n_intersect"] < 10 * jv["n_union"]  # < 10%


def test_vocab_js_drift_against_python_twin(spark):
    """Exact integer twin over a tiny 2-lang corpus with known split
    membership (doc 20 is heldout under the 'sp:' hash); identical
    distributions give js2_sum == 0."""
    import hashlib
    import math

    from weblog_pipeline.ops.textstats import vocab_js_drift

    def is_train(doc_id):
        return int(
            hashlib.md5(f"sp:{doc_id}".encode()).hexdigest()[:4], 16
        ) % 100 < 98

    assert not is_train(20) and not is_train(30)
    rows = [
        Row(doc_id=0, lang="en", text="a b c a"),      # train
        Row(doc_id=1, lang="en", text="a b d"),        # train
        Row(doc_id=20, lang="en", text="a e e e"),     # heldout
        Row(doc_id=2, lang="fr", text="x y"),          # train
        Row(doc_id=30, lang="fr", text="x y"),         # heldout: same dist
    ]
    top_k = 2

    def twin(lang):
        from collections import Counter

        ca, cb = Counter(), Counter()
        for r in rows:
            if r.lang != lang:
                continue
            for t in r.text.split(" "):
                (ca if is_train(r.doc_id) else cb)[t] += 1
        vocab = sorted(
            set(ca) | set(cb), key=lambda t: (-(ca[t] + cb[t]), t)
        )
        kept = vocab[:top_k]
        cells = [(ca[t], cb[t]) for t in kept]
        cells.append((
            sum(ca.values()) - sum(ca[t] for t in kept),
            sum(cb.values()) - sum(cb[t] for t in kept),
        ))
        ta = sum(a + 1 for a, _ in cells)
        tb = sum(b + 1 for _, b in cells)
        js2 = 0
        for a, b in cells:
            pa = max(1, (a + 1) * 1_000_000 // ta)
            pb = max(1, (b + 1) * 1_000_000 // tb)
            js2 += pa * math.floor(math.log(2 * pa / (pa + pb)) * 1_000_000)
            js2 += pb * math.floor(math.log(2 * pb / (pa + pb)) * 1_000_000)
        return (sum(ca.values()), sum(cb.values()), js2)

    got = {
        r["lang"]: (r["n_train_toks"], r["n_held_toks"], r["js2_sum"])
        for r in vocab_js_drift(
            spark.createDataFrame(rows), top_k=top_k
        ).collect()
    }
    assert got == {"en": twin("en"), "fr": twin("fr")}
    # fr train and heldout distributions are identical -> zero divergence
    assert got["fr"][2] == 0 and got["en"][2] > 0


def test_k_core_peeling_cascade(spark):
    """A triangle survives the 2-core; a pendant path peels one hop per
    round (cascade), so iters bounds how far the peel propagates."""
    from weblog_pipeline.ops.graph import k_core

    # triangle a-b-c, path c-p1-p2-p3 (p3 degree 1, peels first)
    und = [("a", "b"), ("b", "c"), ("a", "c"),
           ("c", "p1"), ("p1", "p2"), ("p2", "p3")]
    rows = [
        Row(src_host=s, dst_host=t, n_links=1) for s, t in und
    ]
    df = spark.createDataFrame(rows)
    got = {r["host"]: r["degree"] for r in k_core(df, k=2, iters=4).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}
    # with iters=1 only p3 has peeled: p1, p2 still look 2-connected
    got1 = {r["host"]: r["degree"] for r in k_core(df, k=2, iters=1).collect()}
    assert got1 == {"a": 2, "b": 2, "c": 3, "p1": 2, "p2": 2}
    # iters=2: p2 lost p3 -> degree 1 -> gone; p1 still sees c and p2
    got2 = {r["host"]: r["degree"] for r in k_core(df, k=2, iters=2).collect()}
    assert got2 == {"a": 2, "b": 2, "c": 3, "p1": 2}


def test_triangle_count_against_itertools_twin(spark):
    """Exact per-host triangle participation on a mixed graph (clique +
    pendant + square), verified against a brute-force twin; direction
    and duplicate edges must not matter."""
    from itertools import combinations

    from weblog_pipeline.ops.graph import triangle_count

    und = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("a", "d"),
           ("d", "e"),                       # pendant: no triangle
           ("e", "f"), ("f", "g"), ("g", "e"),  # second triangle
           ("b", "a")]                       # reverse duplicate of (a,b)
    rows = [Row(src_host=s, dst_host=t, n_links=1) for s, t in und]

    adj = {}
    for s, t in und:
        adj.setdefault(s, set()).add(t)
        adj.setdefault(t, set()).add(s)
    expected = {}
    for x, y, z in combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for h in (x, y, z):
                expected[h] = expected.get(h, 0) + 1

    got = {
        r["host"]: r["n_triangles"]
        for r in triangle_count(spark.createDataFrame(rows)).collect()
    }
    assert got == expected
    assert expected["a"] == 2  # (a,b,c) and (a,c,d)


def test_item_covisitation_cap_and_support(spark):
    """Pairs count once per (user, day) stratum regardless of repeat
    events; a stratum over the cap is dropped whole; support filters."""
    import datetime

    from weblog_pipeline.aggregate import item_covisitation

    d1 = datetime.datetime(2024, 1, 1, 10, 0)
    d2 = datetime.datetime(2024, 1, 2, 10, 0)
    rows = []
    eid = 0

    def ev(user, ts, k):
        nonlocal eid
        rows.append(Row(event_id=eid, ts=ts, user_id=user,
                        event_type="view", value=1.0,
                        props='{"k": %d}' % k))
        eid += 1

    # users 1..3 co-visit items (7, 9) on day 1 -> support 3
    for u in (1, 2, 3):
        ev(u, d1, 7)
        ev(u, d1, 9)
        ev(u, d1, 9)           # repeat event, same stratum: still 1 pair
    # user 1 co-visits (7, 9) again on day 2 -> support 4
    ev(1, d2, 7)
    ev(1, d2, 9)
    # users 4,5 co-visit (11, 13) -> support 2, below min_support=3
    for u in (4, 5):
        ev(u, d1, 11)
        ev(u, d1, 13)
    # bot user 99 touches items 0..5 (> cap 4) incl. 7 and 9 -> dropped
    for k in range(6):
        ev(99, d1, k)
    ev(99, d1, 7)
    ev(99, d1, 9)

    got = {
        (r["item_a"], r["item_b"]): r["n_covisits"]
        for r in item_covisitation(
            spark.createDataFrame(rows), min_support=3, stratum_cap=4
        ).collect()
    }
    assert got == {(7, 9): 4}


def test_daily_anomalies_spike_detection(spark):
    """A 10x spike after a steady week flags; the steady days and the
    warm-up days (insufficient baseline) never flag; the integer
    cross-multiplied test matches the float z-test on this data."""
    import datetime

    from weblog_pipeline.aggregate import daily_anomalies

    rows = []
    eid = 0
    base = datetime.datetime(2024, 3, 1)
    # 8 steady days of 5 events, then a 50-event spike on day 9
    for d in range(9):
        n = 50 if d == 8 else 5 + (d % 2)  # slight wobble: nonzero var
        for _ in range(n):
            rows.append(Row(
                event_id=eid, ts=base + datetime.timedelta(days=d),
                user_id=1, event_type="view", value=1.0, props="{}",
            ))
            eid += 1
    got = {
        r["day"] - 19783: (r["n_events"], r["base_days"], r["is_anomaly"])
        for r in daily_anomalies(spark.createDataFrame(rows)).collect()
    }
    day0 = min(got)
    flags = {d - day0: v[2] for d, v in got.items()}
    assert flags[8] is True                      # the spike
    assert not any(flags[d] for d in range(8))   # warm-up + steady: quiet
    assert got[day0][1] == 0                     # first day: empty baseline


def test_media_ahash_against_python_twin(spark):
    """aHash from the real PNG decode matches a from-scratch twin over
    the synthetic pixel function; a flat image hashes to all zeros (no
    block exceeds the mean); grayscale JPEG path decodes too."""
    from pyspark.sql import Row as R

    from weblog_pipeline.ops import multimodal as mm

    def twin(doc_id):
        w, h, s = 1 + doc_id % 32, 1 + doc_id % 24, doc_id % 256
        sums, cnts = [0] * 64, [0] * 64
        for y in range(h):
            for x in range(w):
                b = (y * 8 // h) * 8 + (x * 8 // w)
                sums[b] += (s + x + y) % 256
                cnts[b] += 1
        means = [sums[i] // cnts[i] if cnts[i] else 0 for i in range(64)]
        present = [i for i in range(64) if cnts[i]]
        t = sum(means[i] for i in present) // len(present)
        hv = 0
        for i in present:
            if means[i] > t:
                hv |= 1 << i
        return format(hv, "016X"), len(present)

    ids = [0, 7, 31, 123, 255, 300]
    rows = [
        R(media_id=i, payload=bytearray(mm.encode_png(1 + i % 32, 1 + i % 24, i)),
          media_type="image")
        for i in ids
    ]
    got = {
        r["media_id"]: (r["ahash"], r["n_blocks"])
        for r in mm.media_ahash(spark.createDataFrame(rows)).collect()
    }
    assert got == {i: twin(i) for i in ids}
    # flat gray BMP-like PNG is impossible via encode_png (gradient), so
    # check the flat case through the JPEG twin: a 16x16 flat gray JPEG
    jp = mm.encode_jpeg(16, 16, 0)
    out = mm.media_ahash(
        spark.createDataFrame([R(media_id=1, payload=bytearray(jp),
                                 media_type="image")])
    ).collect()[0]
    assert out["n_blocks"] == 64 and len(out["ahash"]) == 16


def test_audio_fingerprint_across_codecs(spark):
    """The same rising-then-falling envelope fingerprints identically
    whether stored as 8-bit PCM or expanded from mu-law (the envelope
    survives companding); a monotone-rising clip sets every delta bit."""
    from pyspark.sql import Row as R

    from weblog_pipeline.ops import multimodal as mm

    # encode_wav(n, s): 8-bit PCM, sample i = (s + i) % 256 — rising
    # within each 256-wrap; pick n=64, s=0: strictly rising, all 7 bits
    rising = mm.encode_wav(64, 0)
    rows = [R(media_id=0, payload=bytearray(rising), media_type="audio")]
    got = {
        r["media_id"]: (r["n_samples"], r["fp"])
        for r in mm.audio_fingerprint(spark.createDataFrame(rows)).collect()
    }
    assert got[0] == (64, 127)

    # python twin over the analytic sample function for several sizes
    def twin(n, s):
        sums, cnts = [0] * 8, [0] * 8
        for i in range(n):
            b = i * 8 // n
            sums[b] += (s + i) % 256
            cnts[b] += 1
        fp, prev = 0, None
        for b in range(8):
            if not cnts[b]:
                continue
            if prev is not None and sums[b] * cnts[prev] > sums[prev] * cnts[b]:
                fp |= 1 << (b - 1)
            prev = b
        return fp

    sizes = [(1, 5), (3, 250), (7, 0), (100, 200)]
    rows = [
        R(media_id=k, payload=bytearray(mm.encode_wav(n, s)),
          media_type="audio")
        for k, (n, s) in enumerate(sizes)
    ]
    got = {
        r["media_id"]: r["fp"]
        for r in mm.audio_fingerprint(spark.createDataFrame(rows)).collect()
    }
    assert got == {k: twin(n, s) for k, (n, s) in enumerate(sizes)}


def test_encoding_damage_signatures(spark):
    """Each damage class counts independently; clean accented text (one
    isolated accent per word) never flags; a mojibake digraph run does."""
    from weblog_pipeline.ops.textstats import encoding_damage

    rows = [
        Row(doc_id=0, text="clean ascii text"),
        Row(doc_id=1, text="caf\u00e9 na\u00efve r\u00e9sum\u00e9"),
        Row(doc_id=2, text="bad \ufffd twice \ufffd here"),
        Row(doc_id=3, text="c1 ctrl \u0085 and \u0092 chars"),
        # classic UTF-8-as-Latin-1: three separate digraph runs
        Row(doc_id=4, text="caf\u00c3\u00a9 d\u00c3\u00a9j\u00c3\u00a0 x"),
    ]
    got = {
        r["doc_id"]: (r["n_repl"], r["n_c1"], r["n_latin1_run"],
                      r["is_suspect"])
        for r in encoding_damage(spark.createDataFrame(rows)).collect()
    }
    assert got[0] == (0, 0, 0, False)
    assert got[1] == (0, 0, 0, False)        # isolated accents: no runs
    assert got[2] == (2, 0, 0, True)
    assert got[3][1] == 2 and got[3][3] is True
    assert got[4][2] == 3 and got[4][3] is True   # three digraph runs


def test_pca_power_matches_integer_twin_and_true_pc(spark):
    """The fixed-round integer recipe matches an exact numpy twin, and
    on a strongly anisotropic cloud the result aligns with numpy's true
    top eigenvector (|cos| > 0.99)."""
    import numpy as np
    from pyspark.sql import Row as R

    from weblog_pipeline.ops.similarity import (
        PCA_ITERS, PCA_PRESCALE, PCA_SCALE, pca_power,
    )

    rng_free = [  # deterministic anisotropic cloud, dominant axis ~(3,1,0,...)
        [((3 * k) % 7 - 3) * 0.3, ((3 * k) % 7 - 3) * 0.1]
        + [((k * 5 + d) % 11 - 5) * 0.01 for d in range(6)]
        for k in range(40)
    ]
    rows = [R(vec_id=i, embedding=[float(x) for x in v])
            for i, v in enumerate(rng_free)]

    def twin(vecs):
        Q = np.floor(np.asarray(vecs, dtype=np.float64) * 1000.0).astype(
            np.int64)
        M = Q.T @ Q
        f = max(1, int(np.max(np.abs(M))) // PCA_PRESCALE)
        M = np.sign(M) * (np.abs(M) // f)
        v = np.full(M.shape[0], PCA_SCALE, dtype=object)
        for _ in range(PCA_ITERS):
            raw = M.astype(object) @ v
            g = max(1, int(max(abs(int(x)) for x in raw)) // PCA_SCALE)
            v = np.array([int(np.sign(x)) * (abs(int(x)) // g) for x in raw],
                         dtype=object)
        nz = [i for i, x in enumerate(v) if x != 0]
        sg = -1 if nz and v[nz[0]] < 0 else 1
        return [int(x) * sg for x in v]

    got = {r["dim"]: r["v"]
           for r in pca_power(spark.createDataFrame(rows)).collect()}
    exp = twin(rng_free)
    assert [got[d] for d in sorted(got)] == exp
    # alignment with the true top eigenvector of the cross-moment matrix
    Q = np.floor(np.asarray(rng_free) * 1000.0)
    M = Q.T @ Q
    w, V = np.linalg.eigh(M)
    top = V[:, -1]
    v = np.array(exp, dtype=np.float64)
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.99, cos


def test_pca_project_is_exact_dot_with_component(spark):
    """Each vector's score equals the integer dot of its quantized
    components with the pca_power vector; ordering separates the two
    planted clusters along the dominant axis."""
    import numpy as np
    from pyspark.sql import Row as R

    from weblog_pipeline.ops.similarity import pca_power, pca_project

    vecs = [[1.0 if d == 0 else 0.01 * ((i + d) % 3) for d in range(8)]
            for i in range(10)]
    vecs += [[-1.0 if d == 0 else 0.01 * ((i + d) % 3) for d in range(8)]
             for i in range(10)]
    rows = [R(vec_id=i, embedding=[float(x) for x in v])
            for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows)
    comp = {r["dim"]: r["v"] for r in pca_power(df).collect()}
    got = {r["vec_id"]: r["score"] for r in pca_project(df).collect()}
    for i, v in enumerate(vecs):
        qd = np.floor(np.asarray(v) * 1000.0).astype(int)
        assert got[i] == int(sum(int(qd[d]) * comp[d] for d in range(8)))
    # the +x cluster and -x cluster land on opposite sides
    assert all(got[i] * got[i + 10] < 0 for i in range(10))


def test_lang_confusion_matrix(spark):
    """Counts land in the right (true, guess) cell; shares are integer
    bp of the TRUE language's total; unmatched text guesses 'und'."""
    from weblog_pipeline.ops.textstats import lang_confusion

    rows = [
        Row(doc_id=0, lang="en", text="the fast table and the hash"),
        Row(doc_id=1, lang="en", text="the quick join of the scan"),
        Row(doc_id=2, lang="en", text="zzz qqq www"),          # -> und
        Row(doc_id=3, lang="fr", text="le rapide et la table"),
    ]
    got = {
        (r["lang"], r["lang_guess"]): (r["n"], r["share_bp"])
        for r in lang_confusion(spark.createDataFrame(rows)).collect()
    }
    assert got[("en", "en")] == (2, 6666)
    assert got[("en", "und")] == (1, 3333)
    assert got[("fr", "fr")] == (1, 10000)
    assert set(got) == {("en", "en"), ("en", "und"), ("fr", "fr")}


def test_degree_assortativity_signs(spark):
    """A star graph is maximally disassortative (r = -1: r_sign -1,
    r2_bp 10000); a pair of disjoint equal-degree cliques is perfectly
    assortative-degenerate (den = 0 -> r2_bp 0); moments match a twin."""
    from weblog_pipeline.ops.graph import degree_assortativity

    star = [Row(src_host="hub", dst_host=f"leaf{i}", n_links=1)
            for i in range(5)]
    got = degree_assortativity(spark.createDataFrame(star)).collect()[0]
    assert got["n_edges"] == 10           # 5 undirected edges, both ways
    assert got["r_sign"] == -1 and got["r2_bp"] == 10000

    cliq = [Row(src_host=f"a{i}", dst_host=f"a{j}", n_links=1)
            for i in range(3) for j in range(i + 1, 3)]
    cliq += [Row(src_host=f"b{i}", dst_host=f"b{j}", n_links=1)
             for i in range(3) for j in range(i + 1, 3)]
    got2 = degree_assortativity(spark.createDataFrame(cliq)).collect()[0]
    # every endpoint degree is 2: zero variance -> den 0 -> defined as 0
    assert got2["r_sign"] == 0 and got2["r2_bp"] == 0


def test_quota_sample_exact_quota_and_determinism(spark):
    """Exactly min(k, stratum) rows per lang; the cut equals the naive
    md5-order rank (the group-limited cut is exact); stable across runs."""
    import hashlib

    from weblog_pipeline.ops.corpus import quota_sample

    rows = [Row(doc_id=i, lang="en" if i < 30 else "fr",
                text="x", source="s", n_chars=1) for i in range(34)]
    df = spark.createDataFrame(rows)
    got = sorted(
        (r["lang"], r["rank"], r["doc_id"])
        for r in quota_sample(df, k=5).collect()
    )

    def naive(lang, ids, k=5):
        order = sorted(ids, key=lambda i: (
            hashlib.md5(f"qs:{i}".encode()).hexdigest(), i))
        return [(lang, r + 1, i) for r, i in enumerate(order[:k])]

    exp = sorted(naive("en", range(30)) + naive("fr", range(30, 34), k=5))
    assert got == exp
    assert sum(1 for g in got if g[0] == "fr") == 4  # stratum < k: all 4
    assert got == sorted(
        (r["lang"], r["rank"], r["doc_id"])
        for r in quota_sample(df, k=5).collect()
    )


def test_media_dhash_gradient_bits(spark):
    """dHash from the real decode matches the analytic twin: the
    synthetic gradient (s+x+y)%256 brightens left-to-right, so inside a
    wrap every adjacent block pair sets its bit."""
    from pyspark.sql import Row as R

    from weblog_pipeline.ops import multimodal as mm

    def twin_d(doc_id):
        w, h, s = 1 + doc_id % 32, 1 + doc_id % 24, doc_id % 256
        sums, cnts = [0] * 64, [0] * 64
        for y in range(h):
            for x in range(w):
                b = (y * 8 // h) * 8 + (x * 8 // w)
                sums[b] += (s + x + y) % 256
                cnts[b] += 1
        dh = 0
        for by in range(8):
            for bx in range(7):
                a, b = by * 8 + bx, by * 8 + bx + 1
                if cnts[a] and cnts[b] and \
                        sums[b] // cnts[b] > sums[a] // cnts[a]:
                    dh |= 1 << (by * 7 + bx)
        return format(dh, "014X")

    ids = [0, 31, 123, 255]
    rows = [
        R(media_id=i,
          payload=bytearray(mm.encode_png(1 + i % 32, 1 + i % 24, i)),
          media_type="image")
        for i in ids
    ]
    got = {
        r["media_id"]: r["dhash"]
        for r in mm.media_ahash(spark.createDataFrame(rows)).collect()
    }
    assert got == {i: twin_d(i) for i in ids}
    # width-1 image: no horizontal pairs -> all-zero dhash
    one = mm.media_ahash(spark.createDataFrame(
        [R(media_id=9, payload=bytearray(mm.encode_png(1, 8, 5)),
           media_type="image")]
    )).collect()[0]
    assert one["dhash"] == "0" * 14


def test_weekday_profile_chi2(spark):
    """Epoch-day weekday mapping is calendar-correct (2024-01-01 is a
    Monday -> 0); a single-weekday key flags seasonal, a uniform one
    doesn't; chi2 matches the hand-floored sum."""
    import datetime

    from weblog_pipeline.aggregate import weekday_profile

    rows, eid = [], 0
    # "flat": exactly 2 events every day for 2 weeks -> chi2 == 0
    for d in range(14):
        for _ in range(2):
            rows.append(Row(event_id=eid, user_id=1, event_type="flat",
                            ts=datetime.datetime(2024, 1, 1)
                            + datetime.timedelta(days=d),
                            value=1.0, props="{}"))
            eid += 1
    # "spiky": 14 events, all on Mondays
    for w in range(2):
        for _ in range(7):
            rows.append(Row(event_id=eid, user_id=1, event_type="spiky",
                            ts=datetime.datetime(2024, 1, 1)
                            + datetime.timedelta(days=7 * w),
                            value=1.0, props="{}"))
            eid += 1
    got = {
        (r["event_type"], r["weekday"]): (r["n_events"], r["chi2"],
                                          r["is_seasonal"])
        for r in weekday_profile(spark.createDataFrame(rows)).collect()
    }
    assert got[("flat", 0)] == (4, 0, False)
    assert len([k for k in got if k[0] == "flat"]) == 7
    # spiky: every key emits ALL 7 cells; Monday holds all 14 events and
    # the six silent days contribute their (7*0-14)^2 // (7*14) = 2 each:
    # chi2 = (7*14-14)^2 // 98 + 6 * 2 = 72 + 12 = 84
    assert got[("spiky", 0)] == (14, 84, True)
    assert got[("spiky", 3)] == (0, 84, True)
    assert len([k for k in got if k[0] == "spiky"]) == 7
    # the review's 6-day cron pattern: present-day terms alone would sum
    # to 12 < 13 and MISS the flag; the silent day's term must flag it
    import datetime as _dt
    cron = [
        Row(event_id=10_000 + 120 * d + i, user_id=9, event_type="cron",
            ts=_dt.datetime(2024, 1, 1) + _dt.timedelta(days=d), value=1.0,
            props="{}")
        for d in range(6)            # Mon..Sat only, two weeks would be
        for i in range(120)          # identical — one week suffices
    ]
    got_cron = {
        r["weekday"]: (r["n_events"], r["chi2"], r["is_seasonal"])
        for r in weekday_profile(
            spark.createDataFrame(cron)
        ).collect()
    }
    assert got_cron[6][0] == 0 and got_cron[6][2] is True
    assert got_cron[0][1] >= 100  # the silent Sunday dominates the score


def test_hamming_topk_matches_python_twin(spark):
    """Packed sign bits and Hamming ranks match a bit-for-bit python
    twin; the query's own row is excluded; identical-sign vector ranks
    first at distance 0."""
    from pyspark.sql import Row as R

    from weblog_pipeline.ops.similarity import hamming_topk, pack_sign_bits

    vecs = {
        0: [0.5, -0.5] * 32,
        1: [0.9, -0.1] * 32,          # same sign pattern -> hamming 0
        2: [-0.5, 0.5] * 32,          # fully flipped -> hamming 64
        3: [0.5] * 64,                # half flipped -> hamming 32
    }
    rows = [R(vec_id=i, embedding=[float(x) for x in v])
            for i, v in enumerate(vecs.values())]
    df = spark.createDataFrame(rows)

    def pack(v):
        lo = hi = 0
        for i, x in enumerate(v):
            import math
            if math.floor(x * 1000.0) >= 0:
                if i < 32:
                    lo |= 1 << i
                else:
                    hi |= 1 << (i - 32)
        return lo, hi

    got_pack = {r["vec_id"]: (r["lo"], r["hi"])
                for r in pack_sign_bits(df).collect()}
    assert got_pack == {i: pack(v) for i, v in vecs.items()}
    got = [(r["rank"], r["vec_id"], r["hamming"])
           for r in hamming_topk(df, query_id=0, k=3).collect()]
    assert sorted(got) == [(1, 1, 0), (2, 3, 32), (3, 2, 64)]


def test_shard_assignment_rendezvous_stability(spark):
    """Every key routes to its python-twin rendezvous winner, and
    growing the ring from 4 to 5 shards moves ONLY keys whose new
    winner is the added shard (the consistent-hashing property)."""
    import hashlib

    from weblog_pipeline.ops.corpus import shard_assignment

    rows = [Row(doc_id=i, text="x", lang="en", source="s", n_chars=1)
            for i in range(200)]
    df = spark.createDataFrame(rows)

    def winner(i, n):
        return max(range(n), key=lambda s: hashlib.md5(
            f"{s}:{i}".encode()).hexdigest())

    got4 = {r["shard"]: r["n_docs"]
            for r in shard_assignment(df, n_shards=4).collect()}
    from collections import Counter
    exp4 = Counter(winner(i, 4) for i in range(200))
    assert got4 == dict(exp4)
    # consistent-hashing movement: keys changing shard at n=5 all move
    # TO shard 4, and their count equals the twin's
    moved = [i for i in range(200) if winner(i, 5) != winner(i, 4)]
    assert moved and all(winner(i, 5) == 4 for i in moved)
    got5 = {r["shard"]: r["n_docs"]
            for r in shard_assignment(df, n_shards=5).collect()}
    assert got5[4] == len(moved)
    # load shares sum to ~n_shards * 10000
    lb = [r["load_bp"] for r in shard_assignment(df, n_shards=4).collect()]
    assert abs(sum(lb) - 40000) <= 4


def test_setsim_join_exact_no_false_negatives(spark):
    """The prefix-filtered join returns EXACTLY the brute-force >= t
    shingle-Jaccard pairs on a corpus with near-dups, a sub-threshold
    pair, and unrelated docs."""
    from itertools import combinations

    from weblog_pipeline.ops.dedup import setsim_join

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = {
        0: base,
        1: base + " lambda",                    # near-dup of 0
        2: base.replace("gamma", "mu"),         # near-dup of 0 (subst)
        3: "one two three four five six seven eight nine ten",
        4: "one two three four five xx yy zz ww vv",   # ~ below 50% vs 3
        5: "totally different words here in this document now ok",
    }
    rows = [Row(doc_id=k, text=v) for k, v in texts.items()]

    def shingles(t):
        w = t.lower().split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    expected = {}
    for a, b in combinations(sorted(texts), 2):
        sa, sb = shingles(texts[a]), shingles(texts[b])
        i, u = len(sa & sb), len(sa | sb)
        if 100 * i >= 50 * u:
            expected[(a, b)] = (i, u)

    got = {
        (r["doc_a"], r["doc_b"]): (r["n_intersect"], r["n_union"])
        for r in setsim_join(spark.createDataFrame(rows)).collect()
    }
    assert got == expected
    assert (0, 1) in got and (3, 4) not in got


def test_typosquat_pairs_blocking_complete(spark):
    """Substitution, deletion, and insertion neighbors at dist 1 are all
    found (length blocking is complete for dist <= 1); dist-2 pairs are
    not; output matches a python-Levenshtein twin."""
    from weblog_pipeline.ops.graph import typosquat_pairs

    hosts = ["paypal.com", "paypa1.com", "payal.com", "paypall.com",
             "google.com", "goggle.com", "example.org"]
    rows = [Row(src_host=h, dst_host="example.org", n_links=1)
            for h in hosts]
    got = {
        (r["host_a"], r["host_b"]): r["dist"]
        for r in typosquat_pairs(spark.createDataFrame(rows)).collect()
    }

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1,
                                       prev + (ca != cb))
        return d[-1]

    from itertools import combinations
    exp = {
        (a, b): lev(a, b)
        for a, b in combinations(sorted(set(hosts)), 2)
        if lev(a, b) <= 1
    }
    assert got == exp
    assert ("paypa1.com", "paypal.com") in got      # substitution
    assert ("payal.com", "paypal.com") in got       # deletion
    assert ("paypal.com", "paypall.com") in got     # insertion
    assert ("payal.com", "paypall.com") not in got  # dist 2


def test_props_schema_census(spark):
    """Key census per event type with the integer-shape flag: bare JSON
    numbers (incl. negatives) count as int, strings and floats do not;
    NULL/invalid props rows drop."""
    from weblog_pipeline.aggregate import props_schema_census

    rows = [
        Row(event_id=0, event_type="a", props='{"k": 1, "s": "x"}'),
        Row(event_id=1, event_type="a", props='{"k": -7}'),
        Row(event_id=2, event_type="a", props='{"k": 1.5}'),
        Row(event_id=3, event_type="b", props='{"s": "9"}'),
        Row(event_id=4, event_type="b", props=None),
    ]
    got = {
        (r["event_type"], r["key"]): (r["n"], r["n_int"])
        for r in props_schema_census(spark.createDataFrame(rows)).collect()
    }
    assert got == {
        ("a", "k"): (3, 2),   # 1 and -7 int-shaped; 1.5 not
        ("a", "s"): (1, 0),
        ("b", "s"): (1, 1),   # "9" decodes to bare 9 in the string map
    }


def test_cusum_alerts_matches_textbook_recurrence(spark):
    """The closed form S_i = P_i - min(0, running_min(P)) must equal the
    sequential recurrence S_i = max(0, S_{i-1} + step_i) on a series
    with a slow persistent ramp (the case daily_anomalies misses), and
    the ramp must eventually alarm while the flat prefix never does."""
    import datetime

    from weblog_pipeline.aggregate import cusum_alerts

    # 10 flat days at 100, then 8 days elevated at 200 — the shift
    # persists and must out-run both the (shift-inflated) full-series
    # mean and the 25% slack before the chart alarms.
    counts = [100] * 10 + [200] * 8
    rows = [
        Row(event_type="t", ts=datetime.datetime(2024, 1, 1 + d, 12, 0, 0))
        for d, n in enumerate(counts)
        for _ in range(n)
    ]
    out = {
        r["day"]: (r["n_events"], r["cusum"], r["is_alarm"])
        for r in cusum_alerts(spark.createDataFrame(rows)).collect()
    }
    total = sum(counts)
    ndays = len(counts)
    slack = total // 4
    s = 0
    alarms = []
    for d, n in enumerate(counts):
        s = max(0, s + (ndays * n - total - slack))
        day = sorted(out)[d]
        got_n, got_cusum, got_alarm = out[day]
        assert got_n == n
        assert got_cusum == s, f"day {d}: closed form {got_cusum} != {s}"
        assert got_alarm == (s > total)
        alarms.append(got_alarm)
    assert not any(alarms[:10])          # flat prefix never alarms
    assert alarms[-1]                    # sustained ramp eventually does


def test_zone_maps_pruning_flags_and_false_positive(spark):
    """Chunk 0 holds the probe user (scan + match), chunk 1 brackets 42
    without containing it (the zone-map false positive: would_scan true,
    n_match 0), chunk 2 is clean (pruned). Day-range and value flags
    pin against the hand layout."""
    import datetime

    from weblog_pipeline.ops.corpus import zone_maps

    def ev(eid, user, day, value):
        return Row(
            event_id=eid,
            user_id=user,
            ts=datetime.datetime(2024, 1, 1 + day, 0, 0, 0),
            value=value,
        )

    rows = [
        # chunk 0 (ids 0-3): probe user 42 present; day 0; low values
        ev(0, 42, 0, 1.0), ev(1, 7, 0, 2.0),
        # chunk 1 (ids 4-7): users 10 and 90 bracket 42 but never hit it
        ev(4, 10, 2, 3.0), ev(5, 90, 3, 460.0),
        # chunk 2 (ids 8-11): users all below 42, days past the range
        ev(8, 5, 6, 4.0), ev(9, 6, 7, 5.0),
    ]
    out = {
        r["chunk_id"]: r.asDict()
        for r in zone_maps(
            spark.createDataFrame(rows), chunk_size=4
        ).collect()
    }
    assert set(out) == {0, 1, 2}
    c0, c1, c2 = out[0], out[1], out[2]
    assert c0["would_scan_user"] and c0["n_match_user"] == 1
    # the false positive: stats force a scan, zero rows match
    assert c1["would_scan_user"] and c1["n_match_user"] == 0
    assert not c2["would_scan_user"] and c2["n_match_user"] == 0
    # D0 = 0, so the probe day range is [2, 4]: only chunk 1 overlaps
    assert (c0["would_scan_day"], c1["would_scan_day"],
            c2["would_scan_day"]) == (False, True, False)
    assert (c0["n_match_day"], c1["n_match_day"], c2["n_match_day"]) == (
        0, 2, 0,
    )
    # value >= 450.00 only in chunk 1 (46000 cents)
    assert (c0["would_scan_val"], c1["would_scan_val"],
            c2["would_scan_val"]) == (False, True, False)
    assert c1["n_match_val"] == 1 and c1["max_cents"] == 46000


def test_zorder_bins_interleave_twin_and_locality(spark):
    """The in-plan Morton interleave must match a Python bit twin
    (bin assignment row-for-row), and the curve's locality guarantee
    must hold: a z bin of width 1024 fixes the top 3 bits of each
    8-bit dim, so every bin's u8 and d8 spans are <= 31."""
    import datetime

    from weblog_pipeline.ops.corpus import zorder_bins

    def interleave(u8, d8):
        zv = 0
        for b in range(8):
            zv |= ((u8 >> b) & 1) << (2 * b + 1)
            zv |= ((d8 >> b) & 1) << (2 * b)
        return zv

    rows, expect = [], {}
    for i in range(400):
        user = (i * 37) % 1000
        day = (i * 13) % 90
        rows.append(
            Row(
                event_id=i,
                user_id=user,
                ts=datetime.datetime(2024, 1, 1, 0, 0, 0)
                + datetime.timedelta(days=day),
            )
        )
        d8 = (19723 + day) % 256  # 2024-01-01 is epoch day 19723
        b = interleave(user % 256, d8) // 1024
        st = expect.setdefault(b, [0, 256, -1, 256, -1])
        st[0] += 1
        st[1], st[2] = min(st[1], user % 256), max(st[2], user % 256)
        st[3], st[4] = min(st[3], d8), max(st[4], d8)
    got = {
        r["bin_id"]: [
            r["n_rows"], r["min_u8"], r["max_u8"], r["min_d8"], r["max_d8"]
        ]
        for r in zorder_bins(spark.createDataFrame(rows)).collect()
    }
    assert got == expect
    for b, (_, mn_u, mx_u, mn_d, mx_d) in got.items():
        assert mx_u - mn_u <= 31 and mx_d - mn_d <= 31, b


def test_km_hazard_risk_table_with_censoring(spark):
    """Hand-checkable cohort: lifetimes {0,0,3,3,5,9} with the 9 and one
    3 censored (active within the gap of the corpus max day). n_at_risk
    must be the reverse-cumulative count, hazards floor-divided, and
    censored users never counted as churn."""
    import datetime

    from weblog_pipeline.aggregate import km_hazard

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def user(uid, first_day, last_day):
        return [
            Row(user_id=uid, event_id=uid * 10,
                ts=base + datetime.timedelta(days=first_day)),
            Row(user_id=uid, event_id=uid * 10 + 1,
                ts=base + datetime.timedelta(days=last_day)),
        ]

    # corpus max day = 30 (user 6); censor_gap=7 censors d_last >= 23
    rows = (
        user(1, 0, 0) + user(2, 5, 5)            # lifetime 0, churned
        + user(3, 2, 5) + user(4, 24, 27)        # lifetime 3: churn + cens
        + user(5, 10, 15)                         # lifetime 5, churned
        + user(6, 21, 30)                         # lifetime 9, censored
    )
    got = {
        r["lifetime"]: (
            r["n_at_risk"], r["n_churned"], r["n_censored"], r["hazard_bp"]
        )
        for r in km_hazard(spark.createDataFrame(rows)).collect()
    }
    assert got == {
        0: (6, 2, 0, 3333),   # 2*10000 DIV 6
        3: (4, 1, 1, 2500),
        5: (2, 1, 0, 5000),
        9: (1, 0, 1, 0),
    }


def test_rfm_segments_quintiles_tie_consistent(spark):
    """The cumulative-share quintile must match the Python twin
    q(v) = 1 + (cum(<=v)-1)*5 DIV n on every metric, ties must share a
    score (the anti-ntile property), recency must invert (most recent
    user scores r=5), and rfm_code must fuse the three digits."""
    import datetime

    from weblog_pipeline.aggregate import rfm_segments

    base = datetime.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    # 10 users: user u has u+1 events (frequency ladder), value 10*u+0.5
    # each, last activity day u (user 9 most recent relative to dmax=9).
    eid = 0
    for u in range(10):
        for j in range(u + 1):
            rows.append(
                Row(
                    event_id=eid,
                    user_id=u,
                    ts=base + datetime.timedelta(days=u if j == 0 else 0),
                    value=10.0 * u + 0.5,
                )
            )
            eid += 1
    got = {
        r["user_id"]: r.asDict()
        for r in rfm_segments(spark.createDataFrame(rows)).collect()
    }

    def q(vals, v):
        n, cum = len(vals), sum(1 for x in vals if x <= v)
        return 1 + ((cum - 1) * 5) // n

    recs = [got[u]["recency"] for u in range(10)]
    freqs = [got[u]["frequency"] for u in range(10)]
    mons = [got[u]["monetary_cents"] for u in range(10)]
    for u in range(10):
        g = got[u]
        assert g["r_score"] == 6 - q(recs, g["recency"])
        assert g["f_score"] == q(freqs, g["frequency"])
        assert g["m_score"] == q(mons, g["monetary_cents"])
        assert g["rfm_code"] == (
            g["r_score"] * 100 + g["f_score"] * 10 + g["m_score"]
        )
    # user 9: most recent (recency 0), most frequent, biggest spender
    assert (got[9]["r_score"], got[9]["f_score"], got[9]["m_score"]) == (
        5, 5, 5,
    )
    assert got[9]["monetary_cents"] == 10 * 9050
    # ties share scores: duplicate-metric users would collide — check the
    # map is a function of the value alone
    by_val = {}
    for u in range(10):
        by_val.setdefault(got[u]["frequency"], set()).add(got[u]["f_score"])
    assert all(len(s) == 1 for s in by_val.values())


def test_textrank_keywords_graph_and_twin(spark):
    """Graph construction rules (>=3-char alpha filter, adjacency over
    the FILTERED sequence, canonical undirected pairs, hapax edges
    dropped) plus an end-to-end integer-PageRank twin on a corpus where
    'spark' is the designed hub word."""
    from weblog_pipeline.ops import graph

    docs = [
        "spark shuffles data fast",          # spark-shuffles shuffles-data data-fast
        "spark shuffles data so well",       # 'so' filtered: data-well adjacency
        "a spark shuffles X1 data",          # 'a'/'X1' filtered -> spark-shuffles shuffles-data
        "lonely words here",                  # all hapax edges -> dropped
    ]
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
    out = graph.textrank_keywords(spark.createDataFrame(rows), k=10).collect()
    got = {r["word"]: (r["rank"], r["n_out"], r["rank_scaled"]) for r in out}

    # expected undirected co-occurrence counts (canonical pairs, >=2)
    ec = {("shuffles", "spark"): 3, ("data", "shuffles"): 3,
          ("data", "fast"): 1, ("data", "well"): 1,
          ("lonely", "words"): 1, ("here", "words"): 1}
    kept = {p: n for p, n in ec.items() if n >= graph.TEXTRANK_MIN_COOC}
    edges = [(a, b, n) for (a, b), n in kept.items()]
    edges += [(b, a, n) for (a, b), n in kept.items()]
    nodes = {a for a, _, _ in edges}
    assert set(got) == nodes  # hapax-only words never enter the graph

    scale, d, iters = graph.PR_SCALE, graph.PR_DAMPING_PCT, graph.PR_ITERS
    n_out = {}
    for s, _, n in edges:
        n_out[s] = n_out.get(s, 0) + n
    base = (100 - d) * scale // 100
    rank = {v: scale for v in nodes}
    for _ in range(iters):
        inc = {v: 0 for v in nodes}
        for s, t, n in edges:
            inc[t] += rank[s] * n * d // (n_out[s] * 100)
        rank = {v: base + inc[v] for v in nodes}
    order = sorted(nodes, key=lambda v: (-rank[v], v))
    for pos, v in enumerate(order, start=1):
        assert got[v] == (pos, n_out[v], rank[v]), v
    # shuffles bridges both heavy edges -> top keyword
    assert order[0] == "shuffles" and got["shuffles"][0] == 1


def test_shot_boundaries_detects_planted_cut(spark):
    """End-to-end on real containers: a clip with a planted scene cut
    flags EXACTLY its cut frame (dist ~127/byte there, 1/byte drift
    elsewhere — including across a 255->0 wrap, which the circular
    distance must score as 1, not 255)."""
    from weblog_pipeline.ops import multimodal as mm

    rows = [
        # media 1: 5 frames, cut at frame 3; seed 250 forces byte wraps
        Row(media_id=1,
            payload=mm.encode_avi(4, 2, 5, 250, codec="DIB ", scene_cut=3),
            media_type="video"),
        # media 2: no cut — pure drift, nothing may flag
        Row(media_id=2,
            payload=mm.encode_avi(4, 2, 4, 7, codec="DIB "),
            media_type="video"),
    ]
    frames = mm.sample_frames(
        spark.createDataFrame(rows), every_n=1, fake=False
    )
    got = {
        (r["media_id"], r["frame_idx"]): (r["dist"], r["is_cut"])
        for r in mm.shot_boundaries(frames).collect()
    }

    def byte(seed, f, j, cut=None):
        return (seed + f + j + (128 if cut is not None and f >= cut else 0)) % 256

    def circ(a, b):
        return min((a - b) % 256, (b - a) % 256)

    for f in range(1, 5):
        want = sum(
            circ(byte(250, f, j, 3), byte(250, f - 1, j, 3))
            for j in range(mm.FEATURE_DIM)
        )
        assert got[(1, f)] == (want, f == 3), f
    assert got[(1, 3)][0] == 127 * mm.FEATURE_DIM  # the cut frame
    for f in range(1, 4):
        assert got[(2, f)] == (mm.FEATURE_DIM, False)  # drift = 1/byte


def test_link_prediction_adamic_adar_twin(spark):
    """Adamic-Adar against an exact itertools twin on a hand graph:
    existing edges excluded, hub-capped neighbors excluded, per-
    neighbor term = 1e12 DIV floor(ln(deg)*1e6)."""
    import itertools
    import math

    from weblog_pipeline.ops import graph

    # star around h (deg 4) + chain edges; (a,b) share {h, c}
    edge_rows = [
        ("h", "a"), ("h", "b"), ("h", "c"), ("h", "d"),
        ("c", "a"), ("c", "b"),
        ("a", "d"),  # existing edge: (a, d) must NOT be predicted
    ]
    edges = spark.createDataFrame(
        [Row(src_host=s, dst_host=t, n_links=1) for s, t in edge_rows]
    )
    got = {
        (r["host_a"], r["host_b"]): (r["n_common"], r["aa_micro"])
        for r in graph.link_prediction(
            edges, deg_cap=64, min_common=1
        ).collect()
    }

    nbrs = {}
    for s, t in edge_rows:
        nbrs.setdefault(s, set()).add(t)
        nbrs.setdefault(t, set()).add(s)

    def term(w):
        return 10**12 // math.floor(
            math.log(float(len(nbrs[w]))) * 10**6
        )

    want = {}
    for u, v in itertools.combinations(sorted(nbrs), 2):
        if v in nbrs[u]:
            continue
        common = [w for w in nbrs[u] & nbrs[v] if 2 <= len(nbrs[w]) <= 64]
        if common:
            want[(u, v)] = (len(common), sum(term(w) for w in common))
    assert got == want
    # (a, b) is the strongest prediction: two common neighbors, one rare
    assert got[("a", "b")][0] == 2
    assert ("a", "d") not in got


def test_prf_expansion_rocchio_twin(spark):
    """Expansion terms against a Python twin on a designed corpus:
    feedback = BM25 top-r for the query; scores = floored-micro-nat
    idf * feedback tf; query terms excluded; rare terms outrank
    ubiquitous ones at equal tf."""
    import math

    from weblog_pipeline.ops.textstats import bm25_topk, prf_expansion

    docs = [
        "spark spark engine rare gem",    # tf=2 -> clear top doc
        "spark engine common word",
        "spark common word filler",
        "common word filler noise",       # no query term
        "noise filler pad pad",           # no query term
    ]
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
    sdf = spark.createDataFrame(rows)
    fb = {r["doc_id"] for r in bm25_topk(sdf, ["spark"], k=2).collect()}
    got = {
        r["token"]: (r["rank"], r["n_fb_docs"], r["total_tf"],
                     r["rocchio_score"])
        for r in prf_expansion(sdf, ["spark"], r=2, k=10).collect()
    }

    toks = {i: t.split() for i, t in enumerate(docs)}
    n_docs = len(docs)
    want = {}
    for tkn in {w for i in fb for w in toks[i]} - {"spark"}:
        tf = sum(toks[i].count(tkn) for i in fb)
        nfb = sum(1 for i in fb if tkn in toks[i])
        df = sum(1 for i in toks if tkn in toks[i])
        idf = math.floor(
            math.log((2 * n_docs + 2.0) / (2 * df + 1.0)) * 1000000.0
        )
        want[tkn] = (nfb, tf, idf * tf)
    order = sorted(want, key=lambda t: (-want[t][2], t))
    assert set(got) == set(want)
    for pos, tkn in enumerate(order, start=1):
        assert got[tkn] == (pos, *want[tkn]), tkn
    assert "spark" not in got
    # 'rare'/'gem' (df=1) outrank 'common' (df=3) despite engine tf=2
    assert got["rare"][0] < got["common"][0]


def test_kneser_ney_bigram_twin_and_continuation_property(spark):
    """KN probabilities against an exact Python twin, plus the
    signature KN property: a word frequent only inside ONE fixed phrase
    gets a LOW continuation probability even though its raw bigram is
    common ('francisco' follows only 'san')."""
    from weblog_pipeline.ops.textstats import (
        KN_DISCOUNT_X100,
        KN_SCALE,
        kneser_ney_bigram,
    )

    docs = (
        ["san francisco fog"] * 4
        + ["the fog rolls", "the tide rolls", "the fog lifts",
           "a fog bank", "a tide pool"]
    )
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
    got = {
        (r["w1"], r["w2"]): (r["c_bigram"], r["term1_ppm"],
                             r["pcont_ppm"], r["p_ppm"])
        for r in kneser_ney_bigram(
            spark.createDataFrame(rows), min_bigram=2
        ).collect()
    }

    bgs = {}
    for t in docs:
        w = t.split()
        for i in range(len(w) - 1):
            bgs[(w[i], w[i + 1])] = bgs.get((w[i], w[i + 1]), 0) + 1
    n_types = len(bgs)
    c_left = {}
    succ = {}
    prec = {}
    for (a, b), c in bgs.items():
        c_left[a] = c_left.get(a, 0) + c
        succ[a] = succ.get(a, 0) + 1
        prec[b] = prec.get(b, 0) + 1
    d, s = KN_DISCOUNT_X100, KN_SCALE
    want = {}
    for (a, b), c in bgs.items():
        if c < 2:
            continue
        t1 = max(100 * c - d, 0) * s // (100 * c_left[a])
        pc = prec[b] * s // n_types
        lam = d * succ[a] * s // (100 * c_left[a])
        want[(a, b)] = (c, t1, pc, t1 + lam * pc // s)
    assert got == want
    # continuation: 'fog' follows 3 distinct words, 'francisco' only 1
    assert got[("the", "fog")][2] > got[("san", "francisco")][2]


def test_matryoshka_recall_numpy_twin(spark):
    """Overlap counts against an independent numpy twin: same quantize
    rule, full brute-force top-k under both the 2-dim prefix and the
    full ranking, set intersection, floor-div bp."""
    import numpy as np

    from weblog_pipeline.ops.similarity import matryoshka_recall

    rng_vecs = [
        # 8 dims; ids 0.. — id 0 is the query (vec_id % 1 pattern not
        # used here: we pass the query set explicitly)
        [float((i * 7 + j * 13) % 11 - 5) / 7.0 for j in range(8)]
        for i in range(30)
    ]
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(rng_vecs)]
    )
    queries = spark.createDataFrame(
        [Row(query_id=0, query_vec=rng_vecs[0]),
         Row(query_id=7, query_vec=rng_vecs[7])]
    )
    got = {
        r["query_id"]: (r["n_overlap"], r["recall_bp"])
        for r in matryoshka_recall(
            emb, queries, k=3, prefix=2, quant=10**6
        ).collect()
    }

    q = np.floor(np.array(rng_vecs, dtype=np.float64) * 10**6).astype(
        np.int64
    )
    want = {}
    for qid in (0, 7):
        others = [i for i in range(30) if i != qid]
        s_full = {i: int(q[qid] @ q[i]) for i in others}
        s_pre = {i: int(q[qid][:2] @ q[i][:2]) for i in others}
        top = lambda s: set(sorted(others, key=lambda i: (-s[i], i))[:3])
        n = len(top(s_full) & top(s_pre))
        want[qid] = (n, n * 10000 // 3)
    assert got == want


def test_engagement_gini_matches_sorted_rank_identity(spark):
    """Histogram-block Gini must equal the sorted-rank identity computed
    the naive way (sort all users, sum i*x_i), including heavy ties;
    uniform cohort scores 0, whale-dominated cohort scores high."""
    import datetime

    from weblog_pipeline.aggregate import engagement_gini

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # type 'flat': 6 users x 4 events each -> gini 0
    counts = {"flat": [4] * 6,
              # type 'whale': one user owns most of the traffic, ties below
              "whale": [1, 1, 1, 2, 2, 50]}
    for etype, per_user in counts.items():
        for u, c in enumerate(per_user):
            for _ in range(c):
                rows.append(Row(event_id=eid, event_type=etype,
                                user_id=u, ts=base))
                eid += 1
    got = {
        r["event_type"]: (r["n_users"], r["total_events"], r["gini_bp"])
        for r in engagement_gini(spark.createDataFrame(rows)).collect()
    }
    for etype, per_user in counts.items():
        xs = sorted(per_user)
        n, t = len(xs), sum(xs)
        s = sum((i + 1) * x for i, x in enumerate(xs))
        want = (2 * s - (n + 1) * t) * 10000 // (n * t)
        assert got[etype] == (n, t, want), etype
    assert got["flat"][2] == 0
    assert got["whale"][2] > 5000


def test_query_matches_boolean_semantics(spark):
    """Percolator semantics pinned: must is conjunctive, min_should
    counts DISTINCT matched should terms (duplicates in the doc count
    once), empty must/should behave as true/0, non-matching docs are
    absent."""
    from weblog_pipeline.ops.textstats import query_matches

    docs = [
        (0, "join hash tables fast"),          # both musts
        (1, "hash only here"),                  # missing 'join'
        (2, "spark spark query query"),         # dup terms: 1 should hit
        (3, "spark index data layout"),         # 2 should hits
        (4, "nothing relevant at all"),
    ]
    qs = [
        ("m2", ("join", "hash"), (), 0),
        ("s1", ("spark",), ("query", "index", "data"), 2),
        ("any2", (), ("hash", "join", "query"), 2),
    ]
    got = {
        (r["query_id"], r["doc_id"]): r["n_should_hit"]
        for r in query_matches(
            spark.createDataFrame(
                [Row(doc_id=i, text=t) for i, t in docs]
            ),
            qs,
        ).collect()
    }
    # doc 2 for 'any2' has only 'query' (1 distinct hit) -> excluded;
    # doc 2 for 's1' has only 'query' -> 1 < 2 -> excluded
    assert got == {
        ("m2", 0): 0,          # empty should -> 0 hits, still matches
        ("s1", 3): 2,
        ("any2", 0): 2,        # hash + join
    }


def test_posting_compression_segmented_equals_global_gaps(spark):
    """Segmented gap accounting must equal the naive global per-term
    delta-gap varint sum — including postings that straddle segment
    boundaries and gaps wide enough to cross varint thresholds — and a
    dense list must compress ~8x while a sparse one approaches raw."""
    from weblog_pipeline.ops.textstats import posting_compression

    # 'dense' in docs 0..39 (gap 1); 'sparse' every 3000 ids (crosses
    # segments of 16 and the 128/16384 varint thresholds)
    rows = []
    for i in range(40):
        rows.append((i, "dense filler"))
    sparse_ids = [j * 3000 for j in range(20)]
    rows += [(i, "sparse filler") for i in sparse_ids]
    sdf = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows]
    )
    got = {
        r["token"]: (r["df"], r["bytes_varint"], r["bytes_raw"],
                     r["ratio_bp"])
        for r in posting_compression(sdf, min_df=16, seg=16).collect()
    }

    def vb(g):
        return 1 + (g >= 128) + (g >= 16384) + (g >= 2097152) + (
            g >= 268435456
        )

    def naive(ids):
        ids = sorted(set(ids))
        total = vb(ids[0] + 1) + sum(
            vb(b - a) for a, b in zip(ids, ids[1:])
        )
        return len(ids), total

    for tok, ids in (
        ("dense", list(range(40))),
        ("sparse", sparse_ids),
        ("filler", list(range(40)) + sparse_ids),
    ):
        df, b = naive(ids)
        assert got[tok] == (df, b, df * 8, b * 10000 // (df * 8)), tok
    assert got["dense"][3] <= 1563          # ~1 byte per 8 raw
    assert got["sparse"][3] >= 2400         # wide gaps cost ~2 bytes each


def test_user_entropy_and_reciprocity(spark):
    """user_entropy: single-action bot scores 0, uniform 4-type user
    scores floor-exact ln(4); reciprocity: hand graph with one mutual
    pair out of three directed edges."""
    import datetime
    import math

    from weblog_pipeline.aggregate import user_entropy
    from weblog_pipeline.ops.graph import reciprocity

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(8):
        rows.append(Row(user_id=1, event_type="click",
                        ts=base, event_id=i))
    for i, t in enumerate(["a", "b", "c", "d"] * 2):
        rows.append(Row(user_id=2, event_type=t, ts=base,
                        event_id=100 + i))
    got = {
        r["user_id"]: (r["n_events"], r["n_types"], r["entropy_micro"])
        for r in user_entropy(spark.createDataFrame(rows)).collect()
    }
    assert got[1] == (8, 1, math.floor(math.log(8.0) * 1e6)
                      - math.floor(math.log(8.0) * 8 * 1e6) // 8)
    # uniform over 4 types: H = ln(8) - (4*2*ln2)/8 terms
    s = 4 * math.floor(math.log(2.0) * 2 * 1e6)
    assert got[2] == (8, 4, math.floor(math.log(8.0) * 1e6) - s // 8)
    assert got[1][2] == 0 or got[1][2] == 1  # single type ~ 0 (floor slack)

    edges = spark.createDataFrame(
        [Row(src_host=s_, dst_host=t_, n_links=1)
         for s_, t_ in [("a", "b"), ("b", "a"), ("a", "c")]]
    )
    rec = reciprocity(edges).collect()[0]
    assert (rec["n_edges"], rec["n_recip"], rec["recip_bp"]) == (
        3, 2, 2 * 10000 // 3,
    )


def test_script_mix_census(spark):
    """Explicit-range script counting pinned on planted multi-script
    docs: per-script char counts, the mixed-script flag requires Latin
    AND a non-Latin script in the same doc, NULL text drops."""
    from weblog_pipeline.ops.textstats import script_mix

    rows = [
        Row(doc_id=0, source="s1", text="hello мир 123"),       # mixed
        Row(doc_id=1, source="s1", text="только кириллица"),    # pure cyr
        Row(doc_id=2, source="s1", text=None),
        Row(doc_id=3, source="s2", text="ascii only here 7"),
        Row(doc_id=4, source="s2", text="汉字 and ελληνικά"),   # mixed
    ]
    got = {
        r["source"]: r.asDict()
        for r in script_mix(spark.createDataFrame(rows)).collect()
    }
    s1, s2 = got["s1"], got["s2"]
    assert s1["n_docs"] == 2 and s2["n_docs"] == 2
    assert s1["n_latin"] == 5 and s1["n_digit"] == 3
    assert s1["n_cyrillic"] == len("мир") + len("толькокириллица")
    assert s1["n_mixed"] == 1
    assert s2["n_cjk"] == 2
    assert s2["n_greek"] == len("ελληνικά")
    assert s2["n_mixed"] == 1          # doc 4: latin 'and' + cjk/greek
    assert s2["n_latin"] == len("asciionlyhere") + 3


def test_bootstrap_ci_python_twin_and_coverage(spark):
    """Replicate means against an exact Python twin (same md5 ladder),
    the CI brackets the full-sample mean, and a tighter-spread cohort
    gets a narrower interval than a wild one."""
    import datetime
    import hashlib

    from weblog_pipeline.aggregate import (
        BOOTSTRAP_B,
        BOOTSTRAP_T,
        bootstrap_ci,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    vals = {"tight": [10.0 + (i % 3) for i in range(120)],
            "wild": [1.0 if i % 10 else 500.0 for i in range(120)]}
    for etype, vs in vals.items():
        for v in vs:
            rows.append(Row(event_id=eid, event_type=etype, value=v,
                            ts=base))
            eid += 1
    got = {
        r["event_type"]: r.asDict()
        for r in bootstrap_ci(spark.createDataFrame(rows)).collect()
    }

    def weight(eid_, b_):
        h = int(hashlib.md5(f"bs:{eid_}:{b_}".encode()).hexdigest()[:4], 16)
        t0, t1, t2 = BOOTSTRAP_T
        return 0 if h < t0 else 1 if h < t1 else 2 if h < t2 else 3

    ids = {"tight": range(0, 120), "wild": range(120, 240)}
    for etype, vs in vals.items():
        cents = [int(v * 100) for v in vs]
        means = []
        for b_ in range(BOOTSTRAP_B):
            ws = [weight(e, b_) for e in ids[etype]]
            num = sum(w * c for w, c in zip(ws, cents))
            means.append(num // max(sum(ws), 1))
        means.sort()
        g = got[etype]
        assert (g["ci_lo_c"], g["ci_hi_c"]) == (
            means[1], means[BOOTSTRAP_B - 2],
        ), etype
        assert g["mean_c"] == sum(cents) // len(cents)
        assert g["ci_lo_c"] <= g["mean_c"] <= g["ci_hi_c"]
    tight_w = got["tight"]["ci_hi_c"] - got["tight"]["ci_lo_c"]
    wild_w = got["wild"]["ci_hi_c"] - got["wild"]["ci_lo_c"]
    assert tight_w < wild_w


def test_media_colorstats_excludes_row_padding(spark):
    """Channel sums from the real decode against a Python twin on a
    width whose 3-byte rows need stride padding (w=5 -> 15 bytes padded
    to 16): the pad byte must NOT enter any channel statistic."""
    from weblog_pipeline.ops import multimodal as mm

    w, h, seed = 5, 3, 40
    payload = mm.encode_avi(w, h, 2, seed, codec="DIB ")
    stride = mm.bmp_stride(w, 24)
    assert stride > w * 3  # the test is vacuous without real padding
    got = mm.media_colorstats(
        spark.createDataFrame(
            [Row(media_id=1, payload=payload, media_type="video")]
        )
    ).collect()[0]

    sums, mins, maxs = [0, 0, 0], [256] * 3, [-1] * 3
    for y in range(h):
        for x in range(w):
            for c in range(3):
                v = (seed + y * stride + 3 * x + c) % 256
                sums[c] += v
                mins[c] = min(mins[c], v)
                maxs[c] = max(maxs[c], v)
    assert (got["width"], got["height"], got["n_px"]) == (w, h, w * h)
    assert (got["sum_b"], got["sum_g"], got["sum_r"]) == tuple(sums)
    assert (got["min_b"], got["max_b"]) == (mins[0], maxs[0])


def test_connected_components_hashmin_and_stability(spark):
    """Hand graph: a triangle (converges round 1, stable=1) plus an
    8-node chain whose far end is > CC_ITERS hops from the min label —
    labels equal min-within-iters-hops exactly, stable=0 only where the
    final round still moved the label."""
    from weblog_pipeline.ops import graph

    E = [
        ("x", "y", 1), ("z", "x", 2), ("y", "z", 1),   # triangle
        ("c2", "c1", 1), ("c2", "c3", 1), ("c4", "c3", 1),
        ("c4", "c5", 1), ("c5", "c6", 1), ("c7", "c6", 1),
        ("c7", "c8", 1),                                # 8-chain
        ("x", "x", 9),                                  # self-loop dropped
    ]
    edges = spark.createDataFrame(
        E, "src_host string, dst_host string, n_links long"
    )
    rows = {
        r["host"]: r
        for r in graph.connected_components(edges, iters=5).collect()
    }
    # label after round r of chain node c_i is c_{max(1, i-r)}
    for h in ("x", "y", "z"):
        assert rows[h]["comp"] == "x"
        assert rows[h]["comp_size"] == 3
        assert rows[h]["stable"] == 1
    for i in range(1, 9):
        want = f"c{max(1, i - 5)}"
        assert rows[f"c{i}"]["comp"] == want, f"c{i}"
    assert rows["c1"]["comp_size"] == 6          # c1..c6 share label c1
    assert rows["c7"]["comp_size"] == 1          # c2 label, only c7
    # round-4 label of c_i is c_{max(1, i-4)}: moved in round 5 for 6,7,8
    for i in range(1, 6):
        assert rows[f"c{i}"]["stable"] == 1, f"c{i}"
    for i in range(6, 9):
        assert rows[f"c{i}"]["stable"] == 0, f"c{i}"


def test_llr_collocations_twin_and_rare_pair_property(spark):
    """LLR scores against an exact Python twin (same xlx flooring),
    plus Dunning's selling point: a pair that ALWAYS co-occurs outranks
    an equally-frequent pair whose parts are everywhere."""
    import math

    from weblog_pipeline.ops.textstats import llr_collocations

    docs = (
        ["hong kong skyline view"] * 5            # exclusive pair
        + ["the data the model the data"] * 5     # promiscuous parts
        + ["data model", "model data", "the view"] * 2
    )
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
    got = {
        (r["w1"], r["w2"]): (r["c_bigram"], r["llr_micro"])
        for r in llr_collocations(
            spark.createDataFrame(rows), k=50, min_count=2
        ).collect()
    }

    bgs = {}
    for t in docs:
        w = t.lower().split()
        for i in range(len(w) - 1):
            bgs[(w[i], w[i + 1])] = bgs.get((w[i], w[i + 1]), 0) + 1
    n = sum(bgs.values())
    cl = {}
    cr = {}
    for (a, b), c in bgs.items():
        cl[a] = cl.get(a, 0) + c
        cr[b] = cr.get(b, 0) + c

    def xlx(c):
        return c * math.floor(math.log(c) * 1e6) if c > 0 else 0

    want = {}
    for (a, b), c in bgs.items():
        if c < 2:
            continue
        k11, r1, c1 = c, cl[a], cr[b]
        k12, k21 = r1 - c, c1 - c
        k22 = n - r1 - c1 + c
        want[(a, b)] = (
            c,
            2
            * (
                xlx(k11) + xlx(k12) + xlx(k21) + xlx(k22) + xlx(n)
                - xlx(r1) - xlx(n - r1) - xlx(c1) - xlx(n - c1)
            ),
        )
    assert got == want
    # 'hong kong' (always together) must outrank 'the data'
    assert got[("hong", "kong")][1] > got[("the", "data")][1]


def test_zipf_fit_python_twin_and_slope_sign(spark):
    """zipf_fit against an exact Python twin (same milli-nat floors and
    sign-split divisions); a 1/r-ish corpus fits a negative slope near
    -1000 milli."""
    import math

    from weblog_pipeline.ops.textstats import zipf_fit

    # term i (1..20) appears ~60/i times -> textbook Zipf head
    words = []
    for i in range(1, 21):
        words += [f"w{i:02d}"] * (60 // i)
    docs, chunk = [], 25
    for j in range(0, len(words), chunk):
        docs.append(" ".join(words[j:j + chunk]))
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
    got = zipf_fit(spark.createDataFrame(rows), k=16).collect()[0]

    cnt = {}
    for w in words:
        cnt[w] = cnt.get(w, 0) + 1
    head = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:16]
    xs = [math.floor(math.log(r + 1) * 1e3) for r in range(len(head))]
    ys = [math.floor(math.log(c) * 1e3) for _, c in head]
    n = len(head)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    num, den = n * sxy - sx * sy, n * sxx - sx * sx

    def ss(a, b):
        return -((-a) // b) if a < 0 else a // b

    slope = ss(num * 1000, den)
    intercept = ss(sy * 1000 - slope * sx, n * 1000)
    assert (got["n_terms"], got["c_top"]) == (n, 60)
    assert got["slope_milli"] == slope
    assert got["intercept_milli"] == intercept
    assert -1400 < got["slope_milli"] < -700  # Zipf-ish head


def test_trending_items_decay_twin_and_flag(spark):
    """Power-of-two decay weights against a hand twin: an item whose
    hits all land on the newest days trends; the same total spread over
    old days does not; days past the window carry zero weight."""
    import datetime
    import json

    from weblog_pipeline.aggregate import trending_items

    base = datetime.datetime(2024, 1, 1)

    def ev(i, item, day_off):
        return Row(event_id=i, ts=base + datetime.timedelta(days=day_off),
                   user_id=1, event_type="view", value=1.0,
                   props=json.dumps({"k": item}))

    rows = (
        # item 1: 3 hits on the newest day (day 20)
        [ev(i, 1, 20) for i in range(3)]
        # item 2: 3 hits 10 days ago -> in window, not recent
        + [ev(10 + i, 2, 10) for i in range(3)]
        # item 3: hits past the 16-day window only -> dropped entirely
        + [ev(20 + i, 3, 1) for i in range(3)]
        # item 4: old mass dominates recent dribble
        + [ev(30 + i, 4, 8) for i in range(8)] + [ev(40, 4, 20)]
    )
    got = {
        r["item"]: (r["n_events"], r["w_total"], r["w_recent"],
                    r["trending"])
        for r in trending_items(spark.createDataFrame(rows)).collect()
    }
    # newest day = 20; age = 20 - day; weight = 2^(15-age)
    assert got[1] == (3, 3 * 2 ** 15, 3 * 2 ** 15, 1)
    assert got[2] == (3, 3 * 2 ** 5, 0, 0)
    assert 3 not in got  # age 19 >= window 16
    # item 4: 8 * 2^3 (age 12) + 1 * 2^15 recent -> recent mass wins
    assert got[4] == (9, 8 * 2 ** 3 + 2 ** 15, 2 ** 15, 1)


def test_item_similarity_cosine_twin(spark):
    """Squared-cosine bp against a hand twin: a pair that always
    co-occurs scores 10000; a pair diluted by solo strata scores the
    exact integer ratio."""
    import datetime
    import json

    from weblog_pipeline.aggregate import item_similarity

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0

    def stratum(user, day_off, items):
        nonlocal eid
        for it in items:
            rows.append(
                Row(event_id=eid, ts=base + datetime.timedelta(days=day_off),
                    user_id=user, event_type="view", value=1.0,
                    props=json.dumps({"k": it})))
            eid += 1

    # items 1,2 co-visit in 5 strata (perfect cosine)
    for u in range(5):
        stratum(u, 0, [1, 2])
    # items 3,4 co-visit in 5 strata, but 3 also appears in 5 more
    # strata (with 5) -> n_3 = 10, n_4 = 5, sim = 25*1e4/(50) = 5000
    for u in range(5):
        stratum(10 + u, 0, [3, 4])
        stratum(20 + u, 0, [3, 5])
    got = {
        (r["item_a"], r["item_b"]): (r["n_covisits"], r["n_a"], r["n_b"],
                                     r["sim_sq_bp"], r["rank"])
        for r in item_similarity(
            spark.createDataFrame(rows), min_support=5
        ).collect()
    }
    assert got[(1, 2)][:4] == (5, 5, 5, 10000)
    assert got[(3, 4)][:4] == (5, 10, 5, 5000)
    assert got[(1, 2)][4] == 1  # perfect pair ranks first
    # (3,5) also support-5: n_3=10, n_5=5 -> 5000, ranks after (3,4)
    assert got[(3, 5)][:4] == (5, 10, 5, 5000)


def test_score_calibration_bins_and_rates(spark):
    """Calibration table against hand-built scores/verdicts: negative
    scores floor into the correct bin (floor, not truncation), rates
    are exact integer bp, and the join drops unscored docs."""
    from weblog_pipeline.ops.textstats import score_calibration

    scores = spark.createDataFrame(
        [Row(doc_id=1, score=-250, label="drop"),
         Row(doc_id=2, score=-10, label="drop"),
         Row(doc_id=3, score=10, label="keep"),
         Row(doc_id=4, score=199, label="keep"),
         Row(doc_id=5, score=200, label="keep")]
    )
    verdicts = spark.createDataFrame(
        [Row(doc_id=1, **{"pass": False}),
         Row(doc_id=2, **{"pass": True}),
         Row(doc_id=3, **{"pass": True}),
         Row(doc_id=4, **{"pass": False}),
         Row(doc_id=5, **{"pass": True}),
         Row(doc_id=9, **{"pass": True})]   # unscored -> dropped
    )
    got = {
        r["bin"]: (r["n_docs"], r["n_keep"], r["n_pass"],
                   r["pass_rate_bp"])
        for r in score_calibration(scores, verdicts).collect()
    }
    # floor(-250/200) = -2, floor(-10/200) = -1 (floor, NOT trunc-to-0)
    assert got == {
        -2: (1, 0, 0, 0),
        -1: (1, 0, 1, 10000),
        0: (2, 2, 1, 5000),
        1: (1, 1, 1, 10000),
    }


def test_phash_twin_and_contrast_invariance():
    """_phash_of against a brute-force double-loop DCT twin, plus the
    pHash selling point: exact contrast scaling (2x every pixel) leaves
    the hash unchanged while the DC coefficient doubles."""
    import numpy as np

    from weblog_pipeline.ops.multimodal import (
        AHASH_GRID,
        PHASH_LOWFREQ,
        _phash_of,
        phash_coeffs,
    )

    rng_lum = np.array(
        [[(3 + x + y) % 128 for x in range(19)] for y in range(11)],
        dtype=np.int64,
    )
    dc, ph = _phash_of(rng_lum)

    # brute-force twin: block means, integer DCT, lower-median bits
    g = AHASH_GRID
    sums = np.zeros((g, g), dtype=np.int64)
    cnts = np.zeros((g, g), dtype=np.int64)
    hgt, wid = rng_lum.shape
    for y in range(hgt):
        for x in range(wid):
            by, bx = y * g // hgt, x * g // wid
            sums[by, bx] += rng_lum[y, x]
            cnts[by, bx] += 1
    means = np.where(cnts > 0, sums // np.maximum(cnts, 1), 0)
    q = phash_coeffs()
    coef = {}
    for u in range(PHASH_LOWFREQ):
        for v in range(PHASH_LOWFREQ):
            coef[(u, v)] = sum(
                int(means[y, x]) * q[u][x] * q[v][y]
                for x in range(g) for y in range(g)
            )
    vals = sorted(c for k, c in coef.items() if k != (0, 0))
    med = vals[(len(vals) - 1) // 2]
    want = 0
    for (u, v), c in coef.items():
        if (u, v) != (0, 0) and c > med:
            want |= 1 << (u * PHASH_LOWFREQ + v)
    assert (dc, ph) == (coef[(0, 0)], format(want, "09X"))

    # contrast invariance needs exact block means: a 16x16 image whose
    # 2x2 blocks are constant, so floor-means scale exactly with the
    # pixels and every DCT coefficient (and the median cut) doubles
    vals = np.array(
        [[(7 * by + 3 * bx) % 101 for bx in range(8)] for by in range(8)],
        dtype=np.int64,
    )
    flat = np.kron(vals, np.ones((2, 2), dtype=np.int64))
    dc1, ph1 = _phash_of(flat)
    dc2, ph2 = _phash_of(flat * 2)
    assert ph2 == ph1 and dc2 == 2 * dc1


def test_disorder_audit_running_max_lateness(spark):
    """Lateness against a hand trace: the first event of a stratum is
    never late, in-order events score 0, and a reordered event's
    lateness is the exact microsecond gap to the stratum's running max
    (not to its immediate predecessor)."""
    import datetime

    from weblog_pipeline.aggregate import disorder_audit

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ev(i, user, sec, typ="view"):
        return Row(event_id=i, ts=base + datetime.timedelta(seconds=sec),
                   user_id=user, event_type=typ, value=1.0, props=None)

    rows = [
        ev(0, 1, 100),          # first -> 0
        ev(1, 1, 50),           # late by 50 s vs runmax 100
        ev(2, 1, 70),           # late by 30 s vs runmax 100 (NOT vs 50)
        ev(3, 1, 200),          # in order -> 0
        ev(4, 2, 10, "click"),  # other stratum, first -> 0
        ev(5, 2, 10, "click"),  # equal ts is NOT late (strict <)
    ]
    got = {
        r["event_type"]: (r["n_events"], r["n_late"], r["max_late_us"],
                          r["sum_late_us"])
        for r in disorder_audit(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )
        ).collect()
    }
    assert got["view"] == (4, 2, 50_000_000, 80_000_000)
    assert got["click"] == (2, 0, 0, 0)


def test_good_turing_count_of_counts(spark):
    """Count-of-counts against a hand corpus: singletons/doubletons
    tallied exactly, r* = (r+1) * N_{r+1} * 1e6 DIV N_r, rows without a
    successor count get 0 (never NULL), and the table adapts to the
    smallest counts present."""
    from weblog_pipeline.ops.textstats import good_turing

    # counts: a,b,c =1; d,e =2; f =3  -> N_1=3, N_2=2, N_3=1
    docs = ["a b c d f", "d e e f f"]
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
    got = {
        r["r"]: (r["n_types"], r["n_types_next"], r["r_star_ppm"])
        for r in good_turing(
            spark.createDataFrame(rows), max_r=2
        ).collect()
    }
    # max_r=2 keeps the two smallest counts present: r=1 and r=2
    assert got == {
        1: (3, 2, 2 * 2 * 1_000_000 // 3),
        2: (2, 1, 3 * 1 * 1_000_000 // 2),
    }


def test_benford_audit_digits_and_expectations(spark):
    """First digits against a hand trace: cents flooring decides the
    digit (0.95 -> 95c -> '9'), zero/negative amounts are excluded,
    shares are integer per-mille, and the quantized Benford constants
    are the log10 floors."""
    import datetime

    from weblog_pipeline.aggregate import benford_audit

    base = datetime.datetime(2024, 1, 1)

    def ev(i, val):
        return Row(event_id=i, ts=base, user_id=1, event_type="buy",
                   value=val, props=None)

    rows = [ev(0, 1.23),    # 123c -> 1
            ev(1, 19.0),    # 1900c -> 1
            ev(2, 0.95),    # 95c -> 9
            ev(3, 2.5),     # 250c -> 2
            ev(4, 0.0),     # 0c -> excluded
            ev(5, -3.0)]    # negative -> excluded
    got = {
        r["digit"]: (r["n_total"], r["n_obs"], r["obs_pm"], r["p_pm"],
                     r["dev_pm"])
        for r in benford_audit(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )
        ).collect()
    }
    assert got == {
        1: (4, 2, 500, 301, 199),
        2: (4, 1, 250, 176, 74),
        9: (4, 1, 250, 45, 205),
    }


def test_kmv_audit_twin_and_exact_below_k(spark):
    """KMV against a Python md5 twin: with fewer than k distinct users
    the sketch IS exact (est = n, err 0); with n >= k the estimate is
    (k-1) * 2^52 DIV h_k for the twin's kth-smallest hash."""
    import datetime
    import hashlib

    from weblog_pipeline.aggregate import kmv_audit

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for u in range(200):     # 'big': 200 distinct users, duplicated
        rows.append(Row(event_id=len(rows), ts=base, user_id=u,
                        event_type="big", value=1.0, props=None))
        rows.append(Row(event_id=len(rows), ts=base, user_id=u,
                        event_type="big", value=1.0, props=None))
    for u in range(10):      # 'small': below k -> exact
        rows.append(Row(event_id=len(rows), ts=base, user_id=u,
                        event_type="small", value=1.0, props=None))
    got = {
        r["event_type"]: (r["n_exact"], r["h_k"], r["est"], r["err_bp"])
        for r in kmv_audit(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            ),
            k=64,
        ).collect()
    }

    def h(u):
        return int(hashlib.md5(f"kmv:{u}".encode()).hexdigest()[:13], 16)

    hk = sorted(h(u) for u in range(200))[63]
    est = 63 * (1 << 52) // hk
    assert got["big"] == (200, hk, est,
                          abs(est - 200) * 10000 // 200)
    n_small, hk_small = 10, sorted(h(u) for u in range(10))[-1]
    assert got["small"] == (10, hk_small, 10, 0)


def test_cheapest_paths_minplus_twin(spark):
    """Min-plus distances against a hand graph: a 2-hop path through
    heavy (cheap) edges must beat the direct light (expensive) edge,
    bounded hops exclude far nodes, and seeds sit at 0."""
    from weblog_pipeline.ops.graph import CP_COST_SCALE, cheapest_paths

    def e(s, d, n):
        return Row(src_host=s, dst_host=d, n_links=n)

    # seed = 'a' (largest outlink mass). a->c direct costs 1e6//2;
    # a->b->c costs 1e6//(1+9) + 1e6//(1+9) = 200000 < 500000.
    edges = spark.createDataFrame([
        e("a", "b", 9), e("b", "c", 9), e("a", "c", 1),
        e("c", "d", 1),               # reachable at hop 3
        e("d", "e", 1), e("e", "f", 1),
        e("f", "g", 1),               # g needs 5 hops -> absent
    ])
    got = {r["host"]: r["dist_micro"]
           for r in cheapest_paths(edges, seeds_k=1, iters=4).collect()}
    w9, w1 = CP_COST_SCALE // 10, CP_COST_SCALE // 2
    assert got["a"] == 0
    assert got["b"] == w9
    assert got["c"] == 2 * w9          # relay beats the direct edge
    assert got["d"] == 2 * w9 + w1
    assert got["e"] == 2 * w9 + 2 * w1
    # f: the cheap relay route needs 5 hops — the 4-hop bound forces
    # the expensive direct-start route a->c->d->e->f
    assert got["f"] == 4 * w1
    assert "g" not in got              # beyond 4 hops


def test_conversion_latency_percentiles(spark):
    """Latency percentiles against a hand funnel: three attributed
    conversions at 30 s / 5 min / 90 min -> minute buckets 0, 5, 90;
    p50 = bucket 5, p95 = bucket 90; the unattributed conversion is
    excluded from the histogram."""
    import datetime

    from weblog_pipeline.aggregate import conversion_latency

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ev(i, user, sec, typ):
        return Row(event_id=i, ts=base + datetime.timedelta(seconds=sec),
                   user_id=user, event_type=typ, value=1.0, props=None)

    rows = [
        ev(0, 1, 0, "click"), ev(1, 1, 30, "purchase"),        # 30 s
        ev(2, 2, 0, "click"), ev(3, 2, 300, "purchase"),       # 5 min
        ev(4, 3, 0, "click"), ev(5, 3, 5400, "purchase"),      # 90 min
        ev(6, 4, 0, "purchase"),                               # no touch
    ]
    got = {
        (r["touch_type"], r["q"]): (r["bucket"], r["n_conv"])
        for r in conversion_latency(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )
        ).collect()
    }
    assert got == {
        ("click", 50): (5, 3),
        ("click", 95): (90, 3),
    }


def test_lexical_richness_and_apdex(spark):
    """TTR/hapax against a hand corpus, and Apdex against a hand
    latency trace (boundary values land on the satisfied/tolerating
    edges exactly)."""
    import datetime

    from weblog_pipeline.aggregate import apdex_score
    from weblog_pipeline.ops.textstats import lexical_richness

    docs = [Row(doc_id=0, source="s1", text="a a a b c"),
            Row(doc_id=1, source="s1", text="a d"),
            Row(doc_id=2, source="s2", text="x x x x")]
    got = {
        r["source"]: (r["n_tokens"], r["n_types"], r["n_hapax"],
                      r["ttr_bp"], r["hapax_bp"])
        for r in lexical_richness(spark.createDataFrame(docs)).collect()
    }
    # s1: tokens a*4 b c d = 7, types 4, hapax b,c,d = 3
    assert got["s1"] == (7, 4, 3, 4 * 10000 // 7, 3 * 10000 // 4)
    assert got["s2"] == (4, 1, 0, 2500, 0)

    base = datetime.datetime(2024, 1, 1)
    evs = [Row(event_id=i, ts=base, user_id=1, event_type="t",
               value=v, props=None)
           for i, v in enumerate([1.0, 10.0, 10.1, 40.0, 40.1, 100.0])]
    a = apdex_score(spark.createDataFrame(
        evs,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )).collect()[0]
    # satisfied: 1.0, 10.0; tolerating: 10.1, 40.0; frustrated: rest
    assert (a["n_events"], a["n_satisfied"], a["n_tolerating"],
            a["apdex_pm"]) == (6, 2, 2, (1000 * 2 + 500 * 2) // 6)


def test_merge_upsert_semantics(spark):
    """MERGE against a hand snapshot: update replaces the payload in
    place, delete removes the row, insert appends, untouched rows
    survive byte-identical."""
    from weblog_pipeline.ops.corpus import merge_upsert

    base = spark.createDataFrame(
        [Row(doc_id=1, text="one", lang="en", source="s", n_chars=3),
         Row(doc_id=2, text="two", lang="en", source="s", n_chars=3),
         Row(doc_id=3, text="three", lang="en", source="s", n_chars=5)]
    )
    changes = spark.createDataFrame(
        [Row(op="update", doc_id=2, text="TWO v2", lang="en",
             source="s", n_chars=6),
         Row(op="delete", doc_id=3, text="", lang="en", source="s",
             n_chars=0),
         Row(op="insert", doc_id=9, text="nine", lang="en", source="s",
             n_chars=4)]
    )
    got = {r["doc_id"]: r["text"]
           for r in merge_upsert(base, changes).collect()}
    assert got == {1: "one", 2: "TWO v2", 9: "nine"}


def test_landing_exit_sessions(spark):
    """Session edges against a hand trace: landing = earliest (ts,
    event_id), exit = latest, a tie on ts resolves by event_id, a
    single-event session bounces, and strata are per (user, day)."""
    import datetime

    from weblog_pipeline.aggregate import landing_exit

    base = datetime.datetime(2024, 1, 1, 8, 0, 0)

    def ev(i, user, sec, typ, day=0):
        return Row(event_id=i,
                   ts=base + datetime.timedelta(days=day, seconds=sec),
                   user_id=user, event_type=typ, value=1.0, props=None)

    rows = [
        # user 1 day 0: view -> click -> purchase
        ev(0, 1, 0, "view"), ev(1, 1, 10, "click"),
        ev(2, 1, 20, "purchase"),
        # user 1 day 1: single signup (bounce)
        ev(3, 1, 0, "signup", day=1),
        # user 2 day 0: ts tie — event_id decides landing AND exit
        ev(4, 2, 0, "click"), ev(5, 2, 0, "view"),
    ]
    got = {
        r["event_type"]: (r["n_landing"], r["n_exit"], r["n_bounce"])
        for r in landing_exit(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )
        ).collect()
    }
    assert got == {
        "view": (1, 1, 0),      # lands u1d0; exits u2d0 (id 5)
        "click": (1, 0, 0),     # lands u2d0 (id 4)
        "purchase": (0, 1, 0),  # exits u1d0
        "signup": (1, 1, 1),    # the bounce is both edges
    }


def test_token_burstiness_fano_twin(spark):
    """Fano factors against a hand corpus: a token concentrated in one
    doc scores far above one spread evenly at the same total count, and
    both match the exact integer identity."""
    from weblog_pipeline.ops.textstats import token_burstiness

    # 'bursty': 6 occurrences all in doc 0; 'even': one in each of 6
    docs = [Row(doc_id=0, text="bursty " * 6 + "even"),
            *[Row(doc_id=i, text="even filler") for i in range(1, 6)],
            *[Row(doc_id=i, text="pad") for i in range(6, 10)]]
    got = {
        r["token"]: (r["df"], r["s1"], r["fano_bp"])
        for r in token_burstiness(spark.createDataFrame(docs)).collect()
    }
    n = 10

    def fano(s1, s2):
        return (n * s2 - s1 * s1) * 10000 // (n * s1)

    assert got["bursty"] == (1, 6, fano(6, 36))
    assert got["even"] == (6, 6, fano(6, 6))
    assert got["bursty"][2] > got["even"][2]
    # Poisson-ish floor: the even token sits below 10000 (sub-Poisson)
    assert got["even"][2] < 10000


def test_source_skyline_dominance(spark):
    """Skyline against a hand layout: dominated interior points flag 0,
    the frontier staircase flags 1, equal points both survive, and a
    same-x lower-y point is dominated."""
    from weblog_pipeline.ops.corpus import source_skyline

    def docs(source, n, length):
        return [Row(doc_id=hash((source, i)) % 10**9, source=source,
                    text="x" * length, lang="en", n_chars=length)
                for i in range(n)]

    rows = (
        docs("a", 4, 10)    # frontier: most docs
        + docs("b", 2, 50)  # frontier: fewer docs, longer
        + docs("c", 2, 30)  # dominated by b (same x, lower y)
        + docs("d", 1, 50)  # dominated by b (fewer docs, same y)
        + docs("e", 1, 99)  # frontier: fewest docs, longest
    )
    got = {
        r["source"]: (r["n_docs"], r["avg_chars"], r["on_frontier"])
        for r in source_skyline(spark.createDataFrame(rows)).collect()
    }
    assert got["a"] == (4, 10, 1)
    assert got["b"] == (2, 50, 1)
    assert got["c"] == (2, 30, 0)
    assert got["d"] == (1, 50, 0)
    assert got["e"] == (1, 99, 1)


def test_data_quality_checks_violations(spark):
    """Every check against a hand table with planted violations: a
    duplicate PK, a negative value, a 1999 timestamp, an orphan user,
    valid-JSON-but-not-object props ('5', '[1]') counted invalid, and
    a proper object passing."""
    import datetime

    from weblog_pipeline.aggregate import data_quality_checks

    base = datetime.datetime(2024, 1, 1)

    def ev(i, user=1, val=1.0, ts=None, props=None):
        return Row(event_id=i, ts=ts or base, user_id=user,
                   event_type="t", value=val, props=props)

    rows = [
        ev(1, props='{"k": 1}'),
        ev(1),                                   # dup PK
        ev(2, val=-5.0),                         # negative
        ev(3, ts=datetime.datetime(1999, 1, 1)),  # out of range
        ev(4, user=999),                         # orphan FK
        ev(5, props="5"),                        # valid JSON, not object
        ev(6, props="[1]"),                      # array, not object
        ev(7, props="{broken"),                  # invalid JSON
    ]
    cust = spark.createDataFrame(
        [Row(c_custkey=1, c_name="a", c_nationkey=0, c_acctbal=0.0,
             c_mktsegment="BUILDING")]
    )
    got = {
        r["check_name"]: (r["n_checked"], r["n_violations"], r["passed"])
        for r in data_quality_checks(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            ),
            cust,
        ).collect()
    }
    assert got["pk_unique_event_id"] == (8, 1, 0)
    assert got["value_non_negative"] == (8, 1, 0)
    assert got["ts_in_sane_range"] == (8, 1, 0)
    assert got["fk_user_in_customer"] == (8, 1, 0)
    assert got["props_valid_json_object"] == (4, 3, 0)


def test_table_profile_canonical_columns(spark):
    """Profile against a hand table: nulls counted, exact distincts,
    canonical-string min/max (cents for value, epoch_us for ts), and
    the modal value deterministic under a frequency tie (largest
    canonical value wins)."""
    import datetime

    from weblog_pipeline.aggregate import table_profile

    t0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)

    def ev(i, user, typ, val, props):
        return Row(event_id=i, ts=t0, user_id=user, event_type=typ,
                   value=val, props=props)

    rows = [
        ev(1, 1, "a", 1.0, None),
        ev(2, 1, "a", 2.5, '{"k": 1}'),
        ev(3, 2, "b", 2.5, None),
    ]
    got = {
        r["col_name"]: (r["n_null"], r["n_distinct"], r["min_v"],
                        r["max_v"], r["top_v"], r["top_n"])
        for r in table_profile(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )
        ).collect()
    }
    assert got["event_id"] == (0, 3, "1", "3", "3", 1)  # tie -> max id
    assert got["user_id"] == (0, 2, "1", "2", "1", 2)
    # event_type tie a=2 b=1 -> 'a' wins on frequency
    assert got["event_type"] == (0, 2, "a", "b", "a", 2)
    assert got["value_cents"] == (0, 2, "100", "250", "250", 2)
    assert got["props"] == (2, 1, '{"k": 1}', '{"k": 1}', '{"k": 1}', 1)


def test_snapshot_diff_recovers_merge_changes(spark):
    """Applying merge_upsert's change set and diffing the snapshots
    must recover exactly the change set: inserts/deletes/updates per
    source, with an unchanged-but-rewritten-identically row counted as
    NO change (hash equality, not row identity)."""
    from weblog_pipeline.ops.corpus import merge_upsert, snapshot_diff

    base = spark.createDataFrame(
        [Row(doc_id=1, text="one", lang="en", source="s1", n_chars=3),
         Row(doc_id=2, text="two", lang="en", source="s1", n_chars=3),
         Row(doc_id=3, text="three", lang="en", source="s2", n_chars=5),
         Row(doc_id=4, text="four", lang="en", source="s2", n_chars=4)]
    )
    changes = spark.createDataFrame(
        [Row(op="update", doc_id=2, text="two v2", lang="en",
             source="s1", n_chars=6),
         Row(op="update", doc_id=4, text="four", lang="en",
             source="s2", n_chars=4),       # no-op rewrite: same text
         Row(op="delete", doc_id=3, text="", lang="en", source="s2",
             n_chars=0),
         Row(op="insert", doc_id=9, text="nine", lang="en",
             source="s3", n_chars=4)]
    )
    new = merge_upsert(base, changes)
    got = {
        r["source"]: (r["n_inserts"], r["n_deletes"], r["n_updates"])
        for r in snapshot_diff(base, new).collect()
    }
    # s1: one real update; s2: one delete (the identical rewrite of 4
    # is NOT an update); s3: one insert; untouched sources absent
    assert got == {"s1": (0, 0, 1), "s2": (0, 1, 0), "s3": (1, 0, 0)}


def test_activity_histogram_power_curve(spark):
    """Histogram against a hand cohort: a 1-day casual, two 2-day
    users, and a 3-day whale whose bucket carries most of the volume;
    repeat events on the same day do not inflate days_active."""
    import datetime

    from weblog_pipeline.aggregate import activity_histogram

    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0

    def hit(user, day, n=1):
        nonlocal eid
        for _ in range(n):
            rows.append(Row(event_id=eid,
                            ts=base + datetime.timedelta(days=day),
                            user_id=user, event_type="t", value=1.0,
                            props=None))
            eid += 1

    hit(1, 0, 2)                 # 1 day, 2 events (repeat same day)
    hit(2, 0); hit(2, 1)         # 2 days
    hit(3, 1); hit(3, 2)         # 2 days
    hit(4, 0, 5); hit(4, 1); hit(4, 2)   # 3 days, 7 events
    got = {
        r["days_active"]: (r["n_users"], r["n_events"],
                           r["events_share_bp"])
        for r in activity_histogram(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )
        ).collect()
    }
    tot = 13
    assert got == {
        1: (1, 2, 2 * 10000 // tot),
        2: (2, 4, 4 * 10000 // tot),
        3: (1, 7, 7 * 10000 // tot),
    }


def test_schema_drift_rates_and_flags(spark):
    """Drift against a hand stream: a stable key sits near zero
    deviation, a baseline-only key flags vanished, a current-only key
    flags new, and rates are per-mille of each side's props-bearing
    events."""
    import datetime
    import json

    from weblog_pipeline.aggregate import schema_drift

    base = datetime.datetime(2024, 1, 1)  # day parity of 2024-01-01
    d0 = int((base - datetime.datetime(1970, 1, 1)).days)
    even_off = 0 if d0 % 2 == 0 else 1     # an even-parity day offset
    rows = []

    def ev(i, day_off, props):
        rows.append(Row(event_id=i,
                        ts=base + datetime.timedelta(days=day_off),
                        user_id=1, event_type="t", value=1.0,
                        props=json.dumps(props) if props else None))

    # baseline (even parity): 4 props events - k always, old in 2
    for i in range(4):
        ev(i, even_off, {"k": 1, **({"old": 1} if i < 2 else {})})
    # current (odd parity): 5 props events - k always, fresh in 1
    for i in range(4, 9):
        ev(i, even_off + 1, {"k": 1, **({"fresh": 1} if i == 4 else {})})
    got = {
        r["key"]: (r["n_base"], r["n_cur"], r["base_pm"], r["cur_pm"],
                   r["is_new"], r["vanished"])
        for r in schema_drift(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )
        ).collect()
    }
    assert got["k"] == (4, 5, 1000, 1000, 0, 0)
    assert got["old"] == (2, 0, 500, 0, 0, 1)
    assert got["fresh"] == (0, 1, 0, 200, 1, 0)


def test_bigram_holdout_accuracy_twin(spark):
    """Holdout accuracy against a hand corpus: the argmax predictor
    trains on even docs only, ties break to the larger w2, unseen test
    contexts count against coverage but not accuracy."""
    from weblog_pipeline.ops.textstats import bigram_holdout

    docs = [
        # train (even ids): 'a b' twice, 'a c' once -> pred(a) = b;
        # 'x y' and 'x z' once each -> tie -> pred(x) = z (larger)
        Row(doc_id=0, text="a b a b a c"),
        Row(doc_id=2, text="x y"),
        Row(doc_id=4, text="x z"),
        # test (odd ids): pairs a->b (hit), a->c (miss), x->z (hit via
        # tie-break), q->r (uncovered context)
        Row(doc_id=1, text="a b"),
        Row(doc_id=3, text="a c x z"),   # pairs: a-c, c-x, x-z
        Row(doc_id=5, text="q r"),
    ]
    got = bigram_holdout(spark.createDataFrame(docs)).collect()[0]
    # test pairs: (a,b) hit, (a,c) miss, (c,x) uncovered, (x,z) hit,
    # (q,r) uncovered -> n=5, covered=3, hits=2
    assert (got["n_pairs"], got["n_covered"], got["n_hits"]) == (5, 3, 2)
    assert got["coverage_bp"] == 3 * 10000 // 5
    assert got["acc_bp"] == 2 * 10000 // 3


def test_audio_loudness_frames_and_peak(spark):
    """Loudness against a hand-built PCM WAV: frame mean-squares are
    exact integers, the earliest loudest frame wins a tie, and the
    short tail frame divides by its own count."""
    import struct as _struct

    from weblog_pipeline.ops.multimodal import audio_loudness

    # 8-bit PCM WAV: 40 samples - frame 0 quiet (64), frame 1 loud
    # (200), 8-sample tail frame at 200 as well (ties frame 1's ms ->
    # frame 1 wins as the earliest)
    samples = bytes([64] * 32 + [200] * 32 + [200] * 8)
    hdr = (b"RIFF" + _struct.pack("<I", 36 + len(samples)) + b"WAVE"
           + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000,
                                    1, 8)
           + b"data" + _struct.pack("<I", len(samples)))
    wav = hdr + samples
    media = spark.createDataFrame(
        [Row(media_id=1, payload=bytearray(wav))],
        "media_id long, payload binary",
    )
    r = audio_loudness(media).collect()[0]
    # decode_wav keeps 8-bit PCM as raw unsigned bytes (the same
    # convention the synthetic oracle replays)
    q, l = 64 ** 2, 200 ** 2
    assert (r["n_samples"], r["n_frames"]) == (72, 3)
    assert r["ssq_total"] == 32 * q + 40 * l
    assert (r["peak_frame"], r["peak_ms"]) == (1, l)


def test_markov_stationary_python_twin(spark):
    """The 8-round integer iteration against an exact Python twin on a
    hand chain (including the keeps-mass self-loop convention for a
    state that never appears as a from-state)."""
    import datetime

    from weblog_pipeline.aggregate import (
        event_transitions,
        markov_stationary,
    )

    base = datetime.datetime(2024, 1, 1)
    seq = ["a", "b"] * 8 + ["a", "c"] * 2  # a->b 0.8-ish, a->c, b->a...
    rows = [Row(event_id=i, ts=base + datetime.timedelta(seconds=i),
                user_id=1, event_type=t, value=1.0, props=None)
            for i, t in enumerate(seq)]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    m = {(r["from_type"], r["to_type"]): r["p_bp"]
         for r in event_transitions(df).collect()}
    states = sorted({s for k in m for s in k})
    v = {s: 10000 // len(states) for s in states}
    froms = {k[0] for k in m}
    for _ in range(8):
        nxt = {s: 0 for s in states}
        for (f, t), p in m.items():
            nxt[t] += v[f] * p // 10000
        for s in states:
            if s not in froms:
                nxt[s] += v[s]
        tot = sum(nxt.values())
        v = {s: nxt[s] * 10000 // tot for s in states}
    got = {r["event_type"]: r["p_bp"]
           for r in markov_stationary(df).collect()}
    assert got == v


def test_dedup_savings_keeps_longest(spark):
    """Savings against planted exact twins: a 3-doc identical cluster
    saves two copies' bytes, the keep rule keeps the LONGEST member of
    a near-dup cluster, and singletons never appear."""
    from weblog_pipeline.ops.dedup import dedup_savings

    long_a = "alpha beta gamma delta " * 40
    rows = [
        # exact triplet (identical text -> one cluster of 3)
        Row(doc_id=1, text=long_a, lang="en", source="s", n_chars=1),
        Row(doc_id=2, text=long_a, lang="en", source="s", n_chars=1),
        Row(doc_id=3, text=long_a, lang="en", source="s", n_chars=1),
        # unique doc -> no cluster row
        Row(doc_id=9, text="totally different content here",
            lang="en", source="s", n_chars=1),
    ]
    got = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"],
                            r["total_bytes"], r["saved_bytes"])
        for r in dedup_savings(spark.createDataFrame(rows)).collect()
    }
    b = len(long_a)
    assert got == {3: (1, 3, 3 * b, 2 * b)}


def test_burst_census_exact_window(spark):
    """Peak bursts against a hand trace: a 3-event burst inside 60 s
    counts all three, an event exactly 60 s after the first does NOT
    extend the window ((t-60s, t] frame), and a steady user peaks at
    1."""
    import datetime

    from weblog_pipeline.aggregate import burst_census

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ev(i, user, sec):
        return Row(event_id=i, ts=base + datetime.timedelta(seconds=sec),
                   user_id=user, event_type="t", value=1.0, props=None)

    rows = [
        # user 1: events at 0, 30, 59.999999 -> burst 3; at 60.0 the
        # first event falls out -> burst stays 3
        ev(0, 1, 0), ev(1, 1, 30), ev(2, 1, 59.999999), ev(3, 1, 60.0),
        # user 2: hourly -> peak 1
        ev(4, 2, 0), ev(5, 2, 3600),
    ]
    got = {
        r["peak_burst"]: r["n_users"]
        for r in burst_census(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )
        ).collect()
    }
    assert got == {3: 1, 1: 1}


def test_prefix_completions_top_and_dominance(spark):
    """Completions against a hand vocabulary: the top completion wins
    by count, ties break to the larger token, dominance is the exact
    integer share, short tokens never enter."""
    from weblog_pipeline.ops.textstats import prefix_completions

    text = " ".join(
        ["spark"] * 6 + ["sparse"] * 3 + ["spare"] * 3 + ["sp"] * 9
    )
    got = {
        r["prefix"]: (r["top_token"], r["top_n"], r["n_prefix_tokens"],
                      r["dominance_bp"])
        for r in prefix_completions(
            spark.createDataFrame([Row(doc_id=0, text=text)]),
            min_count=5,
        ).collect()
    }
    # 'sp' (len 2) excluded; spa-prefix total 12, top 'spark' x6
    assert got == {"spa": ("spark", 6, 12, 5000)}

    # tie: two tokens x3 under 'tri' -> larger token wins
    text2 = " ".join(["tried"] * 3 + ["tries"] * 3)
    got2 = prefix_completions(
        spark.createDataFrame([Row(doc_id=0, text=text2)]), min_count=5
    ).collect()[0]
    assert (got2["prefix"], got2["top_token"]) == ("tri", "tries")


def test_stump_finder_max_ig_split(spark):
    """The stump against a hand-separable set: short docs fail, long
    docs pass, and the chosen split lands exactly on the boundary
    bucket; score equals the Python xlx twin."""
    import math

    from weblog_pipeline.ops.textstats import stump_finder

    # value < 128 -> label False (buckets 0-1); >= 192 -> True
    rows = (
        [Row(doc_id=i, value=50 + i, label=False) for i in range(10)]
        + [Row(doc_id=100 + i, value=200 + i, label=True)
           for i in range(6)]
    )
    got = stump_finder(
        spark.createDataFrame(rows), bucket=64
    ).collect()[0]
    # perfect split: left = the 10 negatives, right = the 6 positives
    assert (got["n_left"], got["n_left_pos"],
            got["n_right"], got["n_right_pos"]) == (10, 0, 6, 6)

    def xlx(c):
        return c * math.floor(math.log(c) * 1e6) if c > 0 else 0

    want = (xlx(0) + xlx(10) - xlx(10)) + (xlx(6) + xlx(0) - xlx(6))
    assert got["score_micro"] == want == 0  # pure sides -> entropy 0
    # boundary: negatives end in bucket 0 (50..59 < 64); split at 1
    assert got["split_bucket"] == 1


def test_nb_lang_holdout_learns_separable_langs(spark):
    """NB on a hand-separable corpus: distinct vocabularies per lang
    train on even ids and classify the odd half perfectly; a test doc
    of only out-of-vocab tokens is unscored (coverage, not accuracy)."""
    from weblog_pipeline.ops.textstats import nb_lang_holdout

    rows = []
    for i in range(8):          # even+odd mix; en says 'hello world'
        rows.append(Row(doc_id=i, lang="en" if i % 4 < 2 else "fr",
                        text=("hello world greetings" if i % 4 < 2
                              else "bonjour le monde"),
                        source="s", n_chars=1))
    rows.append(Row(doc_id=9, lang="en", text="zzz qqq xxx",
                    source="s", n_chars=1))   # odd, OOV-only
    got = nb_lang_holdout(spark.createDataFrame(rows)).collect()[0]
    # evens 0,2,4,6 train (2 en + 2 fr); odds 1,3,5,7,9 test; 9 is
    # unscored (all tokens OOV)
    assert (got["n_train"], got["n_test"]) == (4, 5)
    assert (got["n_scored"], got["n_hits"], got["acc_bp"]) == (
        4, 4, 10000,
    )


def test_ngram_novelty_halves(spark):
    """Novelty against a hand corpus: shared unigrams but novel
    compositions — unigram novelty low, trigram novelty high, counted
    over occurrences (not types)."""
    from weblog_pipeline.ops.textstats import ngram_novelty

    rows = [
        Row(doc_id=0, text="the cat sat on the mat"),        # train
        Row(doc_id=2, text="a dog ran in a park"),           # train
        Row(doc_id=1, text="the dog sat in the park"),       # test
        Row(doc_id=3, text="zebra yaks"),                    # test OOV
    ]
    got = {
        r["n"]: (r["n_test_grams"], r["n_unseen"], r["novelty_bp"])
        for r in ngram_novelty(spark.createDataFrame(rows)).collect()
    }
    # unigrams test: the,dog,sat,in,the,park,zebra,yaks = 8 occs;
    # unseen types: zebra,yaks -> 2
    assert got[1] == (8, 2, 2 * 10000 // 8)
    # bigrams test: 5 (doc1) + 1 (doc3) = 6; train bigrams:
    # {the cat, cat sat, sat on, on the, the mat, a dog, dog ran,
    #  ran in, in a, a park}; test bigrams: the dog, dog sat, sat in,
    #  in the, the park, zebra yaks -> all 6 unseen
    assert got[2] == (6, 6, 10000)
    # trigrams test: 4 + 0 = 4, all unseen
    assert got[3] == (4, 4, 10000)


def test_hourly_profile_diurnal_flag(spark):
    """Hourly profile against a hand trace: a sleepless scheduler key
    stays flat (chi2 0, not diurnal), a bursty key concentrated in one
    hour flags, and absent hours materialize with zero counts."""
    import datetime

    from weblog_pipeline.aggregate import hourly_profile

    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0

    def hit(typ, hour, n=1):
        nonlocal eid
        for _ in range(n):
            rows.append(Row(event_id=eid,
                            ts=base + datetime.timedelta(hours=hour),
                            user_id=1, event_type=typ, value=1.0,
                            props=None))
            eid += 1

    for h in range(24):
        hit("cron", h)          # perfectly flat
    hit("burst", 3, 48)         # everything at 03:00
    got = {
        (r["event_type"], r["hour"]): (r["n_events"], r["chi2"],
                                       r["is_diurnal"])
        for r in hourly_profile(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )
        ).collect()
    }
    assert len(got) == 48  # 24 rows per key, absent hours materialized
    assert got[("cron", 0)] == (1, 0, False)
    # burst: hour 3 term = (24*48-48)^2/(24*48) = 48*23^2/24 ... chi2
    n, tot = 48, 48
    t3 = (24 * n - tot) ** 2 // (24 * tot)
    t0 = (0 - tot) ** 2 // (24 * tot)
    chi = t3 + 23 * t0
    assert got[("burst", 3)] == (48, chi, True)
    assert got[("burst", 7)][0] == 0


def test_deseasonalized_anomalies_loo_baseline(spark):
    """Weekday-adjusted flags against a hand series: a spike on a
    normally-quiet weekday flags high under the LEAVE-ONE-OUT baseline
    (its own count never inflates its expectation), a steady weekday
    stays quiet, and a weekday observed only once abstains."""
    import datetime

    from weblog_pipeline.aggregate import deseasonalized_anomalies

    # 2024-01-01 is a Monday -> weekday index (day+3)%7 with epoch-day
    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0

    def day_events(day_off, n):
        nonlocal eid
        for _ in range(n):
            rows.append(Row(event_id=eid,
                            ts=base + datetime.timedelta(days=day_off),
                            user_id=1, event_type="t", value=1.0,
                            props=None))
            eid += 1

    # Mondays (offsets 0, 7, 14): 10, 10, 40 -> the 40 flags high
    day_events(0, 10); day_events(7, 10); day_events(14, 40)
    # Tuesday observed once (offset 1): abstains
    day_events(1, 5)
    got = {
        r["day"] - int((base - datetime.datetime(1970, 1, 1)).days):
            (r["n_events"], r["base_days"], r["base_sum"],
             r["is_high"], r["is_low"])
        for r in deseasonalized_anomalies(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )
        ).collect()
    }
    assert got[14] == (40, 2, 20, 1, 0)   # 2*40*2 > 3*20
    assert got[0] == (10, 2, 50, 0, 1)    # 2*10*2 < 50 -> low vs spike
    assert got[7] == (10, 2, 50, 0, 1)
    assert got[1] == (5, 0, 0, 0, 0)      # lone weekday abstains


def test_serp_diversity_counts_modal_source(spark):
    """Diversity over a rigged corpus where one source owns most
    matches: shares are exact and the modal source wins."""
    from weblog_pipeline.ops.textstats import serp_diversity

    rows = (
        [Row(doc_id=i, source="big", lang="en", n_chars=1,
             text="hash join spark " * 3) for i in range(6)]
        + [Row(doc_id=100 + i, source=f"s{i}", lang="en", n_chars=1,
               text="hash join spark") for i in range(4)]
        + [Row(doc_id=900, source="none", lang="en", n_chars=1,
               text="irrelevant words only")]
    )
    got = serp_diversity(
        spark.createDataFrame(rows), ("hash", "join", "spark"), k=10
    ).collect()[0]
    assert got["n_results"] == 10
    assert got["n_sources"] == 5
    assert (got["top_source"], got["top_n"]) == ("big", 6)
    assert got["top_share_bp"] == 6000


def test_skipgram_counts_window_twin(spark):
    """Skip-gram pairs against an itertools twin: every unordered pair
    within distance 3 counted once per co-occurrence, left/right
    contexts merged, adjacent and distance-3 both present."""
    import itertools

    from weblog_pipeline.ops.textstats import skipgram_counts

    docs = ["a b c d e", "b a"]
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
    got = {
        (r["w_a"], r["w_b"]): r["n_cooc"]
        for r in skipgram_counts(
            spark.createDataFrame(rows), window=3, min_count=1
        ).collect()
    }
    want = {}
    for t in docs:
        w = t.split()
        for i, j in itertools.combinations(range(len(w)), 2):
            if j - i <= 3:
                key = tuple(sorted((w[i], w[j])))
                want[key] = want.get(key, 0) + 1
    assert got == want
    assert got[("a", "b")] == 2       # both docs; directions merged
    assert got[("a", "d")] == 1       # distance 3
    assert ("a", "e") not in got      # distance 4 excluded


def test_streak_census_bitmap_fold(spark):
    """Streaks against hand bitmaps: an unbroken 5-day run, a broken
    3+2 pattern scoring 3, repeat events on one day not inflating, and
    days beyond the 62-day window aging out."""
    import datetime

    from weblog_pipeline.aggregate import streak_census

    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0

    def hit(user, day, n=1):
        nonlocal eid
        for _ in range(n):
            rows.append(Row(event_id=eid,
                            ts=base + datetime.timedelta(days=day),
                            user_id=user, event_type="t", value=1.0,
                            props=None))
            eid += 1

    for d in range(5):
        hit(1, 60 + d)            # 5-day run ending at dmax
    for d in (60, 61, 62, 64, 65):
        hit(2, d, 2)              # 3-run then 2-run -> streak 3
    hit(3, 0)                     # 65 days before dmax -> aged out
    hit(3, 64)                    # a lone in-window day -> streak 1
    got = {
        r["streak"]: r["n_users"]
        for r in streak_census(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )
        ).collect()
    }
    assert got == {5: 1, 3: 1, 1: 1}


def test_attribution_linear_splits_credit(spark):
    """Linear credit against a hand funnel: three in-window touches
    split 1e6 ppm by floor division, an out-of-window touch earns
    nothing, and per-type rollups count distinct conversions."""
    import datetime

    from weblog_pipeline.aggregate import attribution_linear

    base = datetime.datetime(2024, 3, 1)

    def ev(i, sec, typ, user=1):
        return Row(event_id=i, ts=base + datetime.timedelta(seconds=sec),
                   user_id=user, event_type=typ, value=1.0, props=None)

    week = 7 * 86_400
    rows = [
        ev(0, -week - 10, "view"),     # outside the 7-day window
        ev(1, 0, "view"),
        ev(2, 100, "click"),
        ev(3, 200, "view"),
        ev(4, 300, "purchase"),        # 3 touches -> 333333 ppm each
        ev(5, 400, "click", user=2),
        ev(6, 500, "purchase", user=2),  # 1 touch -> 1e6 ppm
    ]
    got = {
        r["touch_type"]: (r["n_touches"], r["n_conversions"],
                          r["credit_ppm_sum"])
        for r in attribution_linear(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )
        ).collect()
    }
    third = 1_000_000 // 3
    assert got["view"] == (2, 1, 2 * third)
    assert got["click"] == (2, 2, third + 1_000_000)


def test_error_budget_burn_cumulative(spark):
    """Burn-down against a hand series: day 1 under budget, day 2 a
    fast-burn spike that blows the cumulative budget past 10000 bp,
    day 3 recovery dilutes the cumulative burn."""
    import datetime

    from weblog_pipeline.aggregate import error_budget_burn

    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0

    def day(off, n_ok, n_err):
        nonlocal eid
        for k in range(n_ok + n_err):
            rows.append(Row(
                event_id=eid, ts=base + datetime.timedelta(days=off),
                user_id=1,
                event_type="error" if k < n_err else "view",
                value=1.0, props=None))
            eid += 1

    day(0, 1000, 5)    # 0.5% of 1% budget/day... rate 49bp
    day(1, 80, 20)     # 20% error rate -> fast burn
    day(2, 1000, 0)
    d0 = int((base - datetime.datetime(1970, 1, 1)).days)
    got = {
        r["day"] - d0: (r["n_total"], r["n_errors"], r["rate_bp"],
                        r["cum_burned_bp"], r["fast_burn"])
        for r in error_budget_burn(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )
        ).collect()
    }

    def burned(ce, cn):
        return ce * 10000 * 10000 // (100 * cn)

    assert got[0] == (1005, 5, 5 * 10000 // 1005, burned(5, 1005), 0)
    assert got[1][4] == 1                      # 2000bp > 300bp
    assert got[1][3] == burned(25, 1105)
    assert got[1][3] > 10000                   # budget blown
    assert got[2] == (1000, 0, 0, burned(25, 2105), 0)


def test_srm_check_flags_skew(spark):
    """SRM against hand cohorts: a user set hand-picked to split into
    known arms produces the exact chi-square; duplicate events never
    double-count a user."""
    import datetime
    import hashlib

    from weblog_pipeline.aggregate import srm_check

    base = datetime.datetime(2024, 1, 1)
    even = set("02468ace")
    # pick 60 a-arm users and 20 b-arm users deterministically
    a_users, b_users, u = [], [], 0
    while len(a_users) < 60 or len(b_users) < 20:
        h = hashlib.md5(str(u).encode()).hexdigest()[0]
        if h in even and len(a_users) < 60:
            a_users.append(u)
        elif h not in even and len(b_users) < 20:
            b_users.append(u)
        u += 1
    rows = []
    for i, usr in enumerate(a_users + b_users + a_users[:5]):  # dups
        rows.append(Row(event_id=i, ts=base, user_id=usr,
                        event_type="t", value=1.0, props=None))
    got = srm_check(
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        )
    ).collect()[0]
    chi = (60 - 20) ** 2 // 80
    assert (got["n_users"], got["n_a"], got["n_b"]) == (80, 60, 20)
    assert got["srm_chi2"] == chi == 20
    assert (got["is_srm"], got["is_srm_strong"]) == (1, 1)


def test_hill_tail_estimator_twin(spark):
    """Hill alpha against a Python twin on a planted Pareto-ish head,
    and the -1 sentinel when the head is flat."""
    import datetime
    import math

    from weblog_pipeline.aggregate import hill_tail

    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0

    def user(uid, n):
        nonlocal eid
        for _ in range(n):
            rows.append(Row(event_id=eid, ts=base, user_id=uid,
                            event_type="t", value=1.0, props=None))
            eid += 1

    counts = [100, 50, 30, 20, 15, 12, 10, 9]
    for u, n in enumerate(counts):
        user(u, n)
    schema = ("event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
    got = hill_tail(spark.createDataFrame(rows, schema), k=8).collect()[0]

    def flog3(x):
        return math.floor(math.log(x) * 1000)

    denom = sum(flog3(x) for x in counts) - 8 * flog3(9)
    assert (got["k_used"], got["x_k"], got["denom_milli"]) == (
        8, 9, denom,
    )
    assert got["alpha_milli"] == 7 * 1000 * 1000 // denom

    flat = []
    eid = 0
    rows = []
    for u in range(8):
        user(100 + u, 5)
    got2 = hill_tail(
        spark.createDataFrame(rows, schema), k=8
    ).collect()[0]
    assert got2["alpha_milli"] == -1


def test_heaping_audit_round_endings(spark):
    """Heaping against hand amounts: .00 endings counted via integer
    modulo (12.00 -> 1200c yes; 12.10 -> 1210c only the 0-ending;
    0.07 -> neither), zero amounts excluded, excess is signed."""
    import datetime

    from weblog_pipeline.aggregate import heaping_audit

    base = datetime.datetime(2024, 1, 1)
    vals = [12.00, 5.00, 12.10, 0.07, 3.33, 0.0]
    rows = [Row(event_id=i, ts=base, user_id=1, event_type="buy",
                value=v, props=None) for i, v in enumerate(vals)]
    got = heaping_audit(
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        )
    ).collect()[0]
    # 5 positive amounts; end00: 1200, 500; end0: those + 1210
    assert (got["n_amounts"], got["n_end00"], got["n_end0"]) == (5, 2, 3)
    assert got["end00_bp"] == 4000 and got["excess00_bp"] == 3900
    assert got["end0_bp"] == 6000 and got["excess0_bp"] == 5000


def test_user_p95_distribution_exact_rank(spark):
    """Per-user p95 against hand sets: 20 values -> rank 19 exactly,
    a 1-value user is their own p95, value ties resolve by event_id
    without changing the picked VALUE."""
    import datetime

    from weblog_pipeline.aggregate import user_p95_distribution

    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0

    def ev(user, val):
        nonlocal eid
        rows.append(Row(event_id=eid, ts=base, user_id=user,
                        event_type="t", value=val, props=None))
        eid += 1

    # user 1: values 1..20 -> rank ceil(.95*20)=19 -> value 19.00
    for v in range(1, 21):
        ev(1, float(v))
    # user 2: a single 42.00 -> p95 = 42.00
    ev(2, 42.0)
    got = {
        r["bucket"]: r["n_users"]
        for r in user_p95_distribution(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )
        ).collect()
    }
    # 19.00 -> 1900c -> bucket 1; 42.00 -> 4200c -> bucket 4
    assert got == {1: 1, 4: 1}


def test_new_vs_returning_split(spark):
    """Growth split against a hand cohort: first-ever day counts as
    new, any later active day as returning; same-day repeats count the
    user once."""
    import datetime

    from weblog_pipeline.aggregate import new_vs_returning

    base = datetime.datetime(2024, 1, 1)
    d0 = int((base - datetime.datetime(1970, 1, 1)).days)
    rows, eid = [], 0

    def hit(user, day, n=1):
        nonlocal eid
        for _ in range(n):
            rows.append(Row(event_id=eid,
                            ts=base + datetime.timedelta(days=day),
                            user_id=user, event_type="t", value=1.0,
                            props=None))
            eid += 1

    hit(1, 0, 3); hit(2, 0)          # day 0: both new
    hit(1, 1); hit(3, 1)             # day 1: 1 returns, 3 is new
    hit(1, 2); hit(2, 2); hit(3, 2)  # day 2: all returning
    got = {
        r["day"] - d0: (r["n_active"], r["n_new"], r["n_returning"],
                        r["new_share_bp"])
        for r in new_vs_returning(
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            )
        ).collect()
    }
    assert got == {
        0: (2, 2, 0, 10000),
        1: (2, 1, 1, 5000),
        2: (3, 0, 3, 0),
    }


def test_forecast_baselines_twin(spark):
    """SAE sums against a hand weekly-patterned series: seasonal-naive
    beats naive on a strong weekly cycle (mase_bp < 10000), and only
    days with BOTH predictors score."""
    import datetime

    from weblog_pipeline.aggregate import forecast_baselines

    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    # 21 days of a strict weekly cycle: weekday w gets 10 + 5*w events
    pattern = [10, 15, 20, 25, 30, 35, 40]
    counts = [pattern[d % 7] for d in range(21)]
    for d, n in enumerate(counts):
        for _ in range(n):
            rows.append(Row(event_id=eid,
                            ts=base + datetime.timedelta(days=d),
                            user_id=1, event_type="t", value=1.0,
                            props=None))
            eid += 1
    got = forecast_baselines(
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        )
    ).collect()[0]
    # scored days: 7..20 (need prev day AND day-7) -> 14 days
    sae_naive = sum(abs(counts[d] - counts[d - 1]) for d in range(7, 21))
    sae_seasonal = sum(abs(counts[d] - counts[d - 7])
                       for d in range(7, 21))
    assert (got["n_scored"], got["sae_naive"],
            got["sae_seasonal"]) == (14, sae_naive, sae_seasonal)
    assert got["sae_seasonal"] == 0 and got["mase_bp"] == 0


def test_vocab_coverage_tie_slice(spark):
    """Coverage against a hand vocabulary with a tie straddling the
    budget boundary: the partial slice counts (budget - types_above)
    ties at the boundary count, and an over-large budget covers
    everything."""
    from weblog_pipeline.ops.textstats import vocab_coverage

    # counts: one 10x type, three 4x types, five 1x types
    text = " ".join(["top"] * 10
                    + [w for w in ("a4", "b4", "c4") for _ in range(4)]
                    + ["h1", "h2", "h3", "h4", "h5"])
    got = {
        r["budget"]: (r["n_types_total"], r["total_mass"],
                      r["covered_mass"], r["coverage_bp"])
        for r in vocab_coverage(
            spark.createDataFrame([Row(doc_id=0, text=text)]),
            budgets=(2, 4, 100),
        ).collect()
    }
    total = 10 + 12 + 5
    # budget 2: top (10) + one of the 4x tie slice -> 14
    assert got[2] == (9, total, 14, 14 * 10000 // total)
    # budget 4: top + all three 4x -> 22
    assert got[4] == (9, total, 22, 22 * 10000 // total)
    # budget 100 > 9 types -> full mass
    assert got[100] == (9, total, total, 10000)


def test_cos_r6_pre_bit_identical_to_cosine_col(spark):
    """The precomputed-norm scoring path must be BIT-identical to
    cosine_col (same fold and multiply order) — the ANN family's oracle
    hashes depend on the exact rounded doubles."""
    import random

    rnd = random.Random(7)
    rows = [
        Row(id_a=i, id_b=i + 100,
            va=[rnd.uniform(-1, 1) for _ in range(64)],
            vb=[rnd.uniform(-1, 1) for _ in range(64)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows)
    na = similarity._norm(F.col("va"))
    nb = similarity._norm(F.col("vb"))
    out = df.select(
        F.round(similarity.cosine_col(F.col("va"), F.col("vb")), 6).alias("direct"),
        similarity._cos_r6_pre(F.col("va"), F.col("vb"), na, nb).alias("pre"),
        # norms carried through a projection boundary, as the join paths do
    ).withColumn("eq", F.col("direct").eqNullSafe(F.col("pre")))
    assert out.where(~F.col("eq")).count() == 0
    carried = (
        df.withColumn("_na", na).withColumn("_nb", nb)
        .select(
            F.round(similarity.cosine_col(F.col("va"), F.col("vb")), 6).alias("direct"),
            similarity._cos_r6_pre(
                F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
            ).alias("pre"),
        )
    )
    assert carried.where(~F.col("direct").eqNullSafe(F.col("pre"))).count() == 0
