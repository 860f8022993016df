"""Extension operators: dedup recall on planted duplicates,
similarity self-match, windows, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from pac_data_pipeline_spark.ext.dedup_text import (
    exact_dedup,
    minhash_near_dup_pairs,
    simhash_near_dup_pairs,
)
from pac_data_pipeline_spark.ext.multimodal import (
    extract_features,
    frame_sample_stub,
    media_table_from_documents,
    resize_media,
)
from pac_data_pipeline_spark.ext.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    queries_from_corpus,
)
from pac_data_pipeline_spark.ext.text import fingerprint, lang_id


BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away "
    "into the deep green forest while the sun sets slowly behind hills"
)


def _docs(spark):
    rows = [
        (0, BASE, "en", "s", len(BASE)),
        (1, BASE, "en", "s", len(BASE)),  # exact dup of 0
        (2, BASE.replace("quick", "speedy"), "en", "s", 1),  # near dup
        (3, "completely different text about spark query engines and "
            "distributed columnar execution at scale", "en", "s", 1),
        (4, "der die das und zu hause gehen wir heute abend", "de", "s", 1),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_dedup_keeps_min_id(spark):
    out = exact_dedup(_docs(spark))
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [0, 2, 3, 4]


def test_minhash_finds_planted_near_dups(spark):
    pairs = {(r.id_a, r.id_b): r.est_jaccard
             for r in minhash_near_dup_pairs(_docs(spark), threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup caught
    assert all(3 not in p and 4 not in p for p in pairs)  # no false pairs


def test_simhash_near_dups(spark):
    pairs = {(r.id_a, r.id_b)
             for r in simhash_near_dup_pairs(_docs(spark), max_hamming=8).collect()}
    assert (0, 1) in pairs
    assert (3, 4) not in pairs


def test_portable_hyperplane_near_dup(spark):
    """md5-Rademacher planes: the matrix is deterministic ±1 per
    the documented formula, and the bucketed near-dup finds a
    planted duplicate while matching an independent numpy
    recomputation of the signatures and cosines."""
    import hashlib

    import numpy as np

    from pac_data_pipeline_spark.ext.similarity import (
        embedding_near_dup_pairs,
        portable_hyperplanes,
    )

    planes = np.array(portable_hyperplanes(8, 4))
    assert planes.shape == (4, 8) and set(np.unique(planes)) <= {-1.0, 1.0}
    assert planes[2][3] == (
        1.0
        if int(hashlib.md5(b"plane:2:3").hexdigest()[0], 16) < 8
        else -1.0
    )

    rng = np.random.default_rng(9)
    base = rng.standard_normal(8).astype(np.float32)
    vecs = [
        (0, base.tolist()),
        (1, (base * np.float32(1.01)).tolist()),  # planted near-dup
        (2, rng.standard_normal(8).astype(np.float32).tolist()),
        (3, rng.standard_normal(8).astype(np.float32).tolist()),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(
            df, threshold=0.9, dim=8, n_planes=4
        ).collect()
    }
    assert (0, 1) in got and got[(0, 1)] > 0.999

    # independent recomputation: same buckets, same surviving pairs
    sigs, arrs = {}, {}
    for vid, v in vecs:
        a = np.array(v, dtype=np.float64)
        arrs[vid] = a
        sigs[vid] = tuple((planes @ a) >= 0)
    expected = {}
    for i in range(4):
        for j in range(i + 1, 4):
            if sigs[i] == sigs[j]:
                c = round(
                    float(
                        arrs[i] @ arrs[j]
                        / (
                            np.linalg.norm(arrs[i])
                            * np.linalg.norm(arrs[j])
                        )
                    ),
                    6,
                )
                if c >= 0.9:
                    expected[(i, j)] = c
    assert set(got) == set(expected)


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello,   World!"), (1, "hello world"), (2, "other")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.fingerprint for r in fingerprint(df).collect()}
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]


def test_lang_id_heuristic(spark):
    out = {r.doc_id: r.lang_guess for r in lang_id(_docs(spark)).collect()}
    assert out[0] == "en"
    assert out[4] == "de"


def test_cosine_topk_self_match_first(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((20, 8)).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], 0) for i in range(20)],
        "vec_id long, embedding array<float>, label int",
    )
    out = cosine_topk_bruteforce(emb, queries_from_corpus(emb, n=3), k=5)
    top1 = {r.query_id: r.vec_id for r in out.filter(F.col("rank") == 1).collect()}
    assert top1 == {0: 0, 1: 1, 2: 2}  # cosine(v, v) = 1 is rank 1
    # LSH variant must also self-match (same bucket trivially)
    lsh = cosine_topk_lsh(emb, queries_from_corpus(emb, n=3), k=5, dim=8)
    lsh_top1 = {r.query_id: r.vec_id
                for r in lsh.filter(F.col("rank") == 1).collect()}
    assert lsh_top1 == {0: 0, 1: 1, 2: 2}


def test_multimodal_plumbing(spark):
    media = media_table_from_documents(_docs(spark))
    feats = extract_features(media, dim=4).collect()
    assert len(feats) == 5
    assert all(len(r.feature) == 4 for r in feats)
    assert all(r.decoded is False for r in feats)  # raw text ≠ BMP
    # determinism: same payload → same features
    by_id = {r.doc_id: list(r.feature) for r in feats}
    assert by_id[0] == by_id[1]

    resized = resize_media(media, 64, 64).collect()
    assert all(r.meta.width == 64 and r.meta.height == 64 for r in resized)

    frames = frame_sample_stub(media, every_n=10)
    assert frames.count() >= 5


def test_bmp_encode_decode_roundtrip():
    import numpy as np

    from pac_data_pipeline_spark.ext.multimodal import decode_bmp, encode_bmp

    payload = encode_bmp(5, 3, b"abcdefg")  # width forces 1-byte row pad
    w, h, px = decode_bmp(payload)
    assert (w, h) == (5, 3)
    assert px.shape == (3, 5, 3)
    # bottom-up flip: decoded top row is the LAST stored row
    seed = np.tile(np.frombuffer(b"abcdefg", dtype=np.uint8), 7)[: 3 * 15]
    stored = seed.reshape(3, 15)
    assert (px[0].reshape(15) == stored[2]).all()
    with pytest.raises(ValueError):
        decode_bmp(b"PNG not a bmp at all" * 4)


def test_png_decode_hand_built():
    """Pin decode_png against a PNG assembled BY HAND (struct+zlib,
    not encode_png) — 2x2 RGB, filter 0 rows, known pixel values —
    so the decoder is checked against the spec, not against its own
    encoder."""
    import struct
    import zlib

    import numpy as np

    from pac_data_pipeline_spark.ext.multimodal import decode_png

    # pixels: (255,0,0) (0,255,0) / (0,0,255) (10,20,30), top-down
    raw = bytes([0, 255, 0, 0, 0, 255, 0]) + bytes([0, 0, 0, 255, 10, 20, 30])

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    w, h, px = decode_png(payload)
    assert (w, h) == (2, 2)
    assert px.shape == (2, 2, 3)
    expect = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [10, 20, 30]]],
        dtype=np.uint8,
    )
    assert (px == expect).all()


def test_png_encode_decode_roundtrip_all_filters():
    """encode_png cycles filter types 0..4 per row, so any height ≥ 5
    exercises every unfilter path; the decoded matrix must equal the
    generative tiled-seed formula exactly."""
    import numpy as np

    from pac_data_pipeline_spark.ext.multimodal import decode_png, encode_png

    for w, hgt, seed in [(5, 7, b"abcdefg"), (1, 6, b"\x00\xff"), (9, 5, b"xyz")]:
        payload = encode_png(w, hgt, seed)
        dw, dh, px = decode_png(payload)
        assert (dw, dh) == (w, hgt)
        expect = np.tile(
            np.frombuffer(seed, dtype=np.uint8), (hgt * w * 3) // len(seed) + 1
        )[: hgt * w * 3].reshape(hgt, w, 3)
        assert (px == expect).all(), (w, hgt, seed)
    with pytest.raises(ValueError):
        decode_png(b"BM this is a bmp, not a png" * 4)


def test_jpeg_constant_color_roundtrip():
    """A constant-color image has only DC energy; baseline JPEG must
    recover it within DC quantization (here: exactly, since the DC
    step divides evenly)."""
    import numpy as np

    from pac_data_pipeline_spark.ext.jpeg import (
        decode_jpeg,
        encode_jpeg_pixels,
    )

    for v in (0, 100, 255):
        img = np.full((16, 12, 3), v, dtype=np.uint8)
        w, h, px = decode_jpeg(encode_jpeg_pixels(img))
        assert (w, h) == (12, 16)
        assert px.shape == (16, 12, 3)
        assert np.abs(px.astype(int) - v).max() <= 2, v


def test_jpeg_lossy_statistics_roundtrip():
    """Structural + statistical contract on non-trivial content:
    markers present (SOI/APP0-JFIF/DQT/SOF0/DHT/SOS/EOI), exact
    dimensions (including non-multiple-of-8), channel means within
    quantization error, and bounded max pixel error on smooth
    gradients."""
    import numpy as np

    from pac_data_pipeline_spark.ext.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_pixels,
    )

    y, x = np.mgrid[0:21, 0:13]
    img = np.stack(
        [(x * 9) % 256, (y * 7) % 256, ((x + y) * 4) % 256], axis=-1
    ).astype(np.uint8)
    payload = encode_jpeg_pixels(img)
    assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
    assert b"JFIF\x00" in payload[:30]
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in payload, marker
    w, h, px = decode_jpeg(payload)
    assert (w, h) == (13, 21)
    err = np.abs(px.astype(float) - img.astype(float))
    assert err.mean() < 6.0 and err.max() < 40.0
    # per-channel means survive quantization
    assert np.abs(
        px.mean(axis=(0, 1)) - img.mean(axis=(0, 1))
    ).max() < 3.0

    # the generative entry point matches the shared tiled-seed formula
    p2 = encode_jpeg(11, 7, b"seed \xff\x00 bytes")
    w2, h2, px2 = decode_jpeg(p2)
    assert (w2, h2) == (11, 7)
    seed = np.frombuffer(b"seed \xff\x00 bytes", dtype=np.uint8)
    flat = np.tile(seed, (7 * 11 * 3) // len(seed) + 1)[: 7 * 11 * 3]
    expect = flat.reshape(7, 11, 3)
    assert np.abs(
        px2.mean(axis=(0, 1)) - expect.mean(axis=(0, 1))
    ).max() < 6.0

    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG not a jpeg" * 3)


def test_jpeg_decoder_rejects_unsupported_profiles():
    """The decoder refuses what it could not round-trip (progressive
    SOF2, subsampled chroma) instead of guessing."""
    from pac_data_pipeline_spark.ext.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    payload = bytearray(encode_jpeg(8, 8, b"x"))
    sof = payload.index(b"\xff\xc0")
    payload[sof + 1] = 0xC2  # pretend progressive
    with pytest.raises(ValueError, match="non-baseline"):
        decode_jpeg(bytes(payload))

    payload = bytearray(encode_jpeg(8, 8, b"x"))
    sof = payload.index(b"\xff\xc0")
    # component 1 sampling byte: SOF0 payload = len(2) P(1) Y(2) X(2)
    # Nf(1) then per-comp [id, sampling, tq]
    payload[sof + 2 + 8 + 1] = 0x22  # 2x2 sampling on Y
    with pytest.raises(ValueError, match="subsampling"):
        decode_jpeg(bytes(payload))


def test_gif_decode_hand_built():
    """Pin decode_gif against a GIF assembled BY HAND — 2x2 frame,
    4-color global table, LZW min code size 2, the variable-width
    code stream packed LSB-first by hand (clear,1,2,3 at 3 bits,
    then 0,end at 4 bits after the width bump) — so the decoder is
    checked against the wire format, not against its own encoder."""
    import struct

    import numpy as np

    from pac_data_pipeline_spark.ext.gif import decode_gif

    palette = bytes(
        [10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120]
    )
    payload = (
        b"GIF89a"
        + struct.pack("<HHBBB", 2, 2, 0x81, 0, 0)  # 4-entry table
        + palette
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
        + bytes([2])          # LZW min code size
        + bytes([3, 140, 6, 5, 0])  # hand-packed codes for [1,2,3,0]
        + b"\x3b"
    )
    w, h, px = decode_gif(payload)
    assert (w, h) == (2, 2)
    expect = np.array(
        [[[40, 50, 60], [70, 80, 90]], [[100, 110, 120], [10, 20, 30]]],
        dtype=np.uint8,
    )
    assert (px == expect).all()


def test_gif_encode_decode_exact_roundtrip():
    """GIF is lossless: decode(encode(seed)) must equal the palette-
    mapped tiled seed EXACTLY, including sizes that force LZW width
    growth and a full-dictionary reset."""
    import numpy as np

    from pac_data_pipeline_spark.ext.gif import (
        _PALETTE,
        decode_gif,
        encode_gif,
    )

    cases = [
        (5, 3, b"abcdefg"),
        (1, 1, b"\x00"),
        (24, 24, bytes(range(256))),        # every palette index
        (64, 64, bytes((i * 7) % 251 for i in range(123))),  # big
    ]
    for w, hgt, seed in cases:
        dw, dh, px = decode_gif(encode_gif(w, hgt, seed))
        assert (dw, dh) == (w, hgt)
        s = np.frombuffer(seed, dtype=np.uint8)
        idx = np.tile(s, (w * hgt) // len(s) + 1)[: w * hgt]
        assert (px == _PALETTE[idx].reshape(hgt, w, 3)).all(), (w, hgt)
    with pytest.raises(ValueError):
        decode_gif(b"\x89PNG not a gif" * 3)


def test_gif_extension_blocks_skipped():
    """Graphic-control and comment extension blocks (0x21) must be
    skipped per spec, landing on the image descriptor."""
    from pac_data_pipeline_spark.ext.gif import decode_gif, encode_gif

    payload = bytearray(encode_gif(4, 4, b"zz"))
    # image descriptor sits right after header(6) + screen(7) +
    # 256-entry global color table (0x2C also appears as a palette
    # byte, so searching for it would land inside the table)
    desc = 6 + 7 + 3 * 256
    assert payload[desc] == 0x2C
    # splice a graphic-control extension before the image descriptor
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    patched = bytes(payload[:desc]) + gce + bytes(payload[desc:])
    w, h, px = decode_gif(patched)
    assert (w, h) == (4, 4)


def test_multimodal_mixed_format_dispatch(spark):
    """extract_features over a BMP+PNG union decodes BOTH formats for
    real: decoded=true everywhere, header dims match declared meta,
    and (since the pixel formulas match) a doc's PNG channel means
    mirror its BMP ones with B/R swapped (BGR vs RGB storage)."""
    from pac_data_pipeline_spark.ext.multimodal import (
        bmp_media_from_documents,
        png_media_from_documents,
    )

    docs = _docs(spark)
    bmp_rows = {
        r.doc_id: r for r in extract_features(
            bmp_media_from_documents(docs)).collect()
    }
    png_media = png_media_from_documents(docs)
    meta = {r.doc_id: (r.meta.width, r.meta.height)
            for r in png_media.collect()}
    png_rows = {
        r.doc_id: r for r in extract_features(png_media).collect()
    }
    assert set(png_rows) == set(bmp_rows)
    for doc_id, r in png_rows.items():
        assert r.decoded is True
        assert (r.width, r.height) == meta[doc_id]
        b = bmp_rows[doc_id]
        # both encoders tile the SAME seed bytes over the same dims,
        # so the stored per-channel byte statistics are identical
        # (only the interpretation differs: BGR vs RGB) — the full
        # feature vectors must agree elementwise
        assert (r.width, r.height) == (b.width, b.height)
        assert all(
            abs(x - y) < 1e-3 for x, y in zip(r.feature, b.feature)
        ), (doc_id, list(r.feature), list(b.feature))

    # JPEG branch: real decode (decoded=true, dims from the header),
    # channel means lossy-close to the BMP/PNG exact ones
    from pac_data_pipeline_spark.ext.multimodal import (
        jpeg_media_from_documents,
    )

    jpg_rows = {
        r.doc_id: r for r in extract_features(
            jpeg_media_from_documents(docs)).collect()
    }
    assert set(jpg_rows) == set(bmp_rows)
    for doc_id, r in jpg_rows.items():
        b = bmp_rows[doc_id]
        assert r.decoded is True
        assert (r.width, r.height) == (b.width, b.height)
        # JPEG is lossy: means within a few units, not elementwise
        assert all(
            abs(x - y) < 8.0
            for x, y in zip(list(r.feature)[2:5], list(b.feature)[2:5])
        ), (doc_id, list(r.feature), list(b.feature))

    # GIF branch: real lossless decode through the palette — dims
    # from the header, decoded=true (pixel exactness is pinned in
    # the codec round-trip test)
    from pac_data_pipeline_spark.ext.multimodal import (
        gif_media_from_documents,
    )

    gif_rows = {
        r.doc_id: r for r in extract_features(
            gif_media_from_documents(docs)).collect()
    }
    assert set(gif_rows) == set(bmp_rows)
    for doc_id, r in gif_rows.items():
        assert r.decoded is True
        assert (r.width, r.height) == (
            bmp_rows[doc_id].width, bmp_rows[doc_id].height)


def test_multimodal_real_bmp_decode(spark):
    from pac_data_pipeline_spark.ext.multimodal import bmp_media_from_documents

    media = bmp_media_from_documents(_docs(spark))
    rows = extract_features(media).collect()
    assert len(rows) == 5
    meta = {r.doc_id: (r.meta.width, r.meta.height)
            for r in media.collect()}
    for r in rows:
        assert r.decoded is True
        # dimensions DECODED from the BMP header match the declared meta
        assert (r.width, r.height) == meta[r.doc_id]
        assert list(r.feature)[:2] == [float(r.width), float(r.height)]
        # channel means are real pixel statistics: printable ASCII range
        assert all(31.0 < v < 123.0 for v in list(r.feature)[2:5])


def test_streaming_matches_batch(spark, tmp_path):
    """Streaming tumbling agg over the sf0.001 events must equal the
    batch computation — same logical plan, two execution modes."""
    from pac_data_pipeline_spark.sources.readers import load_events
    from pac_data_pipeline_spark.streaming.windows import (
        run_streaming_tumbling,
        tumbling_window_agg,
    )

    sf_dir = "/root/testdata/sf0.001"
    try:
        stream = run_streaming_tumbling(
            spark, sf_dir, query_name="t_stream_batch_parity"
        ).collect()
    except Exception as exc:  # pragma: no cover
        pytest.skip(f"streaming unavailable: {exc}")
    batch = tumbling_window_agg(load_events(spark, sf_dir)).collect()
    assert sorted(map(tuple, stream)) == sorted(map(tuple, batch))


def test_streaming_sliding_matches_batch(spark):
    """Streaming sliding agg must equal the batch sliding windows —
    every overlapping window instance, not just the aligned ones."""
    from pac_data_pipeline_spark.sources.readers import load_events
    from pac_data_pipeline_spark.streaming.windows import (
        run_streaming_sliding,
        sliding_window_agg,
    )

    sf_dir = "/root/testdata/sf0.001"
    try:
        stream = run_streaming_sliding(
            spark, sf_dir, query_name="t_slide_parity"
        ).collect()
    except Exception as exc:  # pragma: no cover
        pytest.skip(f"streaming unavailable: {exc}")
    batch = sliding_window_agg(load_events(spark, sf_dir)).collect()
    assert sorted(map(tuple, stream)) == sorted(map(tuple, batch))


def test_connected_components_chain_and_islands(spark):
    from pac_data_pipeline_spark.ext.dedup_text import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    # chain 0-1-2-3 (diameter > 1 forces multi-round propagation),
    # pair 5-6, islands 4 and 7
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    out = {
        r.doc_id: r.component_id
        for r in connected_components(nodes, edges).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}


def test_connected_components_raises_on_unconverged(spark):
    from pac_data_pipeline_spark.ext.dedup_text import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(80)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(79)], "id_a long, id_b long"
    )
    # a 79-edge chain needs ~log2(80) star rounds, so max_iter=2
    # cannot converge — must refuse, never return partial labels
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(nodes, chain, max_iter=2).collect()


def test_connected_components_hand_computed(spark):
    import random

    from pac_data_pipeline_spark.ext.dedup_text import connected_components

    def components(n, edges_py):
        # union-find, each node labeled with its component's min id
        root = list(range(n))

        def find(x):
            while root[x] != x:
                x = root[x]
            return x

        for a, b in edges_py:
            ra, rb = find(a), find(b)
            root[max(ra, rb)] = min(ra, rb)
        return sorted((i, find(i)) for i in range(n))

    rng = random.Random(11)
    n = 120
    cases = [
        # long chain: the shape where star's O(log n) rounds matter
        [(i, i + 1) for i in range(60)],
        # bridge node seen from two still-unmerged roots (the shape
        # a naive "is it star-shaped yet" convergence test gets wrong)
        [(10, 1), (10, 3), (20, 2), (20, 3)],
        # random graph
        [
            (a, b)
            for a, b in (
                (rng.randrange(n), rng.randrange(n)) for _ in range(90)
            )
            if a != b
        ],
    ]
    for edges_py in cases:
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        edges = spark.createDataFrame(edges_py, "id_a long, id_b long")
        got = sorted(map(tuple, connected_components(nodes, edges).collect()))
        assert got == components(n, edges_py)


def test_cc_star_empty_edges(spark):
    from pac_data_pipeline_spark.ext.dedup_text import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    edges = spark.createDataFrame([], "id_a long, id_b long")
    out = {
        r.doc_id: r.component_id
        for r in connected_components(nodes, edges).collect()
    }
    assert out == {i: i for i in range(5)}


def test_jaccard_similarity_join_exact(spark):
    from pac_data_pipeline_spark.ext.dedup_text import (
        jaccard_similarity_join,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),  # grams {abc,bcd,cde,def}
            (2, "a b c d e g"),  # 3 shared grams of 5 union -> 0.6
            (3, "x y z x y z x"),  # disjoint vocabulary
            (4, None),  # null text never matches
            (5, "   "),  # empty text never matches
            (6, "a b c d e f"),  # exact dup of 1 -> jaccard 1.0
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_similarity_join(df, threshold=0.4).collect()
    )
    assert got == [(1, 2, 0.6), (1, 6, 1.0), (2, 6, 0.6)]


def test_udtf_token_stream_contract(spark):
    from pac_data_pipeline_spark.functions.udtfs import token_stream

    df = spark.createDataFrame(
        [
            (1, "  a bb   ccc "),  # leading/trailing/multi-space
            (2, None),  # null text -> no rows
            (3, "   "),  # whitespace-only -> no rows
            (4, "solo"),
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        map(tuple, token_stream(df).collect())
    )
    assert rows == [
        (1, 1, "a", 1),
        (1, 2, "bb", 2),
        (1, 3, "ccc", 3),
        (4, 1, "solo", 4),
    ]


def test_chunk_documents_overlap_and_tail(spark):
    from pac_data_pipeline_spark.ext.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(300))
    df = spark.createDataFrame([(1, text), (2, "a b")], "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=128, overlap=32).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 300 tokens, stride 96 -> ceil((300-32)/96)=3 chunks at 0/96/192
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.start_token for r in c1] == [0, 96, 192]
    toks = text.split()
    assert c1[0].chunk_text == " ".join(toks[0:128])
    assert c1[1].chunk_text == " ".join(toks[96:224])
    assert c1[2].chunk_text == " ".join(toks[192:300])  # short tail
    # overlap: last 32 tokens of chunk 0 = first 32 of chunk 1
    assert c1[0].chunk_text.split()[-32:] == c1[1].chunk_text.split()[:32]
    # short doc -> exactly one chunk
    assert [r.chunk_text for r in by_doc[2]] == ["a b"]


def test_hash_sample_stable_and_disjoint(spark):
    from pac_data_pipeline_spark.ext.sampling import hash_bucket, hash_sample

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s10a = {r.doc_id for r in hash_sample(docs, 10).collect()}
    s10b = {r.doc_id for r in hash_sample(docs, 10).collect()}
    assert s10a == s10b  # reproducible
    s30 = {r.doc_id for r in hash_sample(docs, 30).collect()}
    assert s10a <= s30  # monotone: growing pct only adds rows
    assert 0.05 < len(s10a) / 2000 < 0.15  # roughly 10%
    # buckets cover [0, 100)
    rng = docs.select(hash_bucket("doc_id").alias("b")).agg(
        F.min("b").alias("lo"), F.max("b").alias("hi")
    ).collect()[0]
    assert rng.lo >= 0 and rng.hi <= 99


def test_interleave_tags_sources(spark):
    from pac_data_pipeline_spark.ext.sampling import interleave

    a = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    b = spark.range(100, 200).withColumnRenamed("id", "doc_id")
    out = interleave([(a, 100), (b, 50)]).collect()
    idx = {r.doc_id: r.source_idx for r in out}
    assert all(v == 0 for k, v in idx.items() if k < 100)
    assert all(v == 1 for k, v in idx.items() if k >= 100)
    n_b = sum(1 for k in idx if k >= 100)
    assert len([k for k in idx if k < 100]) == 100  # 100% of a
    assert 30 <= n_b <= 70  # ~50% of b


def test_ngram_novelty_planted_duplication(spark):
    """Novelty semantics on planted structure: an exact copy of an
    earlier doc scores 0, fresh text scores 1, a half-borrowed doc
    scores the exact borrowed fraction, and blank/NULL docs drop."""
    from pac_data_pipeline_spark.ext.dedup_text import ngram_novelty

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f"),       # 4 distinct 3-grams, all first here
            (1, "a b c d e f"),       # exact copy -> novelty 0
            (2, "a b c d p q r s"),   # grams: abc bcd cde(seen) + dpq pqr qrs... mixed
            (3, "x y z w v"),         # fresh -> novelty 1
            (4, ""),                  # blank: drops
            (5, None),                # NULL: drops
            (6, "a b"),               # < n tokens: drops (a sub-n
            #   pseudo-gram would score this fully-borrowed
            #   fragment as novelty 1.0 — the inverse signal)
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in ngram_novelty(docs, n=3).collect()}
    assert set(got) == {0, 1, 2, 3}
    assert got[0].novelty == 1.0 and got[0].n_grams == 4
    assert got[1].novelty == 0.0 and got[1].n_novel == 0
    assert got[3].novelty == 1.0
    # doc 2: grams = {abc, bcd, cde, dep, epq, pqr, qrs}... compute
    # independently
    toks = "a b c d p q r s".split()
    g2 = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    g0 = {" ".join("a b c d e f".split()[i : i + 3]) for i in range(4)}
    novel2 = {g for g in g2 if g not in g0}
    assert got[2].n_grams == len(g2)
    assert got[2].n_novel == len(novel2)
    import math

    assert got[2].novelty == math.floor(
        len(novel2) / len(g2) * 1e6 + 0.5
    ) / 1e6


def test_decontaminate_flags_overlap(spark):
    from pac_data_pipeline_spark.ext.dedup_text import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),     # shares 3-grams with eval
            (2, "totally different words here"),  # clean
            (3, "quick brown fox runs away"),     # shares "quick brown fox"
        ],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, "a the quick brown fox sat")], "doc_id long, text string"
    )
    out = {r.doc_id: (r.n_hits, r.contaminated)
           for r in decontaminate(docs, eval_set, n=3).collect()}
    assert out[1][1] and out[1][0] >= 1
    assert out[3] == (1, True)  # exactly "quick brown fox"
    assert out[2] == (0, False)


def test_redact_pii_counts_and_replacement(spark):
    from pac_data_pipeline_spark.ext.text import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@test.org or call 555-867-5309 x2"),
            (2, "ssn 123-45-6789 and email a@b.io and b@c.co"),
            (3, "no pii here"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert got[1].n_email == 1 and got[1].n_phone == 1
    assert "jo.doe" not in got[1].clean_text
    assert got[2].n_email == 2 and got[2].n_ssn == 1
    assert got[2].clean_text.count("[REDACTED]") == 3
    assert got[3].clean_text == "no pii here"


def test_repetition_score_edges(spark):
    from pac_data_pipeline_spark.ext.text import repetition_score

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),       # grams: ab ba ab ba ab -> 2/5 distinct
            (2, "all words differ"),  # no repeated grams
            (3, "single"),            # 1 token -> no grams, null ratio
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_score(docs).collect()}
    assert got[1].n_2grams == 5 and abs(got[1].rep_2gram_ratio - 0.6) < 1e-9
    assert got[2].rep_2gram_ratio == 0.0
    assert got[3].n_2grams == 0 and got[3].rep_2gram_ratio is None


def test_pack_sequences_boundaries(spark):
    from pac_data_pipeline_spark.ext.text import pack_sequences

    # one shard (n_shards=1) so the packing order is just doc_id;
    # 3 docs x 300 tokens with max 512: offsets 0/300/600 -> seqs 0/0/1
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 300)) for i in range(3)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.seq_id for r in
           pack_sequences(docs, max_tokens=512, n_shards=1).collect()}
    assert got == {0: 0, 1: 0, 2: 1}


def test_resize_bmp_real_roundtrip(spark):
    from pac_data_pipeline_spark.ext.multimodal import (
        bmp_media_from_documents,
        decode_bmp,
        resize_media,
    )

    media = bmp_media_from_documents(_docs(spark))
    out = resize_media(media, 8, 6).collect()
    assert len(out) == 5
    for r in out:
        w, h, px = decode_bmp(bytes(r.content))  # output is a REAL BMP
        assert (w, h) == (8, 6)
        assert px.shape == (6, 8, 3)
        assert r.meta.width == 8 and r.meta.height == 6
        assert r.meta.n_bytes == len(bytes(r.content))


def test_resize_bmp_nearest_neighbor_exact():
    import numpy as np

    from pac_data_pipeline_spark.ext.multimodal import resize_bmp

    arr = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    half = resize_bmp(arr, 2, 2)
    # nearest-neighbor with floor mapping picks rows/cols 0 and 2
    assert (half == arr[[0, 2]][:, [0, 2]]).all()
    double = resize_bmp(arr, 8, 8)
    assert double.shape == (8, 8, 3)
    assert (double[::2, ::2] == arr).all()  # upsample repeats pixels


def test_video_container_frame_sample(spark):
    from pac_data_pipeline_spark.ext.multimodal import (
        frame_sample,
        video_media_from_documents,
    )

    media = video_media_from_documents(_docs(spark))
    rows = frame_sample(media, every_n=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for d in range(5):
        n_frames = 2 + d % 4
        sampled = sorted(r.frame_idx for r in by_doc[d])
        assert sampled == list(range(0, n_frames, 2))
        for r in by_doc[d]:
            # dims come from the decoded DIB frame's pixel-array
            # shape (one frame size per AVI stream) and match the
            # generative formula
            assert r.width == 4 + d % 5
            assert r.height == 4 + (d * 3) % 5


def test_pmi_collocations_scores_phrases_over_fillers(spark):
    from pac_data_pipeline_spark.ext.text import pmi_collocations

    # "new york" always co-occurs (high PMI); "of the" is frequent
    # but both words appear everywhere (low PMI)
    docs = [(i, "the city of new york is of the best of the world")
            for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = pmi_collocations(df, k=5, min_count=5).collect()
    assert out[0].bigram == "new york"
    pmi = {r.bigram: r.pmi for r in out}
    assert pmi["new york"] > pmi.get("of the", -99)
    # counts: 10 docs x 1 occurrence
    assert out[0].c_xy == 10


def test_pq_topk_recall_and_exact_scores(spark):
    from pac_data_pipeline_spark.ext.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_pq,
        queries_from_corpus,
    )
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((80, 16)).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], 0) for i in range(80)],
        "vec_id long, embedding array<float>, label int",
    )
    q = queries_from_corpus(emb, n=3)
    exact = cosine_topk_bruteforce(emb, q, k=5)
    pq = cosine_topk_pq(
        emb, q, k=5, m=4, n_codes=8, fit_sample_rows=80
    )
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    pq_rows = pq.collect()
    pq_sets: dict = {}
    for r in pq_rows:
        pq_sets.setdefault(r.query_id, set()).add(r.vec_id)
    # self-match survives shortlist + rerank for every query
    top1 = {r.query_id: r.vec_id for r in pq_rows if r.rank == 1}
    assert top1 == {0: 0, 1: 1, 2: 2}
    # recall@5 >= 0.6 on random data with a 4x shortlist
    hits = sum(len(exact_sets[q_] & pq_sets[q_]) for q_ in exact_sets)
    assert hits / (5 * len(exact_sets)) >= 0.6
    # reported cosines are EXACT: every (query, vec) score matches
    # the brute-force value for rows present in both
    exact_scores = {(r.query_id, r.vec_id): r.cosine for r in exact.collect()}
    for r in pq_rows:
        if (r.query_id, r.vec_id) in exact_scores:
            assert abs(r.cosine - exact_scores[(r.query_id, r.vec_id)]) < 1e-9


def test_bpe_train_matches_reference(spark):
    """BPE merges must equal a plain-Python reference trainer
    (count-weighted argmax, lexicographic tie-break)."""
    from collections import Counter

    from pac_data_pipeline_spark.ext.text import bpe_train

    corpus = ["low low lower lowest", "new newer newest low"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )

    def naive_bpe(texts, n):
        vocab = Counter()
        for t in texts:
            for w in t.split():
                vocab[" ".join(w)] += 1
        out = []
        for rank in range(n):
            pairs = Counter()
            for syms, freq in vocab.items():
                s = syms.split(" ")
                for a, b in zip(s, s[1:]):
                    pairs[(a, b)] += freq
            if not pairs:
                break
            # max count, ties lexicographic (l, r) ascending
            best = sorted(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )[0]
            (l, r), cnt = best
            out.append((rank, l, r, cnt))
            import re

            pat = re.compile(
                r"(?<!\S)" + re.escape(l) + " " + re.escape(r) + r"(?!\S)"
            )
            vocab = Counter(
                {pat.sub(l + r, syms): f for syms, f in vocab.items()}
            )
        return out

    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train(df, n_merges=5).orderBy("rank").collect()
    ]
    assert got == naive_bpe(corpus, 5)


def test_apply_merge_matches_jvm_regexp_replace(spark):
    """The driver-side merge rewrite equals the JVM
    ``regexp_replace`` it replaced, including on symbols that hold
    characters Java's ``\\s`` and Python's disagree on (VT is Java
    whitespace; NBSP, U+0085, U+2028 and U+001C are whitespace only
    to Python), back-to-back and self-overlapping pairs, and
    replacement text with ``$`` and backslashes."""
    import re

    from pac_data_pipeline_spark.ext.text import apply_merge

    cases = [
        ("a b a b", "a", "b"),
        ("a a a", "a", "a"),
        ("\xa0a b", "a", "b"),
        ("\x0ba b", "a", "b"),
        ("a b\x85 a b", "a", "b"),
        ("a b\x0b a b", "a", "b"),
        ("\u2028a b \x1cb a b", "a", "b"),
        ("$ \\ $ \\", "$", "\\"),
        ("x \U0001f600 a", "\U0001f600", "a"),
    ]
    rows = []
    for syms, left, right in cases:
        pat = (
            r"(?<!\S)" + re.escape(left) + " " + re.escape(right) + r"(?!\S)"
        )
        rep = (left + right).replace("\\", "\\\\").replace("$", "\\$")
        rows.append((syms, pat, rep))
    df = spark.createDataFrame(rows, "syms string, pat string, rep string")
    jvm = [r[0] for r in df.selectExpr("regexp_replace(syms, pat, rep)").collect()]
    vocab = [[syms, 1] for syms, _, _ in cases]
    for entry, (_, left, right) in zip(vocab, cases):
        apply_merge([entry], left, right)
    assert [e[0] for e in vocab] == jvm
    assert jvm[2] == "\xa0a b" and jvm[3] == "\x0bab"


def test_bpe_train_empty_and_single_char_corpus(spark):
    from pac_data_pipeline_spark.ext.text import bpe_train

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bpe_train(empty, n_merges=3).count() == 0
    # single-char words have no pairs -> no merges
    singles = spark.createDataFrame(
        [(1, "a b c a b")], "doc_id long, text string"
    )
    assert bpe_train(singles, n_merges=3).count() == 0


def test_wav_roundtrip_and_features(spark):
    import numpy as np

    from pac_data_pipeline_spark.ext.multimodal import (
        audio_features,
        audio_media_from_documents,
        decode_wav,
        encode_wav,
    )

    # roundtrip: bytes parse back exactly
    sr, x = 8000, (np.sin(np.arange(800) / 10.0) * 10000).astype("<i2")
    sr2, x2 = decode_wav(encode_wav(sr, x))
    assert sr2 == sr and np.array_equal(x, x2)
    # constant signal: RMS known exactly, zero crossings zero
    const = np.full(1000, 16384, dtype="<i2")
    docs = spark.createDataFrame([(7,)], "doc_id long")
    media = audio_media_from_documents(docs)
    feats = {r.doc_id: r for r in audio_features(media).collect()}
    r = feats[7]
    assert r.decoded and r.sample_rate == 8000
    assert abs(r.duration_s - r.n_samples / 8000) < 1e-9
    assert 0 < r.rms < 1 and 0 < r.zero_cross_rate < 1
    # hand-built constant payload through the feature path
    from pyspark.sql import Row
    const_media = spark.createDataFrame(
        [Row(doc_id=1, audio=bytearray(encode_wav(8000, const)),
             sample_rate=8000)]
    )
    rc = audio_features(const_media).collect()[0]
    assert abs(rc.rms - 16384 / 32768) < 1e-4
    assert rc.zero_cross_rate == 0.0


def test_bpe_encode_matches_reference(spark):
    """Greedy encode (merge lowest-rank pair until none applies)
    against an independent merge-all-occurrences reference, on both
    training-corpus words and UNSEEN words."""
    from pac_data_pipeline_spark.ext.text import bpe_encode, bpe_train

    corpus = ["low low lower lowest", "new newer newest low"]
    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    merges = bpe_train(train, n_merges=5)
    rules = {
        (r["left"], r["right"]): r["rank"]
        for r in merges.collect()
    }

    def ref_n_syms(word):
        syms = list(word)
        while True:
            present = [
                (rules[(a, b)], (a, b))
                for a, b in zip(syms, syms[1:])
                if (a, b) in rules
            ]
            if not present:
                return len(syms)
            _, (a, b) = min(present)
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == (a, b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out

    docs = [
        (0, "low lower lowest"),       # training words
        (1, "lowly newly sowing"),     # unseen words sharing merges
        (2, ""),                        # empty
        (3, None),                      # null text
        # exotic whitespace: NBSP/U+3000/U+2028 are NOT separators
        # under the ASCII TOKEN_SEP contract (they glue words), and
        # edge tabs are separators but not trimmed by .strip(' ').
        (4, "\tlow new　low er low\t"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens_ws, r.n_tokens_bpe)
        for r in bpe_encode(df, merges).collect()
    }
    from pac_data_pipeline_spark.ext.text import py_tokens

    for doc_id, text in docs:
        words = py_tokens(text)
        assert got[doc_id] == (
            len(words),
            sum(ref_n_syms(w) for w in words),
        ), (doc_id, text)
    # merges really fire: 'low' collapses below its char count
    assert got[0][1] < len("lowlowerlowest")


def test_ngram_lm_score_matches_hand_computation(spark):
    """Pin the add-k bigram LM against a from-scratch Python
    reference on a tiny corpus (counts and smoothing computed by
    hand-equivalent code, not by the operator)."""
    import math
    from collections import Counter

    from pac_data_pipeline_spark.ext.text import ngram_lm_score

    corpus = {
        0: "the cat sat on the mat",
        1: "the dog sat",
        2: "cat",              # 1 token -> no bigrams -> dropped
        3: "THE CAT sat",      # ascii folding applies
    }
    df = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_bigrams, r.avg_nll)
        for r in ngram_lm_score(df, k=0.5).collect()
    }

    toks = {d: t.lower().split() for d, t in corpus.items()}
    uni = Counter(w for ws in toks.values() for w in ws)
    big = Counter(
        (a, b) for ws in toks.values() for a, b in zip(ws, ws[1:])
    )
    v = len(uni)
    for d, ws in toks.items():
        pairs = list(zip(ws, ws[1:]))
        if not pairs:
            assert d not in got
            continue
        nll = [
            -math.log((big[p] + 0.5) / (uni[p[0]] + 0.5 * v))
            for p in pairs
        ]
        assert got[d][0] == len(pairs)
        assert abs(got[d][1] - round(sum(nll) / len(nll), 3)) <= 1e-9, d
    # a doc made of corpus-frequent bigrams scores better (lower
    # nll) than one whose bigrams occur nowhere else in the corpus
    weird = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the dog sat on the mat"),
            (2, "the cat sat on the rug"),
            (3, "zzz qqq xxx yyy www vvv"),
        ],
        "doc_id long, text string",
    )
    s = {r.doc_id: r.avg_nll for r in ngram_lm_score(weird).collect()}
    assert max(s[0], s[1], s[2]) < s[3]


def test_ascii_lower_contract_vs_duckdb():
    """The ascii_lower fold must agree byte-for-byte with DuckDB's
    translate() on the exact strings where engine lower() diverges
    (final sigma, dotted İ) — the probe strings now baked into the
    unicode fuzz corpus."""
    import duckdb

    from pac_data_pipeline_spark.ext.text import (
        _ASCII_LOWER,
        _ASCII_UPPER,
    )

    con = duckdb.connect()
    for s in ["ΣΟΦΟΣ", "İstanbul", "THE Cat", "ǅ X ß ½"]:
        duck = con.execute(
            "SELECT translate(?, ?, ?)", [s, _ASCII_UPPER, _ASCII_LOWER]
        ).fetchone()[0]
        py = s.translate(str.maketrans(_ASCII_UPPER, _ASCII_LOWER))
        assert duck == py, s


def test_g711_codecs_exhaustive():
    """G.711 μ-law/A-law verified over their ENTIRE domains: every
    8-bit code round-trips compress(expand(code)) == code (μ-law's
    one exception is the spec's ±0 ambiguity, 0x7F → 0 → 0xFF), and
    every int16 sample re-compresses stably with bounded
    quantization error."""
    import numpy as np

    from pac_data_pipeline_spark.ext.multimodal import (
        alaw_compress,
        alaw_expand,
        mulaw_compress,
        mulaw_expand,
    )

    codes = np.arange(256, dtype=np.uint8)
    ac = alaw_compress(alaw_expand(codes))
    assert (ac == codes).all()
    mc = mulaw_compress(mulaw_expand(codes))
    mismatch = np.nonzero(mc != codes)[0]
    assert list(mismatch) == [0x7F]  # negative zero -> positive zero
    assert mulaw_expand(np.array([0x7F], dtype=np.uint8))[0] == 0

    x = np.arange(-32768, 32768, dtype=np.int16)
    for comp, exp, max_err in [
        (mulaw_compress, mulaw_expand, 1024),
        (alaw_compress, alaw_expand, 1024),
    ]:
        y = exp(comp(x))
        err = np.abs(y.astype(np.int32) - x.astype(np.int32))
        assert err.max() <= max_err
        # value-stable re-encode (μ-law ±0 codes both decode to 0,
        # so compare decoded values, not raw codes)
        assert (exp(comp(y)) == y).all()


def test_wav_g711_container_roundtrip(spark):
    """encode_wav/decode_wav over all three format tags: dims exact,
    G.711 within quantization; audio_features decodes a mixed-format
    media table for real."""
    import numpy as np

    from pac_data_pipeline_spark.ext.multimodal import (
        audio_features,
        audio_media_from_documents,
        decode_wav,
        encode_wav,
    )

    sr = 8000
    t = np.arange(800) / sr
    sig = (10000 * np.sin(2 * np.pi * 440 * t)).astype(np.int16)
    for enc, tol in [("pcm", 0), ("mulaw", 256), ("alaw", 256)]:
        srr, out = decode_wav(encode_wav(sr, sig, encoding=enc))
        assert srr == sr and len(out) == len(sig)
        assert np.abs(out.astype(int) - sig.astype(int)).max() <= tol, enc

    rows = audio_features(
        audio_media_from_documents(_docs(spark), encoding="mixed")
    ).collect()
    assert len(rows) == 5
    assert all(r.decoded for r in rows)
    # G.711 quantization must not move RMS of a loud sine by >2%
    pcm_rows = audio_features(
        audio_media_from_documents(_docs(spark), encoding="pcm")
    ).collect()
    rms_mixed = {r.doc_id: r.rms for r in rows}
    rms_pcm = {r.doc_id: r.rms for r in pcm_rows}
    for d in rms_pcm:
        assert abs(rms_mixed[d] - rms_pcm[d]) / rms_pcm[d] < 0.02, d


def test_square_waveform_features_are_closed_form(spark):
    """The square waveform (the hash-exact oracle path): every
    decoded sample magnitude must equal the G.711 round-trip
    constant of A=12000 per encoding, and duration/RMS/zero-cross
    must match the closed-form rationals the DuckDB oracle
    recomputes — checked here against an INDEPENDENT derivation
    (explicit expand(compress(A)) calls + the hp flip-count
    formula), not the SQL."""
    import numpy as np

    from pac_data_pipeline_spark.ext.multimodal import (
        alaw_compress,
        alaw_expand,
        audio_features,
        audio_media_from_documents,
        mulaw_compress,
        mulaw_expand,
    )

    docs = spark.createDataFrame(
        [(d,) for d in (0, 1, 2, 7, 123, 399)], "doc_id long"
    )
    rows = {
        r.doc_id: r
        for r in audio_features(
            audio_media_from_documents(
                docs, encoding="mixed", waveform="square"
            )
        ).collect()
    }
    amp_of = {
        0: 12000,
        1: int(mulaw_expand(mulaw_compress(np.array([12000], np.int16)))[0]),
        2: int(alaw_expand(alaw_compress(np.array([12000], np.int16)))[0]),
    }
    for d, r in rows.items():
        freq = 200 + d % 200
        n = 800 + (d % 5) * 400
        hp = 8000 // (2 * freq)
        assert r.decoded and r.sample_rate == 8000 and r.n_samples == n
        assert r.duration_s == round(n / 8000, 6), d
        assert r.rms == round(amp_of[d % 3] / 32768.0, 6), d
        assert r.zero_cross_rate == round(((n - 1) // hp) / (n - 1), 6), d


def test_tiff_decode_hand_built():
    """Pin decode_tiff against a TIFF assembled BY HAND (not
    encode_tiff): 2x1 RGB, strip data placed AFTER the IFD and the
    bits-per-sample array out-of-line — exercising offset handling,
    not just the encoder's own layout."""
    import struct

    import numpy as np

    from pac_data_pipeline_spark.ext.multimodal import decode_tiff

    def entry(tag, typ, count, value):
        return struct.pack("<HHII", tag, typ, count, value)

    # layout: header(8) | IFD | bits array(6) | pixels(6)
    n_entries = 9
    ifd_off = 8
    ifd_size = 2 + 12 * n_entries + 4
    bits_off = ifd_off + ifd_size
    pix_off = bits_off + 6
    entries = (
        entry(256, 4, 1, 2)
        + entry(257, 4, 1, 1)
        + entry(258, 3, 3, bits_off)
        + entry(259, 3, 1, 1)
        + entry(262, 3, 1, 2)
        + entry(273, 4, 1, pix_off)
        + entry(277, 3, 1, 3)
        + entry(278, 4, 1, 1)
        + entry(279, 4, 1, 6)
    )
    payload = (
        b"II*\x00" + struct.pack("<I", ifd_off)
        + struct.pack("<H", n_entries) + entries + struct.pack("<I", 0)
        + struct.pack("<HHH", 8, 8, 8)
        + bytes([255, 0, 10, 0, 255, 20])  # (255,0,10) (0,255,20)
    )
    w, h, px = decode_tiff(payload)
    assert (w, h) == (2, 1)
    expect = np.array([[[255, 0, 10], [0, 255, 20]]], dtype=np.uint8)
    assert (px == expect).all()


def test_tiff_encode_decode_exact_roundtrip():
    """Uncompressed TIFF is lossless: exact pixel equality, plus
    loud rejection of big-endian and truncated files."""
    import numpy as np

    from pac_data_pipeline_spark.ext.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    for w, hgt, seed in [(5, 3, b"abcdefg"), (1, 1, b"\xff"), (24, 24, bytes(range(256)))]:
        dw, dh, px = decode_tiff(encode_tiff(w, hgt, seed))
        assert (dw, dh) == (w, hgt)
        s = np.frombuffer(seed, dtype=np.uint8)
        expect = np.tile(s, (w * hgt * 3) // len(s) + 1)[: w * hgt * 3]
        assert (px == expect.reshape(hgt, w, 3)).all(), (w, hgt)
    with pytest.raises(ValueError, match="big-endian"):
        decode_tiff(b"MM\x00*" + bytes(20))
    with pytest.raises(ValueError):
        decode_tiff(encode_tiff(4, 4, b"x")[:-10])


def test_avi_encode_decode_exact_roundtrip():
    """Uncompressed AVI is lossless: every frame decodes back to
    exact pixel equality, the demuxer's geometry matches the mux
    inputs, and the idx1 index agrees with the movi walk."""
    import numpy as np

    from pac_data_pipeline_spark.ext.avi import (
        decode_avi_frame,
        encode_avi,
        parse_avi,
    )

    rng = np.random.default_rng(7)
    for w, h, n in [(5, 3, 4), (1, 1, 1), (16, 9, 3)]:
        frames = [
            rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            for _ in range(n)
        ]
        payload = encode_avi(frames, fps=25)
        stream = parse_avi(payload)
        assert (stream.width, stream.height, stream.n_frames) == (w, h, n)
        for i, fr in enumerate(frames):
            assert (decode_avi_frame(payload, stream, i) == fr).all(), (w, h, i)


def test_mjpeg_avi_roundtrip_spec_built():
    """Motion-JPEG AVI: the demuxer reports codec 'mjpg' and the
    strf geometry, every sampled frame survives a FULL baseline-JPEG
    entropy decode (Huffman + dequantize + IDCT) at the exact
    declared dimensions, and the lossy reconstruction stays within
    the quantization error band on smooth content. A frame whose
    JPEG dimensions contradict the stream geometry raises (lying
    header ≠ fallback), and an inter-frame biCompression raises."""
    import struct

    import numpy as np
    import pytest as _pytest

    from pac_data_pipeline_spark.ext.avi import (
        decode_avi_frame,
        encode_mjpeg_avi,
        parse_avi,
    )

    h, w = 13, 11
    y, x = np.mgrid[0:h, 0:w]
    frames = [
        np.stack(
            [(x * 20 + f * 30) % 256, (y * 15) % 256, ((x + y) * 10) % 256],
            axis=2,
        ).astype(np.uint8)
        for f in range(3)
    ]
    payload = encode_mjpeg_avi(frames, fps=10)
    stream = parse_avi(payload)
    assert (stream.codec, stream.width, stream.height, stream.n_frames) == (
        "mjpg", w, h, 3,
    )
    # per-frame spans differ (entropy-coded sizes vary) — proof the
    # chunks really are independent bitstreams, not a shared blob
    assert len({s for _, s in stream.frame_spans}) >= 1
    for i, fr in enumerate(frames):
        px = decode_avi_frame(payload, stream, i)
        assert px.shape == (h, w, 3)
        mae = np.abs(px.astype(int) - fr.astype(int)).mean()
        assert mae < 8.0, (i, mae)
    # geometry lie: shrink the declared strf width by one — the
    # decoded JPEG dimensions must contradict it loudly
    strf_at = payload.index(b"strf")
    bad = bytearray(payload)
    struct.pack_into("<i", bad, strf_at + 8 + 4, w - 1)
    with _pytest.raises(ValueError, match="!= stream"):
        s2 = parse_avi(bytes(bad))
        decode_avi_frame(bytes(bad), s2, 0)
    # inter-frame biCompression (VP80) refused at demux
    vp8 = bytearray(payload)
    struct.pack_into(
        "<I", vp8, strf_at + 8 + 16, struct.unpack("<I", b"VP80")[0]
    )
    with _pytest.raises(ValueError, match="biCompression"):
        parse_avi(bytes(vp8))


def test_avi_demux_rejects_bad_inputs():
    """The honest-stub boundary: compressed streams, lying indexes,
    mixed frame sizes, and non-AVI bytes all raise loudly instead of
    producing fake pixels."""
    import numpy as np
    import pytest as _pytest

    from pac_data_pipeline_spark.ext.avi import encode_avi, parse_avi

    frame = np.zeros((3, 4, 3), dtype=np.uint8)
    payload = encode_avi([frame, frame])

    with _pytest.raises(ValueError, match="not an AVI"):
        parse_avi(b"RIFF\x04\x00\x00\x00WAVE")
    with _pytest.raises(ValueError, match="one frame size"):
        encode_avi([frame, np.zeros((4, 4, 3), dtype=np.uint8)])
    # flip the strh handler fourcc to an inter-frame codec
    compressed = payload.replace(b"vidsDIB ", b"vidsH264")
    with _pytest.raises(ValueError, match="inter-frame AVI codec"):
        parse_avi(compressed)
    # corrupt idx1: drop one 16-byte entry so it disagrees with movi
    idx_at = payload.rindex(b"idx1")
    (idx_size,) = __import__("struct").unpack_from("<I", payload, idx_at + 4)
    bad = bytearray(payload)
    __import__("struct").pack_into("<I", bad, idx_at + 4, idx_size - 16)
    with _pytest.raises(ValueError, match="idx1 disagrees"):
        parse_avi(bytes(bad[: idx_at + 8 + idx_size - 16]))


def test_extract_features_decodes_avi_first_frame(spark):
    """Video payloads flow through the same pixel-derived feature
    path as images: width/height in the feature come from the
    decoded first frame, decoded=true."""
    from pac_data_pipeline_spark.ext.multimodal import (
        extract_features,
        video_media_from_documents,
    )

    media = video_media_from_documents(_docs(spark))
    rows = extract_features(media).collect()
    assert rows and all(r.decoded for r in rows)
    for r in rows:
        assert r.width == 4 + r.doc_id % 5
        assert r.height == 4 + (r.doc_id * 3) % 5
        assert r.feature[0] == float(r.width)
        assert r.feature[1] == float(r.height)


def test_webp_encode_decode_roundtrip_all_transforms():
    """VP8L is lossless: exact pixel equality through every encoder
    transform combination (none / subtract-green / predictor /
    both), random pixels, plus the simple-code path on a constant
    image."""
    import numpy as np

    from pac_data_pipeline_spark.ext.webp import decode_webp, encode_webp

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (3, 5), (16, 9), (24, 17)]:
        for kw in [
            {},
            {"subtract_green": True},
            {"predictor": True},
            {"subtract_green": True, "predictor": True},
        ]:
            img = rng.integers(0, 256, size=(h, w, 4), dtype=np.uint8)
            dw, dh, out = decode_webp(encode_webp(img, **kw))
            assert (dw, dh) == (w, h)
            assert (out == img).all(), (h, w, kw)
    flat = np.full((6, 6, 4), 77, dtype=np.uint8)
    _, _, out = decode_webp(encode_webp(flat))
    assert (out == flat).all()


def test_webp_lz77_and_color_cache_hand_built():
    """Spec-level bitstream: a hand-assembled VP8L stream using LZ77
    backward references (linear distance) and a color cache — decoder
    paths the literal-only encoder never emits."""
    import numpy as np

    from pac_data_pipeline_spark.ext import webp as W

    px0, px1 = 0xFF010203, 0xFF040506
    idx0 = W._cache_hash(px0, 4)
    assert idx0 != W._cache_hash(px1, 4)  # no collision in this fixture

    bw = W._BitWriter()
    bw.write_bits(0x2F, 8)
    bw.write_bits(6 - 1, 14)  # width 6
    bw.write_bits(1 - 1, 14)  # height 1
    bw.write_bits(0, 1)       # alpha hint
    bw.write_bits(0, 3)       # version
    bw.write_bits(0, 1)       # no transforms
    bw.write_bits(1, 1)       # color cache present
    bw.write_bits(4, 4)       # cache_bits = 4
    bw.write_bits(0, 1)       # no meta prefix
    g = W._write_prefix_code(
        bw, {2: 2, 5: 2, 257: 2, 280 + idx0: 2}, 280 + 16
    )
    r = W._write_prefix_code(bw, {1: 1, 4: 1}, 256)
    b = W._write_prefix_code(bw, {3: 1, 6: 1}, 256)
    a = W._write_prefix_code(bw, {255: 1}, 256)
    d = W._write_prefix_code(bw, {13: 1}, 40)

    def emit(table, sym):
        bw.write_code(*table[sym])

    emit(g, 2); emit(r, 1); emit(b, 3)          # literal px0
    emit(g, 5); emit(r, 4); emit(b, 6)          # literal px1
    emit(g, 257)                                 # LZ77 length 2
    emit(d, 13); bw.write_bits(25, 5)           # dist_code 122 → dist 2
    emit(g, 280 + idx0)                          # cache hit → px0
    emit(g, 2); emit(r, 1); emit(b, 3)          # literal px0 again

    w_, h_, out = W.decode_vp8l(bw.tobytes())
    assert (w_, h_) == (6, 1)
    argb = (
        out[..., 3].astype(np.uint32) << 24
        | out[..., 0].astype(np.uint32) << 16
        | out[..., 1].astype(np.uint32) << 8
        | out[..., 2].astype(np.uint32)
    ).reshape(-1)
    assert list(argb) == [px0, px1, px0, px1, px0, px0]


def test_webp_color_indexing_hand_built():
    """Spec-level bitstream: palette (color-indexing) transform with
    sub-byte pixel bundling (3 colors → 2-bit indices, 4 px/packed
    pixel) and the componentwise delta coding of palette entries."""
    import numpy as np

    from pac_data_pipeline_spark.ext import webp as W

    colors = [0xFF102030, 0xFF405060, 0xFF708090]
    indices = [0, 1, 2, 1, 0]  # 5-pixel row

    def delta(cur, prev):
        return (
            (((cur >> 24) - (prev >> 24)) & 0xFF) << 24
            | ((((cur >> 16) & 0xFF) - ((prev >> 16) & 0xFF)) & 0xFF) << 16
            | ((((cur >> 8) & 0xFF) - ((prev >> 8) & 0xFF)) & 0xFF) << 8
            | (((cur & 0xFF) - (prev & 0xFF)) & 0xFF)
        )

    bw = W._BitWriter()
    bw.write_bits(0x2F, 8)
    bw.write_bits(5 - 1, 14)
    bw.write_bits(1 - 1, 14)
    bw.write_bits(0, 1)
    bw.write_bits(0, 3)
    bw.write_bits(1, 1)                  # transform present
    bw.write_bits(W._COLOR_INDEXING, 2)
    bw.write_bits(3 - 1, 8)              # 3 palette colors
    pal_deltas = [colors[0]] + [
        delta(colors[i], colors[i - 1]) for i in (1, 2)
    ]
    W._encode_sub_image(bw, np.array(pal_deltas, dtype=np.uint32))
    bw.write_bits(0, 1)                  # end of transforms
    packed = [
        (indices[0] | indices[1] << 2 | indices[2] << 4 | indices[3] << 6)
        << 8,
        indices[4] << 8,
    ]
    W._encode_sub_image(
        bw, np.array(packed, dtype=np.uint32), top_level=True
    )

    w_, h_, out = W.decode_vp8l(bw.tobytes())
    assert (w_, h_) == (5, 1)
    argb = (
        out[..., 3].astype(np.uint32) << 24
        | out[..., 0].astype(np.uint32) << 16
        | out[..., 1].astype(np.uint32) << 8
        | out[..., 2].astype(np.uint32)
    ).reshape(-1)
    assert list(argb) == [colors[i] for i in indices]


def test_webp_color_transform_hand_built():
    """Spec-level bitstream: the color transform with g2r = 32
    (Q5 multiplier 1.0), so decoded red must equal residual_red +
    green, channel-exact."""
    import numpy as np

    from pac_data_pipeline_spark.ext import webp as W

    orig = [0xFF203040, 0xFF507080]  # a r g b
    residuals = []
    for px in orig:
        g = (px >> 8) & 0xFF
        red_res = (((px >> 16) & 0xFF) - g) & 0xFF  # inverse adds (32*g)>>5 ≡ g
        residuals.append((px & 0xFF00FFFF) | (red_res << 16))

    bw = W._BitWriter()
    bw.write_bits(0x2F, 8)
    bw.write_bits(2 - 1, 14)
    bw.write_bits(1 - 1, 14)
    bw.write_bits(0, 1)
    bw.write_bits(0, 3)
    bw.write_bits(1, 1)               # transform present
    bw.write_bits(W._COLOR, 2)
    bw.write_bits(9 - 2, 3)           # 512-px tiles: one tile
    W._encode_sub_image(bw, np.array([32], dtype=np.uint32))  # g2r=32
    bw.write_bits(0, 1)               # end of transforms
    W._encode_sub_image(
        bw, np.array(residuals, dtype=np.uint32), top_level=True
    )

    _, _, out = W.decode_vp8l(bw.tobytes())
    argb = (
        out[..., 3].astype(np.uint32) << 24
        | out[..., 0].astype(np.uint32) << 16
        | out[..., 1].astype(np.uint32) << 8
        | out[..., 2].astype(np.uint32)
    ).reshape(-1)
    assert list(argb) == orig


def test_webp_rejects_bad_inputs():
    """The honest-stub boundary: lossy VP8 refused with a pointer to
    _decode_real, non-WebP bytes, bad VP8L signature/version, and
    truncated streams all raise ValueError."""
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from pac_data_pipeline_spark.ext.webp import (
        decode_vp8l,
        decode_webp,
        encode_webp,
    )

    with _pytest.raises(ValueError, match="not a WEBP"):
        decode_webp(b"RIFF\x04\x00\x00\x00WAVE")
    lossy = (
        b"RIFF" + _struct.pack("<I", 16) + b"WEBP"
        + b"VP8 " + _struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    )
    with _pytest.raises(ValueError, match="lossy WebP"):
        decode_webp(lossy)
    with _pytest.raises(ValueError, match="signature"):
        decode_vp8l(b"\x00\x00\x00\x00")
    rng = np.random.default_rng(5)
    good = encode_webp(rng.integers(0, 256, size=(8, 8, 4), dtype=np.uint8))
    with _pytest.raises(ValueError):
        decode_webp(good[: len(good) // 2])


def test_sentence_stats_edges(spark):
    """Segmentation contract edges: no terminators (whole doc = one
    sentence), empty/null text, terminator-only text, and multi-
    terminator runs collapsing to one boundary."""
    from pac_data_pipeline_spark.ext.text import sentence_stats

    df = spark.createDataFrame(
        [
            (0, "One two three. Four five! Six?"),
            (1, "no terminators here at all"),
            (2, ""),
            (3, None),
            (4, "!!!???..."),
            (5, "a.. b!? c"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_sentences, r.avg_sentence_tokens,
                   r.max_sentence_tokens)
        for r in sentence_stats(df).collect()
    }
    assert got[0] == (3, 2.0, 3)       # "One two three" is longest
    assert got[1] == (1, 5.0, 5)
    assert got[2] == (0, None, 0)
    assert got[3] == (0, None, 0)
    assert got[4] == (0, None, 0)
    assert got[5] == (3, 1.0, 1)


def test_codec_dispatch_survives_corrupt_payloads(spark):
    """One malformed payload must never kill a Spark task: fuzzing
    showed truncated / bit-flipped media can raise struct.error,
    IndexError, or KeyError from deep inside a decoder (not just the
    documented ValueError), so the dispatch sites catch the full
    _CODEC_ERRORS tuple. extract_features falls back to the
    byte-hash feature (decoded=false), frame_sample and
    audio_features skip the document."""
    from pac_data_pipeline_spark.ext.multimodal import (
        audio_features,
        audio_media_from_documents,
        extract_features,
        frame_sample,
        mixed_media_from_documents,
        video_media_from_documents,
    )

    docs = _docs(spark)

    def corrupt(media, col="content"):
        # deterministic damage: drop the tail AND flip a mid-file
        # byte, keeping the magic bytes so dispatch enters the codec
        return media.withColumn(
            col,
            F.when(
                F.col("doc_id") % 2 == 0,
                F.expr(f"substring({col}, 1, int(length({col}) / 2))"),
            ).otherwise(
                F.concat(
                    F.expr(f"substring({col}, 1, 12)"),
                    F.lit(b"\xff\x00\xff\x00"),
                    F.expr(f"substring({col}, 17, length({col}))"),
                )
            ),
        )

    feats = extract_features(corrupt(mixed_media_from_documents(docs))).collect()
    assert len(feats) == 5  # every doc produced a row, no task death
    assert all(r.feature is not None for r in feats)

    # video: parse_avi / decode_avi_frame raise struct.error on these
    frame_sample(corrupt(video_media_from_documents(docs)), every_n=1).collect()

    rows = audio_features(
        corrupt(audio_media_from_documents(docs), col="audio")
    ).collect()
    assert len(rows) == 5


def test_html_extract_contract_edges(spark):
    """Pin the extraction contract's tricky clauses: script/style
    dropped WITH content (case-insensitive, across newlines, sibling
    blocks not merged), tags become spaces (no glued words), the
    fixed entity order decodes double-escaped input exactly once
    (&amp;lt; -> literal &lt;), and ASCII whitespace collapses."""
    from pac_data_pipeline_spark.ext.html import html_extract

    rows = [
        (0, "<p>a</p><p>b</p>"),                      # tag boundary = space
        (1, "<SCRIPT>var x = '<p>hi</p>';</SCRIPT>ok"),  # case + nested markup
        (2, "<script>a()</script>keep<script>b()</script>"),  # siblings
        (3, "<style>\nbody { color: red; }\n</style>text"),   # multiline
        (4, "Tom &amp; Jerry &amp;lt;once&amp;gt; &lt;twice&gt;"),
        (5, "a\n\n\t b&nbsp;&nbsp;c"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {r.doc_id: r for r in html_extract(df).collect()}
    assert got[0].extracted == "a b"
    assert got[1].extracted == "ok"
    assert got[2].extracted == "keep"
    assert got[3].extracted == "text"
    # &amp;lt; decodes ONCE to the literal text "&lt;"; real &lt; to "<"
    assert got[4].extracted == "Tom & Jerry &lt;once&gt; <twice>"
    assert got[5].extracted == "a b c"
    assert got[6].extracted is None and got[6].n_chars is None
    assert got[0].n_chars == 3


def test_html_wrap_extract_roundtrip_and_plan(spark):
    """Wrapping then extracting recovers the original text (plus the
    deterministic page boilerplate), and the whole pipeline is a
    shuffle-free JVM projection: no Exchange, no Python eval —
    one FileScan + Project at any corpus size."""
    from pac_data_pipeline_spark.ext.html import html_extract, html_wrap

    docs = _docs(spark)
    out = html_extract(html_wrap(docs))
    base = {r.doc_id: r.text for r in docs.collect()}
    for r in out.collect():
        assert base[r.doc_id] in r.extracted
        assert f"Document {r.doc_id}" in r.extracted      # h1 survives
        assert "track(trackerId)" not in r.extracted      # script dropped
        assert "margin" not in r.extracted                # style dropped
        assert '"hello"' in r.extracted                   # &quot; decoded
        assert "&lt;escaped&gt; stays text" in r.extracted  # decoded once
    p = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert "Exchange" not in p, p
    assert "EvalPython" not in p, p


def test_html_links_edges_and_rollup(spark):
    """Link harvesting: every double-quoted href captured (any
    attribute case), domain derived only for absolute http(s) URLs
    ('' for relative — both engines return '' on regex no-match),
    and the per-domain rollup counts links and distinct docs."""
    from pac_data_pipeline_spark.ext.html import (
        html_links,
        html_links_domain_rollup,
        html_wrap,
    )

    df = spark.createDataFrame(
        [
            (0, '<a HREF="https://a.example.com/x">u</a>'
                '<a href="/rel">v</a>'
                '<link href="https://a.example.com/css">'),
            (1, "no links here"),
        ],
        "doc_id long, html string",
    )
    links = html_links(df).collect()
    assert len(links) == 3  # doc 1 contributes nothing
    by_url = {r.url: r.domain for r in links}
    assert by_url == {
        "https://a.example.com/x": "a.example.com",
        "/rel": "",
        "https://a.example.com/css": "a.example.com",
    }

    # synthetic wrap: nav 2 relative + 1 local + 1 site{id%7} link
    docs = _docs(spark)  # doc_ids 0..4
    roll = {
        r.domain: r
        for r in html_links_domain_rollup(
            html_links(html_wrap(docs))
        ).collect()
    }
    assert roll[""].n_links == 15 and roll[""].n_docs == 5
    for d in range(5):
        dom = f"site{d % 7}.example.com"
        assert roll[dom].n_links == 1 and roll[dom].n_docs == 1


def test_url_normalize_contract(spark):
    """Pin each clause of the canonicalization contract, including
    the load-bearing three-pass utm order (C strips every non-leading
    &utm_ so at most one LEADING utm remains; A turns ?utm_…& into ?;
    B deletes a lone trailing ?utm_…)."""
    from pac_data_pipeline_spark.ext.html import url_normalize_col

    cases = [
        # scheme/host fold + default port + trailing utms + fragment
        ("HTTPS://Site3.Example.COM:443/doc/8?id=8&utm_source=f#frag",
         "https://site3.example.com/doc/8?id=8"),
        # leading utm pair strips to nothing (C then B)
        ("http://M.org:80/d?utm_ref=a&utm_b=c", "http://m.org/d"),
        # leading utm with surviving successor (C no-op, A fires)
        ("https://c.net/s?utm_x=1&page=2", "https://c.net/s?page=2"),
        # THREE leading utms then a keeper: C strips two, A one
        ("https://c.net/s?utm_a=1&utm_b=2&utm_c=3&k=v",
         "https://c.net/s?k=v"),
        # relative: no scheme fold, utm + fragment still stripped
        ("/rel/p?utm_z=9#x", "/rel/p"),
        # path/query case preserved; non-default port kept
        ("https://H.io:8443/Path?Q=UPPER", "https://h.io:8443/Path?Q=UPPER"),
        # dangling ? cleanup
        ("https://a.io/p?", "https://a.io/p"),
        # already canonical: unchanged
        ("https://plain.example.com/7", "https://plain.example.com/7"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    got = {
        r.i: r.n
        for r in df.select(
            "i", url_normalize_col(F.col("url")).alias("n")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i][0], got[i], want)


def test_inverted_index_champion_lists(spark):
    """df counts every posting document; the champion list is the k
    SMALLEST doc ids (deterministic, unlike first-k-seen); and the
    two-stage salted merge is lossless — any salt_buckets value
    yields identical results (min-k composes across partial merges)."""
    from pac_data_pipeline_spark.ext.text import inverted_index

    rows = [(i, "the quick fox" if i % 2 == 0 else "the slow Fox")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = {r.term: r for r in inverted_index(df, max_postings=4).collect()}
    assert out["the"].df == 40
    assert sorted(out["the"].postings) == [0, 1, 2, 3]  # 4 smallest of 40
    assert out["fox"].df == 40  # Fox folds to fox under ascii_lower
    assert out["quick"].df == 20
    assert out["quick"].postings == [0, 2, 4, 6]
    assert out["slow"].postings == [1, 3, 5, 7]

    for buckets in (1, 7):
        alt = {
            r.term: (r.df, list(r.postings))
            for r in inverted_index(
                df, max_postings=4, salt_buckets=buckets
            ).collect()
        }
        assert alt == {
            t: (r.df, list(r.postings)) for t, r in out.items()
        }


def test_pagerank_hand_computed(spark):
    """4-node cycle 0->1->2->3->0 plus a chord 0->2: ranks must sum
    to ~1 (no dangling nodes) and every value must equal a
    hand-rolled synchronous-update reference with the same
    per-iteration rounding; the functional fixture must be
    self-consistent (dedup + no self-loops)."""
    from pac_data_pipeline_spark.ext.graph import functional_edges, pagerank

    nodes = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)], "src long, dst long"
    )
    got = {r.doc_id: r.rank for r in pagerank(nodes, edges).collect()}
    assert len(got) == 4
    assert abs(sum(got.values()) - 1.0) < 1e-6
    # hand-rolled reference: same sync updates, same per-iter rounding
    ranks = {v: round(1 / 4, 12) for v in range(4)}
    out = {0: 2, 1: 1, 2: 1, 3: 1}
    ins = {1: [0], 2: [0, 1], 3: [2], 0: [3]}
    for _ in range(3):
        ranks = {
            v: round(
                0.15 / 4 + 0.85 * sum(ranks[u] / out[u] for u in ins[v]), 12
            )
            for v in range(4)
        }
    for v in range(4):
        assert got[v] == round(ranks[v], 8), (v, got[v], ranks[v])

    fe = functional_edges(nodes).collect()
    assert all(r.src != r.dst for r in fe)
    assert len({(r.src, r.dst) for r in fe}) == len(fe)


def test_luhn_card_scan(spark):
    """Canonical Luhn vectors (4111111111111111 valid, last digit
    bumped invalid, 79927398713 the ISO example); 20+-digit runs are
    NOT candidates (ids/hashes); candidates are maximal digit runs,
    so two cards separated by a SINGLE non-digit both surface (the
    consuming-boundary regex blind spot, ADVICE r5); NULL text
    yields NULL counts (not zero — unknown, not absent)."""
    from pac_data_pipeline_spark.ext.text import card_scan, luhn_valid_col

    lv = spark.createDataFrame(
        [("4111111111111111",), ("4111111111111112",), ("79927398713",)],
        "s string",
    )
    vals = [r.v for r in lv.select(luhn_valid_col(F.col("s")).alias("v")).collect()]
    assert vals == [True, False, True]

    t = spark.createDataFrame(
        [
            (0, "pay 4111111111111111 or 4111111111111112 now"),
            (1, "decoy 12345678901234567890 only"),
            (2, "edge4111111111111111"),  # digit-adjacent? 'e' boundary ok
            (3, None),
            # single-separator adjacency: both are valid cards and
            # BOTH must be candidates (the old regex found only one)
            (4, "4111111111111111,4012888888881881"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in card_scan(t).collect()}
    assert (got[0].n_candidates, got[0].n_valid, got[0].valid_digit_mass) == (2, 1, 16)
    assert (got[1].n_candidates, got[1].n_valid) == (0, 0)
    assert (got[2].n_candidates, got[2].n_valid) == (1, 1)
    assert got[3].n_candidates is None and got[3].n_valid is None
    assert (got[4].n_candidates, got[4].n_valid, got[4].valid_digit_mass) == (2, 2, 32)


def test_tokenizer_fertility(spark):
    """bytes/token vs chars/token must diverge exactly on multi-byte
    text (UTF-8 octets vs codepoints); NULL text drops; NULL lang is
    its own visible bucket; zero-token docs don't divide by zero."""
    from pac_data_pipeline_spark.ext.text import tokenizer_fertility

    df = spark.createDataFrame(
        [
            (0, "ab cd", "en"),        # 5 bytes, 5 chars, 2 tokens
            (1, "é ü", "de"),          # 2-byte chars: 5 bytes, 3 chars, 2 toks
            (2, "   ", "xx"),          # whitespace-only: 0 tokens
            (3, None, "en"),           # dropped
            (4, "one", None),          # NULL-lang bucket
        ],
        "doc_id long, text string, lang string",
    )
    got = {r.lang: r for r in tokenizer_fertility(df).collect()}
    assert got["en"].n_docs == 1  # NULL text dropped
    assert (got["en"].total_bytes, got["en"].total_tokens) == (5, 2)
    assert got["en"].bytes_per_token == 2.5
    assert (got["de"].total_bytes, got["de"].chars_per_token) == (5, 1.5)
    assert got["de"].bytes_per_token == 2.5
    assert got["xx"].total_tokens == 0
    assert got["xx"].bytes_per_token is None  # nullif, not div-by-zero
    assert got[None].n_docs == 1


def test_dhash_integer_contract():
    """_dhash_bits' engine-portable claims, property-checked:
    (1) its integer floor edges equal np.linspace().astype(int) for
    every plausible image side; (2) its cross-multiplied integer
    comparison equals exact-rational block-mean comparison (the
    mathematical dHash) on random images — the contract that lets
    the x_image_dhash oracle recompute bits in SQL."""
    from fractions import Fraction

    import numpy as np

    from pac_data_pipeline_spark.ext.multimodal import _dhash_bits

    for n in range(1, 80):
        assert np.linspace(0, n, 9).astype(int).tolist() == [
            r * n // 8 for r in range(9)
        ]
        assert np.linspace(0, n, 10).astype(int).tolist() == [
            c * n // 9 for c in range(10)
        ]

    rng = np.random.RandomState(7)
    for _ in range(25):
        h = int(rng.randint(4, 30))
        w = int(rng.randint(4, 30))
        px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        got = _dhash_bits(px) & (2**64 - 1)
        # exact-rational reference
        chsum = px.astype(int).sum(axis=2)
        he = [r * h // 8 for r in range(9)]
        we = [c * w // 9 for c in range(10)]
        means = [
            [
                Fraction(
                    int(
                        chsum[
                            he[r] : max(he[r + 1], he[r] + 1),
                            we[c] : max(we[c + 1], we[c] + 1),
                        ].sum()
                    ),
                    (max(he[r + 1], he[r] + 1) - he[r])
                    * (max(we[c + 1], we[c] + 1) - we[c]),
                )
                for c in range(9)
            ]
            for r in range(8)
        ]
        want = 0
        for r in range(8):
            for c in range(8):
                if means[r][c] > means[r][c + 1]:
                    want |= 1 << (r * 8 + c)
        assert got == want


def test_image_dhash_near_dup(spark):
    """Perceptual-hash pinning: identical images hash identically
    across formats of the same pixels is NOT required (different
    codecs, same bits is), small seed tweaks stay within a few
    Hamming bits (pooling absorbs them), structurally different
    images never pair, and undecodable payloads report
    decoded=false with NULL hash. Banding must find every pair the
    brute-force Hamming check finds (losslessness at ≤ bands-1)."""
    from pac_data_pipeline_spark.ext.multimodal import (
        dhash_near_dup,
        encode_bmp,
        image_dhash,
    )

    seed = bytes(range(64))
    tweak = bytearray(seed)
    tweak[5] ^= 0x04
    other = bytes([((i * 37) + 11) % 256 for i in range(64)])
    media = spark.createDataFrame(
        [
            (0, encode_bmp(32, 24, seed)),
            (1, encode_bmp(32, 24, seed)),       # identical
            (2, encode_bmp(32, 24, bytes(tweak))),  # near-identical
            (3, encode_bmp(32, 24, other)),      # different
            (4, b"not an image"),
        ],
        "doc_id long, content binary",
    )
    h = image_dhash(media)
    rows = {r.doc_id: r for r in h.collect()}
    assert rows[0].dhash == rows[1].dhash
    assert rows[4].dhash is None and rows[4].decoded is False
    assert bin((rows[0].dhash ^ rows[2].dhash) & (2**64 - 1)).count("1") <= 6
    assert bin((rows[0].dhash ^ rows[3].dhash) & (2**64 - 1)).count("1") > 6

    got = {(r.id_a, r.id_b) for r in dhash_near_dup(h, max_hamming=6).collect()}
    # brute-force reference over decoded hashes
    dec = {k: v.dhash for k, v in rows.items() if v.dhash is not None}
    want = {
        (a, b)
        for a in dec for b in dec if a < b
        and bin((dec[a] ^ dec[b]) & (2**64 - 1)).count("1") <= 6
    }
    assert got == want and (0, 1) in got and (0, 3) not in got


def test_html_anchors_url_text_pairing(spark):
    """href and inner text come from two same-pattern extraction
    passes zipped positionally — the pairing must never slip, inner
    markup/entities must clean out of the anchor text, and anchors
    without an href (no capture) must not appear."""
    from pac_data_pipeline_spark.ext.html import html_anchors

    df = spark.createDataFrame(
        [
            (0, '<a href="/a">first</a> mid <a href="/b"><b>second'
                '</b> link</a> <a name="x">no href</a>'),
            (1, '<a class="c" href="https://e.com/p">Tom &amp; co</a>'),
            (2, "no anchors"),
        ],
        "doc_id long, html string",
    )
    got = sorted(
        (r.doc_id, r.url, r.anchor_text)
        for r in html_anchors(df).collect()
    )
    assert got == [
        (0, "/a", "first"),
        (0, "/b", "second link"),
        (1, "https://e.com/p", "Tom & co"),
    ]


def test_triangle_counts_hand_computed(spark):
    """Two triangles sharing hub 0 — (0,1,2) and (0,3,4) — plus a
    dangling path edge 4-5: per-node participation must be hub=2,
    wings=1 each, and path-only nodes absent. Directed duplicates,
    reversed edges, and a self-loop must canonicalize away (the
    operator takes RAW directed edges)."""
    from pac_data_pipeline_spark.ext.graph import triangle_counts

    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    edges = spark.createDataFrame(
        [
            (0, 1), (1, 0),          # duplicate after canonicalization
            (0, 2), (1, 2),
            (0, 3), (0, 4), (3, 4),
            (4, 5),                  # not in any triangle
            (2, 2),                  # self-loop: dropped
        ],
        "src long, dst long",
    )
    got = {r.doc_id: r.n_triangles for r in
           triangle_counts(nodes, edges).collect()}
    assert got == {0: 2, 1: 1, 2: 1, 3: 1, 4: 1}


def test_khop_distances_hand_computed(spark):
    """Chain 0->1->2->3->4 with shortcut 0->3: seed set is
    doc_id%97==0 (node 0 only here); min-hop must take the shortcut
    (3 at hop 1, 4 at hop 2) and node 97-free vertices beyond 3 hops
    stay absent. Unreached node 5 must not appear."""
    from pac_data_pipeline_spark.ext.graph import khop_distances

    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3)],
        "src long, dst long",
    )
    got = {r.doc_id: r.hops for r in
           khop_distances(nodes, edges).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2}


def test_kmeans_hand_computed(spark):
    """Two 2-D blobs on the integer grid: ids 0,1 seed the two
    centroids; after the update step the centroids move to the blob
    means and every point lands with its blob. Fixed-point contract:
    quantized coords, exact integer distances, round-half-up means."""
    from pac_data_pipeline_spark.ext.kmeans import kmeans_assign

    rows = [
        (0, [0.0, 0.0]), (2, [0.001, 0.0]), (4, [0.0, 0.001]),
        (1, [1.0, 1.0]), (3, [0.999, 1.0]), (5, [1.0, 0.999]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: (r.cluster, r.dist) for r in
           kmeans_assign(df, k=2, n_iter=3).collect()}
    assert {v for v, (c, _) in out.items() if c == 0} == {0, 2, 4}
    assert {v for v, (c, _) in out.items() if c == 1} == {1, 3, 5}
    # blob-0 quantized coords are {(0,0),(1,0),(0,1)}; the grid mean
    # per dim is floor((2*1 + 3)/(2*3)) = 0, so the updated centroid
    # stays (0,0): id0 at distance 0, ids 2/4 at exact distance 1.
    assert out[0] == (0, 0) and out[2] == (0, 1) and out[4] == (0, 1)


def test_semantic_dedup_hand_computed(spark):
    """Two far-apart 2-D blobs; within blob A, ids 0/2 coincide on
    the grid (dup) and id 4 sits far outside the threshold; blob B
    has no close pairs. Greedy-by-id: dup_of is the SMALLEST
    qualifying smaller id; keepers carry NULL."""
    from pac_data_pipeline_spark.ext.kmeans import semantic_dedup

    rows = [
        (0, [0.0, 0.0]), (2, [0.0005, 0.0]),   # quantize together
        (4, [0.3, 0.3]),                        # same blob, far
        (1, [5.0, 5.0]), (3, [5.4, 5.4]),       # blob B, far apart
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r.dup_of for r in
           semantic_dedup(df, k=2, n_iter=2, threshold=1000).collect()}
    assert out == {0: None, 2: 0, 4: None, 1: None, 3: None}


def test_feature_hash_hand_computed(spark):
    """Repeated tokens accumulate in one bucket (same md5); counts
    sum to n_tokens; case folds under the ascii contract so 'The'
    and 'the' share a bucket; NULL text yields NULL features /
    n_tokens / nnz (unknown, not empty); empty text yields the
    all-zero vector with 0 tokens."""
    from pac_data_pipeline_spark.ext.text import feature_hash

    df = spark.createDataFrame(
        [(1, "The the the"), (2, "a b"), (3, None), (4, "   ")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in feature_hash(df, n_buckets=4).collect()}
    v1 = [int(c) for c in got[1].features.split(",")]
    assert sum(v1) == 3 and got[1].n_tokens == 3
    assert sorted(v1, reverse=True)[0] == 3 and got[1].nnz == 1
    v2 = [int(c) for c in got[2].features.split(",")]
    assert sum(v2) == 2 and got[2].nnz in (1, 2)
    assert got[3].features is None and got[3].n_tokens is None \
        and got[3].nnz is None
    assert got[4].features == "0,0,0,0" and got[4].n_tokens == 0 \
        and got[4].nnz == 0


def test_personalized_pagerank_hand_computed(spark):
    """Cycle 0->1->2->0 plus feeder 3->0, seed set {0} (id % 97):
    mass concentrates downstream of the seed via propagation only;
    node 3 has no in-edges and is not a seed, so it settles at
    exactly 0. Values equal a hand-rolled synchronous reference
    with the same per-iteration rounding."""
    from pac_data_pipeline_spark.ext.graph import personalized_pagerank

    nodes = spark.createDataFrame([(i,) for i in (0, 1, 2, 3)],
                                  "doc_id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 0)], "src long, dst long"
    )
    got = {r.doc_id: r.rank for r in
           personalized_pagerank(nodes, edges).collect()}
    # hand reference: seed set {0}; out-degree 1 everywhere
    ranks = {0: 1.0, 1: 0.0, 2: 0.0, 3: 0.0}
    ins = {0: [2, 3], 1: [0], 2: [1], 3: []}
    for _ in range(3):
        ranks = {
            v: round(
                (0.15 if v == 0 else 0.0)
                + 0.85 * sum(ranks[u] for u in ins[v]),
                12,
            )
            for v in ranks
        }
    for v in ranks:
        assert got[v] == round(ranks[v], 8), (v, got[v], ranks[v])
    assert got[3] == 0.0


def test_mmr_select_matches_greedy_reference(spark):
    """The whole greedy MMR trajectory must equal a plain-Python
    integer replay (same grid, same centroid, same scores, same
    tie-breaks) — and k > n yields exactly n picks, no phantom
    all-NULL rows from empty-frame aggregates."""
    import math
    import random

    from pac_data_pipeline_spark.ext.mmr import mmr_select

    rng = random.Random(31)
    dim, n, k = 6, 40, 8
    rows = [
        (i, [rng.uniform(-0.3, 0.3) for _ in range(dim)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # plain-Python replay — floats quantize through float32 first,
    # exactly like the array<float> column the operator reads
    import numpy as np

    q = {
        i: [int(math.floor(float(np.float32(x)) * 1000 + 0.5)) for x in v]
        for i, v in rows
    }
    cent = [
        int(math.floor((2 * sum(q[i][p] for i in q) + n) / (2 * n)))
        for p in range(dim)
    ]
    d = lambda a, b: sum((x - y) * (x - y) for x, y in zip(a, b))  # noqa: E731
    rel = {i: d(q[i], cent) for i in q}
    sel = [min(q, key=lambda i: (rel[i], i))]
    want = [(1, sel[0], rel[sel[0]], None)]
    for t in range(2, k + 1):
        rest = [i for i in q if i not in sel]
        div = {i: min(d(q[i], q[j]) for j in sel) for i in rest}
        best = max(rest, key=lambda i: (div[i] - rel[i], -i))
        sel.append(best)
        want.append((t, best, rel[best], div[best]))

    got = [
        (r.sel_rank, r.vid, r.rel_d, r.div_d)
        for r in mmr_select(df, k=k).orderBy("sel_rank").collect()
    ]
    assert got == want

    tiny = spark.createDataFrame(rows[:3], "vec_id long, embedding array<float>")
    picks = mmr_select(tiny, k=8).collect()
    assert len(picks) == 3
    assert sorted(r.sel_rank for r in picks) == [1, 2, 3]


def test_mmr_select_null_vector_element(spark):
    """A NULL vector element is a NULL literal in the next rounds'
    distance expressions, not a TypeError while the plan is built.
    SQL NULL semantics then decide the picks: the NULL-element
    vector's distances are NULL, NULL rel_d sorts first, the
    ``least`` fold skips NULL distances, and a round whose every
    score is NULL falls back to the smaller id."""
    import math

    import numpy as np

    from pac_data_pipeline_spark.ext.mmr import mmr_select

    rows = [
        (1, [0.1, 0.2, 0.3]),
        (2, [0.1, None, 0.3]),
        (3, [0.5, 0.1, -0.2]),
        (4, [-0.3, 0.0, 0.1]),
        (5, [0.2, 0.2, 0.2]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = [
        (r.sel_rank, r.vid, r.rel_d, r.div_d)
        for r in mmr_select(df, k=4).orderBy("sel_rank").collect()
    ]

    q = {
        i: [
            None if x is None
            else int(math.floor(float(np.float32(x)) * 1000 + 0.5))
            for x in v
        ]
        for i, v in rows
    }
    n = len(q)
    cent = [
        int(math.floor(
            (2 * sum(q[i][p] for i in q if q[i][p] is not None) + n)
            / (2 * n)
        ))
        for p in range(3)
    ]

    def d(a, b):
        if None in a or None in b:
            return None
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def nulls_first(v):
        return (v is not None, v or 0)

    rel = {i: d(q[i], cent) for i in q}
    sel = [min(q, key=lambda i: (nulls_first(rel[i]), i))]
    want = [(1, sel[0], rel[sel[0]], None)]
    for t in range(2, 5):
        rest = [i for i in q if i not in sel]
        div = {}
        for i in rest:
            ds = [x for x in (d(q[i], q[j]) for j in sel) if x is not None]
            div[i] = min(ds) if ds else None
        score = {
            i: None if div[i] is None or rel[i] is None else div[i] - rel[i]
            for i in rest
        }
        best = max(rest, key=lambda i: (nulls_first(score[i]), -i))
        sel.append(best)
        want.append((t, best, rel[best], div[best]))
    assert got == want
    assert got[0][1] == 2 and got[0][2] is None


def test_temperature_mixture_hamilton_exact(spark):
    """Mixture contract: allocations sum to EXACTLY the budget
    (Hamilton's method — float-share rounding can be off by
    |domains|), weights equal the plain-Python sqrt replay, leftover
    goes to the largest remainders with name-asc ties, NULL domains
    drop, and the whole table matches an integer reference."""
    import math

    from pac_data_pipeline_spark.ext.sampling import temperature_mixture

    rows = (
        [("web", "a b c d e f g h")] * 40
        + [("code", "x y z w")] * 10
        + [("wiki", "p q")] * 5
        + [("tiny", "t")] * 1
        + [(None, "dropped dropped")] * 3
        + [("web", None)]  # NULL text counts 0 tokens
    )
    df = spark.createDataFrame(rows, "source string, text string")
    budget = 10_000
    got = {
        r.source: r
        for r in temperature_mixture(df, budget=budget).collect()
    }
    assert set(got) == {"web", "code", "wiki", "tiny"}

    n = {"web": 40 * 8, "code": 10 * 4, "wiki": 5 * 2, "tiny": 1}
    w = {d: int(math.floor(math.sqrt(c) * 1e6 + 0.5)) for d, c in n.items()}
    tw = sum(w.values())
    base = {d: budget * w[d] // tw for d in w}
    rem = {d: budget * w[d] % tw for d in w}
    leftover = budget - sum(base.values())
    order = sorted(w, key=lambda d: (-rem[d], d))
    alloc = {
        d: base[d] + (1 if i < leftover else 0)
        for i, d in enumerate(order)
    }
    assert sum(alloc.values()) == budget
    for d in w:
        assert got[d].n_tokens == n[d]
        assert got[d].weight == w[d]
        assert got[d].alloc_tokens == alloc[d]
        assert got[d].p == math.floor(w[d] / tw * 1e6 + 0.5) / 1e6
        assert got[d].epochs == math.floor(
            alloc[d] / n[d] * 1e6 + 0.5
        ) / 1e6


def test_dedup_representatives_keeps_best_not_first(spark):
    """The representative must be the highest-quality member (ties →
    smaller id) — explicitly DIFFERENT from keep-first/min-id when a
    later copy is cleaner; NULL-text members sort last; singletons
    keep themselves; n_dup reports the cluster size."""
    from pac_data_pipeline_spark.ext.dedup_text import (
        dedup_representatives,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    # docs 0/1 are near-dups (consecutive ids, high trigram overlap);
    # doc 1 is the CLEANER copy — keep-first would wrongly keep doc 0
    df = spark.createDataFrame(
        [
            (0, base + " !!! ??? @@@"),   # punct-heavy suffix
            (1, base + " the of and"),    # stopword-rich suffix
            (5, "completely unrelated text about something else"),
            (9, None),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dedup_representatives(df, 0.3).collect()}
    assert rows[0].component_id == rows[1].component_id
    assert rows[1].keep and not rows[0].keep  # best copy, not first
    assert rows[0].n_dup == 2 and rows[1].n_dup == 2
    assert rows[5].keep and rows[5].n_dup == 1
    assert rows[9].keep and rows[9].quality_score is None  # singleton


def test_stratified_reservoir_exact_k_and_merge_exact(spark):
    """Reservoir contract: output is EXACTLY k rows, per-stratum
    counts are the Hamilton quotas of the stratum sizes (plain-
    Python integer replay), survivors are the quota smallest
    (md5(id), id) keys per stratum, and the survivor rule is
    MERGE-EXACT: recomputing on any repartitioning selects the
    identical ids (membership is a pure function of the key)."""
    import hashlib

    from pac_data_pipeline_spark.ext.sampling import stratified_reservoir

    rows = (
        [(i, "big") for i in range(60)]
        + [(i + 100, "mid") for i in range(25)]
        + [(i + 200, "small") for i in range(7)]
        + [(999, None)]  # NULL stratum: excluded
        + [(None, "big")]  # NULL id: excluded — md5(NULL) sorts
        #   FIRST on Spark and LAST on external engines, so letting
        #   it into the rank silently hands rank 1 to different
        #   rows per engine (the round-7 review finding)
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    k = 20
    out = stratified_reservoir(df, k=k, strata_col="source").collect()
    assert len(out) == k
    assert all(r.doc_id is not None for r in out)
    got_per = {}
    for r in out:
        got_per.setdefault(r.source, set()).add(r.doc_id)

    n = {"big": 60, "mid": 25, "small": 7}
    tn = sum(n.values())
    base = {s: k * c // tn for s, c in n.items()}
    rem = {s: k * c % tn for s, c in n.items()}
    leftover = k - sum(base.values())
    order = sorted(n, key=lambda s: (-rem[s], s))
    quota = {
        s: base[s] + (1 if i < leftover else 0)
        for i, s in enumerate(order)
    }
    assert {s: len(ids) for s, ids in got_per.items()} == {
        s: q for s, q in quota.items() if q > 0
    }
    # survivor rule: quota smallest md5 keys per stratum
    for s, q in quota.items():
        ids = [i for i, st in rows if st == s]
        expect = set(
            sorted(
                ids,
                key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
            )[:q]
        )
        assert got_per.get(s, set()) == expect, s
    # merge-exactness: a different partitioning selects the same set
    out2 = stratified_reservoir(
        df.repartition(13, "doc_id"), k=k, strata_col="source"
    ).collect()
    assert {r.doc_id for r in out2} == {r.doc_id for r in out}


def test_split_leakage_content_policy_eliminates_leakage(spark):
    """The audit's whole point: splitting on the content fingerprint
    co-locates every exact duplicate (n_leaked = 0 by construction),
    while the naive by-doc split leaks planted dups across splits;
    per-policy doc counts always sum to the corpus size."""
    from pac_data_pipeline_spark.ext.sampling import split_leakage_audit

    # 60 unique docs + 40 duplicates of 20 of them (ids far apart so
    # the id-hash scatters them across splits), + a NULL-text pair
    rows = [(i, f"unique text number {i}") for i in range(60)]
    rows += [(1000 + i, f"unique text number {i}") for i in range(20)]
    rows += [(2000 + i, f"unique text number {i}") for i in range(20)]
    rows += [(9000, None), (9001, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.policy, r.split): r
        for r in split_leakage_audit(df).collect()
    }
    n = len(rows)
    for policy in ("by_doc", "by_content"):
        assert sum(
            v.n_docs for (p, _), v in out.items() if p == policy
        ) == n
    assert all(
        v.n_leaked == 0 for (p, _), v in out.items() if p == "by_content"
    )
    assert sum(
        v.n_leaked for (p, _), v in out.items() if p == "by_doc"
    ) > 0


def test_bloom_decontaminate_superset_of_exact_and_null_safe(spark):
    """Bloom membership has no false negatives: every doc the exact
    gram join flags, the bloom path must flag; a gram-disjoint doc
    stays clean (2^20 bits vs a handful of set bits — deterministic
    given the fixed md5 positions); a NULL-text doc must NOT be
    flagged (the concat_ws null-swallow guard)."""
    from pac_data_pipeline_spark.ext.dedup_text import (
        bloom_decontaminate,
        decontaminate,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "totally unrelated words appear in this document"),
            (3, "quick brown fox runs far away tonight"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, "a the quick brown fox sat down")],
        "doc_id long, text string",
    )
    exact = {
        r.doc_id: r.contaminated
        for r in decontaminate(docs, eval_set, n=3).collect()
    }
    bloom = {
        r.doc_id: (r.n_bloom_hits, r.contaminated)
        for r in bloom_decontaminate(docs, eval_set, n=3).collect()
    }
    assert set(bloom) == {1, 2, 3, 4}
    for doc_id, flagged in exact.items():
        if flagged:
            assert bloom[doc_id][1], f"false negative on doc {doc_id}"
    assert bloom[2] == (0, False)
    assert bloom[4] == (0, False)
    # distinct-gram counting: doc 3 shares exactly one distinct
    # 3-gram ("quick brown fox") with the eval set
    assert bloom[3][0] == 1


def test_dsir_scores_fixed_point_formula(spark):
    """The micro-unit DSIR score is exact integer arithmetic —
    replay the formula in Python over a tiny corpus and demand
    bit-equality; a target-bigram doc must outscore a raw-only doc;
    featureless docs (single token / NULL text) score 0 with
    n_feats 0."""
    from pyspark.sql import functions as F

    from pac_data_pipeline_spark.ext.dsir import dsir_scores

    rows = [
        (0, "alpha beta alpha beta", "en"),
        (1, "alpha beta gamma", "en"),
        (2, "alpha beta delta", "de"),      # target-like bigram
        (3, "zeta eta theta iota", "de"),   # raw-only bigrams
        (4, "solo", "de"),                  # featureless: 1 token
        (5, None, "de"),                    # featureless: null text
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r.doc_id: (r.n_feats, r.dsir_micro)
        for r in dsir_scores(
            docs, F.col("lang") == "en", target_cols=("lang",)
        ).collect()
    }

    # python replay of the exact contract
    import hashlib

    B = 1024

    def bucket(gram):
        return (int(hashlib.md5(gram.encode()).hexdigest()[:15], 16)) % B

    def bigrams(text):
        toks = [t for t in __import__("re").split(r"[ \t\n\f\r]+", text.strip())]
        return [f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)] if len(toks) >= 2 else []

    from collections import Counter

    per_doc = {i: Counter(bucket(g) for g in bigrams(t)) for i, t, _ in rows if t}
    raw = Counter()
    tgt = Counter()
    for i, t, lang in rows:
        if not t:
            continue
        raw.update(per_doc[i])
        if lang == "en":
            tgt.update(per_doc[i])
    R, T = sum(raw.values()), sum(tgt.values())

    def w_micro(b):
        return (1_000_000 * (tgt[b] + 1) * (R + B)) // ((raw[b] + 1) * (T + B))

    for i, t, _ in rows:
        cnts = per_doc.get(i, Counter())
        exp_feats = sum(cnts.values())
        exp_score = sum(c * w_micro(b) for b, c in cnts.items())
        assert out[i] == (exp_feats, exp_score), f"doc {i}"

    # the target-like doc outscores the raw-only doc per feature
    assert out[2][1] / out[2][0] > out[3][1] / out[3][0]
    assert out[4] == (0, 0) and out[5] == (0, 0)


def test_dsir_weight_exact_past_bigint_wrap(spark):
    """The w_micro numerator 1e6*(t_b+1)*(r_tot+B) exceeds int64 at
    ~3e6 feature occurrences per side; the DECIMAL(38,0) path must
    return the exact integral quotient where bigint math would wrap
    (or ANSI-error). One doc with N identical bigrams lands them all
    in one bucket, so t_b = r_b = r_tot = t_tot = N and the exact
    expected score is N * (1e6*(N+1)*(N+1024) // ((N+1)*(N+1024)))."""
    from pyspark.sql import functions as F

    from pac_data_pipeline_spark.ext.dsir import dsir_scores

    n = 3_200_000  # 1e6*(n+1)*(n+1024) ≈ 1.02e19 > 2^63-1
    text = "a " * n + "a"  # n bigrams, all "a a"
    docs = spark.createDataFrame(
        [(0, text, "en")], "doc_id long, text string, lang string"
    )
    row = dsir_scores(
        docs, F.col("lang") == "en", target_cols=("lang",)
    ).collect()[0]
    w = (1_000_000 * (n + 1) * (n + 1024)) // ((n + 1) * (n + 1024))
    assert 1_000_000 * (n + 1) * (n + 1024) > 2**63 - 1  # wrap regime
    assert (row.n_feats, row.dsir_micro) == (n, n * w)


def test_rrf_fuse_exact_scores_and_tiebreak(spark):
    """RRF micro scores are exact floor divisions; a doc in both
    legs beats single-leg docs; equal scores tie-break on the
    smaller id; per-leg ranks carry through as nullable columns."""
    from pac_data_pipeline_spark.ext.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, rank long"
    )
    sem = spark.createDataFrame(
        [(20, 1), (40, 2), (50, 3)], "doc_id long, rank long"
    )
    out = rrf_fuse({"lex": lex, "sem": sem}, k=60, top_k=10).collect()
    rows = {r.doc_id: r for r in out}
    m = 1_000_000
    assert rows[20].rrf_micro == m // 62 + m // 61
    assert rows[10].rrf_micro == m // 61
    assert rows[40].rrf_micro == m // 62
    assert rows[10].rank_lex == 1 and rows[10].rank_sem is None
    assert rows[20].rank_lex == 2 and rows[20].rank_sem == 1
    # ordering: 20 first (both legs), then ties broken by id —
    # 10 (1/61) before 50? no: 1/61 > 1/63, check full order
    got_order = [r.doc_id for r in out]
    assert got_order[0] == 20
    assert got_order == sorted(
        got_order,
        key=lambda d: (-rows[d].rrf_micro, d),
    )


def test_doremi_reweight_exact_step(spark):
    """The linearized DoReMi step is exact integer arithmetic —
    replay in Python and demand equality; a higher-loss domain gets
    a larger weight; ppm shares sum to ≤ 1e6 (floor division);
    NULL domains group together; a domain far below the reference
    clamps to weight 0."""
    from pac_data_pipeline_spark.ext.sampling import doremi_reweight

    rows = [
        ("web", 5_000_000), ("web", 7_000_000),
        ("wiki", 2_000_000), ("wiki", 2_200_000),
        (None, 9_000_000),
        ("easy", 1_000), ("easy", 3_000),  # far below ref -> clamp 0
    ]
    df = spark.createDataFrame(rows, "source string, loss_micro long")
    out = {r.source: r for r in doremi_reweight(df).collect()}

    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0])
    for s, l in rows:
        agg[s][0] += 1
        agg[s][1] += l
    st = sum(v[1] for v in agg.values())
    nt = sum(v[0] for v in agg.values())
    ref = st // nt
    w_raw = {}
    for s, (n, tot) in agg.items():
        mean = tot // n
        w_raw[s] = max(0, 1_000_000 + (mean - ref))
    wt = sum(w_raw.values())
    for s, (n, tot) in agg.items():
        mean = tot // n
        r = out[s]
        assert (r.n_docs, r.dom_loss_micro, r.excess_micro) == (
            n, mean, mean - ref
        ), s
        assert r.weight_ppm == (1_000_000 * w_raw[s]) // wt, s
    assert out["easy"].weight_ppm == 0
    assert out[None].weight_ppm > out["wiki"].weight_ppm
    assert sum(r.weight_ppm for r in out.values()) <= 1_000_000


def test_video_near_dup_identical_videos_at_hamming_zero(spark):
    """Two documents with identical text and congruent ids (same
    formula dims + frame count) synthesize identical AVIs — the
    video pair must surface with every sampled frame matching at
    Hamming 0; an unrelated doc with different text must not pair
    at 0 with them."""
    from pac_data_pipeline_spark.ext.multimodal import (
        video_frame_dhash,
        video_media_from_documents,
        video_near_dup,
    )

    # ids 0 and 20 are congruent mod 5/4: same w, h, n_frames
    docs = spark.createDataFrame(
        [
            (0, "the exact same video payload text"),
            (20, "the exact same video payload text"),
            (3, "completely different content here entirely"),
        ],
        "doc_id long, text string",
    )
    media = video_media_from_documents(docs)
    hashes = video_frame_dhash(media, every_n=2)
    out = {
        (r.id_a, r.id_b): (r.n_frame_matches, r.min_hamming)
        for r in video_near_dup(hashes, max_hamming=4).collect()
    }
    assert (0, 20) in out
    n_matches, min_h = out[(0, 20)]
    assert min_h == 0
    # n_frames = 2 + 0 % 4 = 2, every_n=2 -> one sampled frame each
    assert n_matches == 1


def test_lsh_tuning_table_invariants(spark):
    """Aligned band splits nest (a 16-row band match implies its
    four aligned 4-row sub-bands match), so candidate and verified
    counts are non-decreasing in the band count; an exact duplicate
    pair (identical signatures) is a candidate AND verified at EVERY
    config; pooled recall is 1e6 for the most-bands config (its
    candidates are the pool's superset)."""
    from pac_data_pipeline_spark.ext.dedup_text import lsh_tuning_table

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                      # exact duplicate of 1
            (3, base + " with a small suffix change"),  # near-dup
            (4, "completely different content lives here instead"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    rows = {r.bands: r for r in lsh_tuning_table(docs).collect()}
    assert set(rows) == {4, 8, 16}
    assert rows[4].n_candidates <= rows[8].n_candidates <= rows[16].n_candidates
    assert rows[4].n_verified <= rows[8].n_verified <= rows[16].n_verified
    # the exact-dup pair collides in every band at every config
    assert rows[4].n_verified >= 1
    assert rows[16].pooled_recall_ppm == 1_000_000
    for r in rows.values():
        if r.n_candidates:
            assert r.precision_ppm == (1_000_000 * r.n_verified) // r.n_candidates


def test_bm25_null_doc_id_excluded_from_all_stats(spark):
    """A NULL-id document containing a query term must not move
    dfreq, N, avgdl, or any score: the output IS doc ids, so a
    NULL-id doc is unrankable and is excluded from every corpus
    statistic (restores the pre-r8 countDistinct(doc_id) dfreq
    semantics the per-doc row count silently changed)."""
    from pac_data_pipeline_spark.ext.text import bm25_rank

    base = [
        (1, "spark shuffles data across the cluster nodes"),
        (2, "hash joins beat sort merge on small builds"),
        (3, "window functions rank rows within partitions"),
    ]
    clean = spark.createDataFrame(base, "doc_id long, text string")
    dirty = spark.createDataFrame(
        base + [(None, "spark spark hash window spark")],
        "doc_id long, text string",
    )
    terms = ["spark", "hash", "window"]
    a = sorted((r.doc_id, r.score) for r in bm25_rank(clean, terms).collect())
    b = sorted((r.doc_id, r.score) for r in bm25_rank(dirty, terms).collect())
    assert a == b


def test_lsh_tuning_table_sample_knob_deterministic(spark):
    """The 100 TB workflow knob: sample_fraction tunes on a
    deterministic md5-bucket subset — membership is a pure function
    of the id (same docs on any run/partitioning), the sampled
    table equals the full table computed over exactly the member
    docs, and out-of-range fractions fail loudly."""
    import hashlib

    import pytest

    from pac_data_pipeline_spark.ext.dedup_text import lsh_tuning_table

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (i, base + (f" tail {i}" if i % 3 == 0 else ""))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    frac = 0.5
    member = {
        i for i, _ in rows
        if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10_000
        < int(frac * 10_000)
    }
    sampled = lsh_tuning_table(docs, sample_fraction=frac).collect()
    manual = lsh_tuning_table(
        docs.filter(docs.doc_id.isin(*member))
    ).collect()
    key = lambda r: (r.bands, r.rows_per_band)  # noqa: E731
    assert sorted(map(tuple, sampled)) == sorted(map(tuple, manual))
    assert {key(r) for r in sampled} == {(16, 4), (8, 8), (4, 16)}
    # rerun selects the identical membership → identical table
    again = lsh_tuning_table(docs, sample_fraction=frac).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, sampled))
    with pytest.raises(ValueError, match="sample_fraction"):
        lsh_tuning_table(docs, sample_fraction=0.0)
    with pytest.raises(ValueError, match="sample_fraction"):
        lsh_tuning_table(docs, sample_fraction=1.5)


def _py_lev(a, b):
    m, n = len(a), len(b)
    d = list(range(n + 1))
    for i in range(1, m + 1):
        prev, d[0] = d[0], i
        for j in range(1, n + 1):
            prev, d[j] = d[j], min(
                d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
            )
    return d[n]


def test_edit_distance_join_exact_vs_bruteforce(spark):
    """Ed-Join completeness and exactness on hand-built strings:
    every pair within 2 edits that brute force finds, with the same
    distances; strings under the (k+1)*q contract floor are
    excluded; NULL/empty text never pairs."""
    import itertools

    from pac_data_pipeline_spark.ext.dedup_text import edit_distance_join

    strs = [
        "kitten house", "sitten house", "sittin houses", "kitten mouse",
        "wholly different string", "wholy different string",
        "abcdef", "abcdxf", "zzzzzz", "abcde",  # len 5 < 6: excluded
        "doc 42 rev 3 alpha", "doc 43 rev 3 alpha", "doc 42 rev 3 alphb",
        "aaaaaa", "aaaaab",  # repeated grams: occurrence annotation
        None, "",
    ]
    rows = [(i, s) for i, s in enumerate(strs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in edit_distance_join(df, max_dist=2, q=2).collect()
    }
    want = {
        (i, j, _py_lev(a, b))
        for (i, a), (j, b) in itertools.combinations(
            [(i, s) for i, s in rows if s and len(s) >= 6], 2
        )
        if _py_lev(a, b) <= 2
    }
    assert got == want
    assert (13, 14, 1) in got  # the repeated-gram pair survived
    assert not any(9 in (a, b) for a, b, _ in got)  # contract floor


def test_zipf_fit_hand_computed(spark):
    """Zipf head fit replayed in Python: freqs a:4 b:2 c:1 give
    ranks 1..3; slope/intercept/r2 are the least-squares moments of
    (ln r, ln f) rounded to 4; a top_n=2 cut keeps the two most
    frequent terms and reports exact ppm coverage 6/7."""
    import math

    from pac_data_pipeline_spark.ext.text import zipf_fit

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c"), (3, "a"), (4, None)],
        "doc_id long, text string",
    )
    full = zipf_fit(docs, top_n=1000).collect()[0]
    pts = [(math.log(1), math.log(4)), (math.log(2), math.log(2)),
           (math.log(3), math.log(1))]
    n = len(pts)
    mx = sum(x for x, _ in pts) / n
    my = sum(y for _, y in pts) / n
    sxx = sum((x - mx) ** 2 for x, _ in pts)
    sxy = sum((x - mx) * (y - my) for x, y in pts)
    syy = sum((y - my) ** 2 for _, y in pts)
    slope = sxy / sxx
    assert full.n_terms == 3 and full.n_vocab == 3
    assert full.head_tokens == 7 and full.corpus_tokens == 7
    assert full.head_coverage_ppm == 1_000_000
    assert full.slope == round(slope, 4)
    assert full.intercept == round(my - slope * mx, 4)
    assert full.r2 == round(sxy * sxy / (sxx * syy), 4)

    cut = zipf_fit(docs, top_n=2).collect()[0]
    assert (cut.n_terms, cut.head_tokens, cut.corpus_tokens) == (2, 6, 7)
    assert cut.head_coverage_ppm == (1_000_000 * 6) // 7
    assert cut.n_vocab == 3

    empty = zipf_fit(docs.filter("doc_id < 0")).collect()[0]
    assert (empty.n_terms, empty.corpus_tokens) == (0, 0)
    assert empty.slope is None and empty.head_coverage_ppm is None


def test_jl_project_matches_numpy_replay(spark):
    """Projected coordinates equal the numpy replay of the portable
    md5-Rademacher matrix (sequential-fold order, 1/sqrt(out_dim)
    scale, round 6); null vectors drop; long output is (id, j,
    value) with out_dim rows per vector."""
    import math

    import numpy as np

    from pac_data_pipeline_spark.ext.similarity import (
        jl_project,
        portable_hyperplanes,
    )

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((3, 64)).astype("float32")
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    rows.append((99, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        (r.vec_id, r.j): r.value
        for r in jl_project(df, out_dim=16, dim=64).collect()
    }
    assert len(out) == 3 * 16 and not any(i == 99 for i, _ in out)
    planes = np.array(portable_hyperplanes(64, 16))
    scale = 1.0 / math.sqrt(16)
    for i, v in enumerate(vecs):
        for j in range(16):
            acc = 0.0
            for x, r_ in zip(v, planes[j]):
                acc += float(x) * r_
            assert out[(i, j)] == round(acc * scale, 6), (i, j)


def test_jl_project_ragged_overlength_vector(spark):
    """A >dim embedding projects from its FIRST dim coordinates
    (slice-before-zip), matching the oracle's fixed range(0,dim)
    comprehension — zip_with would otherwise NULL-pad the plane
    side and silently NULL every coordinate of the over-length
    row (the advisor-found differential hole)."""
    from pac_data_pipeline_spark.ext.similarity import jl_project

    base = [float(k % 7 - 3) for k in range(64)]
    df = spark.createDataFrame(
        [(0, base), (1, base + [1000.0, -1000.0])],
        "vec_id long, embedding array<float>",
    )
    out = {}
    for r in jl_project(df, out_dim=4, dim=64).collect():
        out.setdefault(r.vec_id, {})[r.j] = r.value
    assert len(out[1]) == 4
    assert all(v is not None for v in out[1].values())
    # the tail past dim is ignored, so both rows project identically
    assert out[0] == out[1]


def test_jl_recall_identity_and_bounds(spark):
    """Recall@k sanity: projecting with out_dim == dim-equivalent
    information (a corpus whose vectors differ wildly) keeps the
    exact top-k; counts and ppm are exact integers; per-query rows
    appear for every surviving query vector."""
    import numpy as np

    from pac_data_pipeline_spark.ext.similarity import jl_recall

    rng = np.random.default_rng(11)
    # well-separated cluster structure: 3 tight clusters far apart,
    # so top-3 neighbors survive ANY distance-preserving projection
    centers = rng.standard_normal((3, 64)) * 50
    rows = []
    for i in range(12):
        v = centers[i % 3] + rng.standard_normal(64) * 0.01
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.query_id: r for r in jl_recall(
        df, k=3, n_queries=2, out_dim=16, dim=64
    ).collect()}
    assert set(out) == {0, 1}
    for q, r in out.items():
        assert r.n_exact == 3
        assert 0 <= r.n_hits <= 3
        assert r.recall_ppm == (1_000_000 * r.n_hits) // r.n_exact
        # tight, well-separated clusters: JL-16 keeps the cluster
        assert r.n_hits == 3, (q, r)


def test_containment_join_exact_vs_bruteforce(spark):
    """Containment completeness on hand-built docs: a contiguous
    quote scores 1.0 against its parent; ordered-pair asymmetry
    (the parent is NOT contained in the quote); the min_grams floor
    excludes tiny contained sides; results equal the brute-force
    replay."""
    import itertools
    import re

    from pac_data_pipeline_spark.ext.dedup_text import containment_join

    def grams(text, n=3):
        toks = re.split(r"[ \t\n\f\r]+", text.strip())
        upper = max(len(toks) - n + 1, 1)
        return {" ".join(toks[i:i + n]) for i in range(upper)}

    docs = [
        (0, "the quick brown fox jumps over the lazy dog near the "
            "old barn today"),
        (1, "quick brown fox jumps over the lazy dog"),
        (2, "completely different words live here in this other "
            "document thing"),
        (3, "different words live here in this"),  # 4 grams < 5
        (4, "the quick brown fox"),                # 2 grams < 5
        (5, None),
        (6, "   "),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.containment)
        for r in containment_join(df, 0.7, min_grams=5).collect()
    }
    g = {i: grams(t) for i, t in docs if t and t.strip()}
    want = {
        (i, j, round(len(g[i] & g[j]) / len(g[i]), 6))
        for i, j in itertools.permutations(g, 2)
        if len(g[i]) >= 5 and len(g[i] & g[j]) / len(g[i]) >= 0.7
    }
    assert got == want
    assert (1, 0, 1.0) in got
    assert not any(a == 0 and b == 1 for a, b, _ in got)  # asymmetric


def test_hits_hand_computed(spark):
    """HITS on a 4-node star: hub/authority separation the fixture
    is built to show — node 0 points at 1,2,3 (pure hub), nodes
    1,2,3 point nowhere. After any number of iterations hub(0)=1,
    auth(1)=auth(2)=auth(3)=1/3, and the complements are 0. An
    empty edge set yields all-zero scores, not a division error."""
    from pac_data_pipeline_spark.ext.graph import hits

    nodes = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    out = {r.doc_id: (r.hub, r.auth) for r in hits(nodes, edges).collect()}
    third = round(round(1 / 3, 12), 8)
    assert out[0] == (1.0, 0.0)
    for i in (1, 2, 3):
        assert out[i] == (0.0, third)

    none = spark.createDataFrame([], "src long, dst long")
    zeros = {r.doc_id: (r.hub, r.auth) for r in hits(nodes, none).collect()}
    assert all(v == (0.0, 0.0) for v in zeros.values())


def test_hits_ignores_edges_leaving_the_node_set(spark):
    """Edges with an endpoint outside ``nodes`` feed neither score
    past iteration 1: authorities sum hubs over edges FROM nodes,
    hubs sum authorities over edges INTO nodes, in every iteration
    (the dense form, as hits_fixture_sql computes it). Node 9 is
    not a node: 0->9 must not raise hub(0), and 9->1 must not raise
    auth(1); both still count in the L1 totals the fixture uses."""
    from pac_data_pipeline_spark.ext.graph import hits

    nodes = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    links = [(0, 1), (1, 2), (2, 0), (2, 3), (0, 9), (9, 1)]
    edges = spark.createDataFrame(links, "src long, dst long")
    got = {
        r.doc_id: (r.hub, r.auth)
        for r in hits(nodes, edges, n_iter=3).collect()
    }

    ids = range(4)
    hub = {v: round(1 / 4, 12) for v in ids}
    for _ in range(3):
        ra: dict = {}
        for s_, d in links:
            if s_ in hub:
                ra[d] = ra.get(d, 0.0) + hub[s_]
        ra = {d: round(x, 12) for d, x in ra.items()}
        ta = round(sum(ra.values()), 12)
        auth = {v: round(ra.get(v, 0.0) / ta, 12) for v in ids}
        rh: dict = {}
        for s_, d in links:
            if d in auth:
                rh[s_] = rh.get(s_, 0.0) + auth[d]
        rh = {s_: round(x, 12) for s_, x in rh.items()}
        th = round(sum(rh.values()), 12)
        hub = {v: round(rh.get(v, 0.0) / th, 12) for v in ids}
    want = {v: (round(hub[v], 8), round(auth[v], 8)) for v in ids}
    assert got == want


@pytest.mark.parametrize(
    "fn", ["hits", "pagerank", "personalized_pagerank", "textrank_keywords"]
)
def test_iterative_graph_ops_reject_zero_iterations(spark, fn):
    """n_iter=0 is a ValueError naming the parameter, raised before
    any plan is built — not an AttributeError on an unbound rank
    frame."""
    from pac_data_pipeline_spark.ext import graph, textrank

    nodes = spark.createDataFrame([(0,), (1,)], "doc_id long")
    edges = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    docs = spark.createDataFrame([(0, "a b c a")], "doc_id long, text string")
    call = {
        "hits": lambda: graph.hits(nodes, edges, n_iter=0),
        "pagerank": lambda: graph.pagerank(nodes, edges, n_iter=0),
        "personalized_pagerank": lambda: graph.personalized_pagerank(
            nodes, edges, n_iter=0
        ),
        "textrank_keywords": lambda: textrank.textrank_keywords(
            docs, n_iter=0
        ),
    }[fn]
    with pytest.raises(ValueError, match="n_iter"):
        call()


def test_hits_rejects_zero_iterations(spark):
    """n_iter=0 is a contract error in BOTH engines' builders —
    hits() would crash joining an unbound auth frame and
    hits_fixture_sql() would reference a nonexistent a0 CTE — so
    each raises ValueError up front (the pagerank fixture
    contract)."""
    import pytest as _pytest
    from pac_data_pipeline_spark.ext.graph import hits, hits_fixture_sql

    nodes = spark.createDataFrame([(0,)], "doc_id long")
    edges = spark.createDataFrame([], "src long, dst long")
    with _pytest.raises(ValueError, match="n_iter"):
        hits(nodes, edges, n_iter=0)
    with _pytest.raises(ValueError, match="n_iter"):
        hits_fixture_sql(n_iter=0)
