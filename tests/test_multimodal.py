"""Tests for the multimodal plumbing: schema, mapInPandas batching,
deterministic fake decode, and the explicit stub boundary."""

import pytest

from bht_etl_app_spark.operators import image_features, synth_media_from_documents
from bht_etl_app_spark.operators.multimodal import (
    IMAGE_FEATURES_SCHEMA,
    fake_image_decode,
    frame_sample,
)


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [(1, "hello world", "en", "s1"), (2, "a much longer document body", "en", "s2")],
        "doc_id long, text string, lang string, source string",
    )
    return synth_media_from_documents(docs)


def test_media_schema(media):
    assert [f.name for f in media.schema.fields] == [
        "media_id", "kind", "content", "mime", "meta",
    ]
    row = media.orderBy("media_id").first()
    assert bytes(row["content"]) == b"hello world"
    assert row["kind"] == "image"


def test_image_features_matches_decode_fn(media):
    got = {r["media_id"]: r for r in image_features(media).collect()}
    exp1 = fake_image_decode(b"hello world")
    assert got[1]["width"] == exp1["width"]
    assert got[1]["height"] == exp1["height"]
    assert got[1]["n_bytes"] == len(b"hello world")
    assert got[1]["mean_intensity"] == pytest.approx(exp1["mean_intensity"], abs=1e-6)
    assert image_features(media).schema == IMAGE_FEATURES_SCHEMA


def test_image_features_repartition(media):
    df = image_features(media, repartition_to=2)
    assert df.count() == 2


def test_frame_sample_is_stub(spark, media):
    # schema is declared even though decode is stubbed
    df = frame_sample(media)
    assert [f.name for f in df.schema.fields] == ["media_id", "frame_idx", "frame"]


def test_resize_images_shapes(spark):
    from bht_etl_app_spark.operators.multimodal import (
        resize_images,
        synth_media_from_documents,
    )
    from bht_etl_app_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(20)
    out = resize_images(synth_media_from_documents(docs), width=8, height=4).collect()
    assert len(out) == 20
    for r in out:
        assert r["width"] == 8 and r["height"] == 4
        assert len(r["content"]) == 32  # truncated/padded to w*h exactly


def test_audio_features_empty_without_audio_rows(spark):
    from bht_etl_app_spark.operators.multimodal import (
        audio_features,
        synth_media_from_documents,
    )
    from bht_etl_app_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(5)
    media = synth_media_from_documents(docs)  # kind='image' only
    assert audio_features(media).count() == 0


def test_audio_features_deterministic(spark):
    from bht_etl_app_spark.operators.multimodal import audio_features, fake_audio_decode

    media = spark.createDataFrame(
        [(1, "audio", b"abcd" * 100, "audio/wav", "{}")],
        "media_id long, kind string, content binary, mime string, meta string",
    )
    row = audio_features(media).collect()[0]
    exp = fake_audio_decode(b"abcd" * 100)
    assert row["n_bytes"] == exp["n_bytes"]
    assert row["duration_s"] == exp["duration_s"]
    assert row["rms"] == exp["rms"]


def test_png_codec_round_trip():
    from bht_etl_app_spark.operators.png import decode_png_gray, encode_png_gray

    for w, h in [(1, 1), (8, 5), (33, 17)]:
        pixels = bytes((x * 7 + 3) % 256 for x in range(w * h))
        data = encode_png_gray(pixels, w, h)
        assert data[:8] == b"\x89PNG\r\n\x1a\n"
        assert decode_png_gray(data) == (w, h, pixels)


def test_png_decoder_handles_all_filters():
    """Hand-filter scanlines with Sub/Up/Average/Paeth and check the
    decoder reconstructs the original pixels (our encoder only emits
    filter 0, so this pins the spec paths external PNGs use)."""
    import struct
    import zlib

    from bht_etl_app_spark.operators.png import _chunk, _paeth, decode_png_gray

    w, h = 6, 5
    pixels = bytes((x * 31 + 7) % 256 for x in range(w * h))
    rows = [pixels[y * w : (y + 1) * w] for y in range(h)]
    prev = bytes(w)
    raw = bytearray()
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        line = rows[y]
        enc = bytearray()
        for x in range(w):
            left = line[x - 1] if x else 0
            up = prev[x]
            upleft = prev[x - 1] if x else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) // 2
            else:
                pred = _paeth(left, up, upleft)
            enc.append((line[x] - pred) & 0xFF)
        raw.append(ftype)
        raw.extend(enc)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    assert decode_png_gray(data) == (w, h, pixels)


def test_image_features_real_png_end_to_end(spark):
    from bht_etl_app_spark.operators.multimodal import (
        image_features,
        png_image_decode,
        synth_png_media_from_documents,
    )
    from bht_etl_app_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(20)
    media = synth_png_media_from_documents(docs)
    feats = {r["media_id"]: r for r in
             image_features(media, decode_fn=png_image_decode).collect()}
    for r in docs.collect():
        f = feats[r["doc_id"]]
        assert f["width"] == 8 + r["doc_id"] % 9
        assert f["height"] == 8 + r["doc_id"] % 7
        # true mean of the tiled utf-8 payload
        w, hh = f["width"], f["height"]
        src = r["text"].encode() or b"\x00"
        pix = (src * (w * hh // len(src) + 1))[: w * hh]
        assert abs(f["mean_intensity"] - round(sum(pix) / len(pix), 6)) < 1e-6


def test_audio_features_real_wav_end_to_end(spark):
    import math

    from bht_etl_app_spark.operators.multimodal import (
        audio_features,
        synth_wav_media_from_documents,
        wav_audio_decode,
    )
    from bht_etl_app_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(10)
    media = synth_wav_media_from_documents(docs)
    feats = {r["media_id"]: r for r in
             audio_features(media, decode_fn=wav_audio_decode).collect()}
    for r in docs.collect():
        f = feats[r["doc_id"]]
        src = r["text"].encode() or b"\x80"
        assert abs(f["duration_s"] - round(len(src) / 16000, 6)) < 1e-9
        true_rms = math.sqrt(
            sum(((b - 128) * 256) ** 2 for b in src) / len(src)
        )
        assert abs(f["rms"] - true_rms) < 1e-3


def test_frame_sample_explodes_with_injected_decoder(spark):
    """The video seam (VERDICT r2 item #10): a fake decoder injected
    through frame_sample(decode_fn=...) must drive the real explode
    plumbing — one output row per sampled frame, frame bytes and
    indices intact through the Arrow batch boundary."""
    from bht_etl_app_spark.operators.multimodal import frame_sample

    vids = spark.createDataFrame(
        [(10, "video", bytes(range(100)), "video/fake", "{}"),
         (11, "video", bytes(range(35)), "video/fake", "{}"),
         (12, "image", b"not a video", "image/png", "{}")],
        "media_id long, kind string, content binary, mime string, meta string",
    )

    def fake_decode(content: bytes, every_n: int):
        # pretend each byte is a frame; sample every_n-th
        return [
            (i, content[i : i + 1]) for i in range(0, len(content), every_n)
        ]

    got = {
        (r["media_id"], r["frame_idx"]): bytes(r["frame"])
        for r in frame_sample(vids, every_n=30, decode_fn=fake_decode).collect()
    }
    # video 10: frames 0,30,60,90; video 11: 0,30; image row filtered out
    assert set(got) == {(10, 0), (10, 30), (10, 60), (10, 90), (11, 0), (11, 30)}
    assert got[(10, 30)] == bytes([30])
    assert got[(11, 0)] == bytes([0])


def test_frame_sample_default_decoder_raises(spark):
    """Without an injected decoder the seam fails loudly at execution
    (no ffmpeg in this container), not silently with empty output."""
    from pyspark.errors import PythonException

    from bht_etl_app_spark.operators.multimodal import frame_sample

    vids = spark.createDataFrame(
        [(1, "video", b"\x00\x01", "video/fake", "{}")],
        "media_id long, kind string, content binary, mime string, meta string",
    )
    with pytest.raises(PythonException, match="NotImplementedError|ffmpeg"):
        frame_sample(vids).collect()


def test_frame_sample_real_mjpeg_avi(spark):
    """All three modalities now have a REAL decode path: a generated
    MJPEG AVI goes through frame_sample with the stdlib RIFF-walk
    decoder and comes back as one row per sampled frame with the TRUE
    stream indices and the exact JPEG bytes."""
    from bht_etl_app_spark.io.miniavi import (
        mjpeg_avi_decode,
        synth_jpeg,
        write_mjpeg_avi,
    )
    from bht_etl_app_spark.operators.multimodal import frame_sample

    vids = []
    all_frames = {}
    for vid in range(3):
        frames = [synth_jpeg(vid * 100 + i, 40 + i) for i in range(7 + vid)]
        all_frames[vid] = frames
        vids.append((vid, "video", bytearray(write_mjpeg_avi(frames, 32, 24))))
    media = spark.createDataFrame(
        vids, "media_id long, kind string, content binary"
    )
    out = frame_sample(media, every_n=3, decode_fn=mjpeg_avi_decode).collect()
    got = {(r["media_id"], r["frame_idx"]): bytes(r["frame"]) for r in out}
    exp = {
        (mid, i): f
        for mid, frames in all_frames.items()
        for i, f in enumerate(frames)
        if i % 3 == 0
    }
    assert got == exp  # true indices AND exact frame bytes


def test_mjpeg_decode_rejects_non_jpeg_payload(spark):
    """A container whose video chunks are not standalone JPEGs must
    fail loudly, not emit garbage frames."""
    import struct

    import pytest

    from bht_etl_app_spark.io.miniavi import mjpeg_avi_decode

    # hand-build an AVI whose 00dc payload is not JPEG-framed
    def chunk(fcc, payload):
        pad = b"\x00" if len(payload) & 1 else b""
        return fcc + struct.pack("<I", len(payload)) + payload + pad

    movi = chunk(b"LIST", b"movi" + chunk(b"00dc", b"not a jpeg"))
    body = b"AVI " + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="not a complete JPEG"):
        mjpeg_avi_decode(avi, 1)


def test_image_phash_near_dup_finds_noisy_copies(spark):
    """Identical images pair at hamming 0, a few-pixel-perturbed copy
    pairs within the threshold, an unrelated image does not; output
    equals the brute-force all-pairs hamming (banding exactness)."""
    import itertools

    from bht_etl_app_spark.operators.multimodal import (
        image_phash_near_dup,
        phash_average_gray,
    )
    from bht_etl_app_spark.operators.png import encode_png_gray

    w = h = 16
    base = bytes((3 * x + 5 * y) % 251 for y in range(h) for x in range(w))
    noisy = bytearray(base)
    noisy[0] = (noisy[0] + 120) % 251  # one hot pixel
    other = bytes((x * y * 7 + 13) % 251 for y in range(h) for x in range(w))
    rows = [
        (1, "image", encode_png_gray(base, w, h), "image/png", "{}"),
        (2, "image", encode_png_gray(bytes(base), w, h), "image/png", "{}"),
        (3, "image", encode_png_gray(bytes(noisy), w, h), "image/png", "{}"),
        (4, "image", encode_png_gray(other, w, h), "image/png", "{}"),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, content binary, mime string, meta string"
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in image_phash_near_dup(media, max_hamming=6).collect()
    }
    # brute force from the same hash function
    hashes = {
        mid: phash_average_gray(content) for mid, _, content, _, _ in rows
    }
    exp = set()
    for (a, ha), (b, hb) in itertools.combinations(sorted(hashes.items()), 2):
        d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
        if d <= 6:
            exp.add((a, b, d))
    assert got == exp
    assert (1, 2, 0) in got, "identical images must pair at hamming 0"
    assert any(a == 1 and b == 3 for a, b, _ in got), "noisy copy lost"
    assert not any(4 in (a, b) for a, b, _ in got), "unrelated image paired"


def test_image_phash_banding_independent(spark):
    """Pigeonhole exactness transfers from SimHash: any valid bands
    config yields the identical pair set."""
    from bht_etl_app_spark.operators.multimodal import image_phash_near_dup
    from bht_etl_app_spark.operators.png import encode_png_gray

    w = h = 16
    rows = []
    for g in range(4):  # 4 groups of 3 noisy variants each
        base = bytearray((g * 37 + 3 * x + 5 * y) % 251 for y in range(h) for x in range(w))
        for v in range(3):
            img = bytearray(base)
            if v:
                img[v * 7] = (img[v * 7] + 100 + v) % 251
            rows.append((g * 10 + v, "image", encode_png_gray(bytes(img), w, h), "image/png", "{}"))
    media = spark.createDataFrame(
        rows, "media_id long, kind string, content binary, mime string, meta string"
    )
    a = {
        tuple(r)
        for r in image_phash_near_dup(media, max_hamming=3, bands=4).collect()
    }
    b = {
        tuple(r)
        for r in image_phash_near_dup(media, max_hamming=3, bands=8).collect()
    }
    assert a == b
    assert a, "synth media from modulo-3 texts should contain near-dups"
