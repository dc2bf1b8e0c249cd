"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas UDFs
over ``mapInPandas``.

The Spark-side machinery (schemas, batch iteration, partition sizing)
is real and tested; the actual media decode is STUBBED behind
``decode_fn`` because no image/audio libraries exist in this
container — ``fake_image_decode`` is a deterministic stand-in with
the same signature a real (PIL/ffmpeg) decoder would have, and
``NotImplementedError`` marks the spots a real deployment fills in.

Scale notes: media bytes dominate row size, so the operators
repartition by byte budget (``target_partition_mb``) before the UDF —
keeping Arrow batches bounded — and only project the columns the UDF
needs (no full-row carry-through of megabyte blobs).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),       # image | audio | video
    StructField("content", BinaryType()),     # opaque encoded bytes
    StructField("mime", StringType()),
    StructField("meta", StringType()),        # JSON sidecar metadata
])

IMAGE_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("n_bytes", LongType()),
    StructField("mean_intensity", DoubleType()),
])


def fake_image_decode(content: bytes) -> dict[str, Any]:
    """Deterministic stand-in for a real image decoder. A real
    deployment replaces this with PIL/opencv:

        raise NotImplementedError("install pillow and decode here")

    The fake derives stable pseudo-dimensions/intensity from the bytes
    so plumbing tests have exact expectations.
    """
    n = len(content)
    w = 16 + (n % 64)
    h = 16 + ((n // 64) % 64)
    mean = (sum(content[:256]) / max(min(n, 256), 1)) if n else 0.0
    return {"width": w, "height": h, "n_bytes": n, "mean_intensity": round(mean, 6)}


def image_features(
    media: DataFrame,
    decode_fn: Callable[[bytes], dict[str, Any]] = fake_image_decode,
    repartition_to: int | None = None,
) -> DataFrame:
    """Decode/feature-extract image rows via mapInPandas. Projects to
    (media_id, content) first — never carries blobs it doesn't need.
    Partition sizing: blobs make rows huge, so either pass
    ``repartition_to`` or lower ``spark.sql.files.maxPartitionBytes``
    at read time so each Arrow batch stays memory-bounded."""
    imgs = media.where(F.col("kind") == "image").select("media_id", "content")
    if repartition_to:
        imgs = imgs.repartition(repartition_to)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_fn(bytes(b)) for b in pdf["content"]]
            out = pd.DataFrame(feats)
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return imgs.mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


FRAME_SAMPLE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("frame_idx", LongType()),
    StructField("frame", BinaryType()),
])


def frame_sample(
    media: DataFrame,
    every_n: int = 30,
    decode_fn: Callable[[bytes, int], list[tuple[int, bytes]]] | None = None,
    repartition_to: int | None = None,
) -> DataFrame:
    """Video frame-sampling over ``mapInPandas`` — one input video row
    explodes into one output row per sampled frame. ``decode_fn(
    content, every_n) -> [(frame_idx, frame_bytes), ...]`` is the
    decoder-injection seam (same pattern as
    ``image_features(decode_fn=...)``); a real deployment wires
    ffmpeg/PyAV there. This container has no video codec, so the
    DEFAULT decoder raises NotImplementedError at execution — the
    Spark plumbing (blob projection, Arrow batch shape, per-row
    explode) is real and pinned by a fake-decoder pytest."""

    def _no_decoder(content: bytes, n: int) -> list[tuple[int, bytes]]:
        raise NotImplementedError(
            "video decode requires ffmpeg; inject one via "
            "frame_sample(decode_fn=...)"
        )

    fn = decode_fn or _no_decoder
    vids = media.where(F.col("kind") == "video").select("media_id", "content")
    if repartition_to:
        vids = vids.repartition(repartition_to)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                for fi, fb in fn(bytes(blob), every_n):
                    ids.append(mid)
                    idxs.append(fi)
                    frames.append(fb)
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return vids.mapInPandas(run, schema=FRAME_SAMPLE_SCHEMA)


def synth_media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a deterministic MEDIA_SCHEMA frame from the documents
    fixture (text bytes as the opaque payload) so multimodal plumbing
    is exercisable without binary fixtures."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
        F.to_json(F.struct(F.col("lang"), F.col("source"))).alias("meta"),
    )


RESIZED_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("content", BinaryType()),
])

AUDIO_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("duration_s", DoubleType()),
    StructField("rms", DoubleType()),
])


def fake_image_resize(content: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for a real resize (PIL ``Image.resize``
    in a real deployment): truncates/pads the byte payload to
    width*height so batch-shape behavior is exact and testable."""
    target = width * height
    return (content + b"\x00" * target)[:target]


def resize_images(
    media: DataFrame,
    width: int = 32,
    height: int = 32,
    resize_fn: Callable[[bytes, int, int], bytes] = fake_image_resize,
    repartition_to: int | None = None,
) -> DataFrame:
    """Resize plumbing over mapInPandas: binary in -> binary out with
    fixed target dims. Same partition-sizing rules as image_features;
    output rows carry the (re-encoded) payload, so downstream writers
    should go straight to a partitioned sink."""
    imgs = media.where(F.col("kind") == "image").select("media_id", "content")
    if repartition_to:
        imgs = imgs.repartition(repartition_to)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"].values,
                "width": width,
                "height": height,
                "content": [resize_fn(bytes(b), width, height) for b in pdf["content"]],
            })

    return imgs.mapInPandas(run, schema=RESIZED_SCHEMA)


def fake_audio_decode(content: bytes) -> dict[str, Any]:
    """Deterministic stand-in for a real audio decoder (librosa/ffmpeg
    in a real deployment — raise NotImplementedError there until
    wired). Derives a stable pseudo-duration and RMS from the bytes."""
    n = len(content)
    dur = round(n / 16000.0, 6)
    rms = round((sum(b * b for b in content[:256]) / max(min(n, 256), 1)) ** 0.5, 6)
    return {"n_bytes": n, "duration_s": dur, "rms": rms}


def audio_features(
    media: DataFrame,
    decode_fn: Callable[[bytes], dict[str, Any]] = fake_audio_decode,
    repartition_to: int | None = None,
) -> DataFrame:
    """Audio feature extraction over mapInPandas (duration, RMS)."""
    auds = media.where(F.col("kind") == "audio").select("media_id", "content")
    if repartition_to:
        auds = auds.repartition(repartition_to)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_fn(bytes(b)) for b in pdf["content"]]
            out = pd.DataFrame(feats)
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return auds.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)


def png_image_decode(content: bytes) -> dict[str, Any]:
    """REAL image decode for the feature extractor: parses the PNG
    (pure-stdlib codec, operators/png.py), returning true dimensions
    and the true mean pixel intensity — the container has no imaging
    library, but grayscale PNG needs none. Drop-in for ``decode_fn``
    in :func:`image_features`."""
    from bht_etl_app_spark.operators.png import decode_png_gray

    w, h, pixels = decode_png_gray(bytes(content))
    mean = round(sum(pixels) / len(pixels), 6) if pixels else 0.0
    return {"width": w, "height": h, "n_bytes": len(content), "mean_intensity": mean}


def synth_png_media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-PNG media frame from the documents fixture:
    each doc's utf-8 bytes tile a doc_id-derived WxH grayscale image,
    encoded as a valid PNG (CRC-framed, zlib scanlines). Unlike
    :func:`synth_media_from_documents` (opaque text bytes), rows
    produced here round-trip through an actual decoder, so the
    multimodal path is exercised end to end: encode -> binary column
    -> mapInPandas decode -> features."""
    from bht_etl_app_spark.operators.png import encode_png_gray

    base = docs.select(F.col("doc_id"), F.encode("text", "utf-8").alias("payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w = 8 + int(doc_id) % 9
                h = 8 + int(doc_id) % 7
                need = w * h
                src = bytes(payload) or b"\x00"
                pixels = (src * (need // len(src) + 1))[:need]
                rows.append(
                    (
                        int(doc_id),
                        "image",
                        encode_png_gray(pixels, w, h),
                        "image/png",
                        "{}",
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "content", "mime", "meta"]
            )

    return base.mapInPandas(run, schema=MEDIA_SCHEMA)


def encode_wav_pcm16(samples, sample_rate: int = 16000) -> bytes:
    """Encode int16 PCM samples as a valid mono WAV (stdlib ``wave`` —
    RIFF framing needs no audio library)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(b"".join(struct.pack("<h", int(s)) for s in samples))
    return buf.getvalue()


def wav_audio_decode(content: bytes) -> dict[str, Any]:
    """REAL audio decode for the feature extractor: parses WAV framing
    and PCM16 samples with the stdlib, returning true duration and
    RMS. Drop-in for ``decode_fn`` in :func:`audio_features`."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(bytes(content)), "rb") as w:
        n = w.getnframes()
        rate = w.getframerate()
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise ValueError("only mono PCM16 supported")
        frames = w.readframes(n)
    samples = np.frombuffer(frames, dtype="<i2").astype(np.float64)
    rms = float(np.sqrt(np.mean(samples**2))) if len(samples) else 0.0
    return {
        "n_bytes": len(content),
        "duration_s": round(n / rate, 6),
        "rms": round(rms, 6),
    }


def synth_wav_media_from_documents(docs: DataFrame, sample_rate: int = 16000) -> DataFrame:
    """Deterministic REAL-WAV media frame from the documents fixture:
    each doc's utf-8 bytes become centered int16 samples (byte-128
    scaled), RIFF-framed by the stdlib — rows round-trip through an
    actual WAV parser (see :func:`wav_audio_decode`)."""
    base = docs.select(F.col("doc_id"), F.encode("text", "utf-8").alias("payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                src = bytes(payload) or b"\x80"
                samples = [(b - 128) * 256 for b in src]
                rows.append(
                    (
                        int(doc_id),
                        "audio",
                        encode_wav_pcm16(samples, sample_rate),
                        "audio/wav",
                        "{}",
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "content", "mime", "meta"]
            )

    return base.mapInPandas(run, schema=MEDIA_SCHEMA)


def synth_mjpeg_media_from_documents(
    docs: DataFrame, frames_per_doc: int = 6
) -> DataFrame:
    """Deterministic REAL-AVI media frame from the documents fixture:
    each doc becomes an MJPEG AVI of ``frames_per_doc`` synthetic
    JPEG-framed payloads seeded by (doc_id, frame index) — rows
    round-trip through the actual RIFF chunk walker
    (io.miniavi.read_avi_frames), exactly like the WAV/PNG paths."""
    from bht_etl_app_spark.io.miniavi import synth_jpeg, write_mjpeg_avi

    base = docs.select(F.col("doc_id"), F.length("text").alias("__n__"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, n in zip(pdf["doc_id"], pdf["__n__"]):
                frames = [
                    synth_jpeg(int(doc_id) * 1000 + i, 32 + (int(n) + i) % 64)
                    for i in range(frames_per_doc)
                ]
                rows.append(
                    (
                        int(doc_id),
                        "video",
                        write_mjpeg_avi(frames, 32, 24, fps=10),
                        "video/x-msvideo",
                        "{}",
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "content", "mime", "meta"]
            )

    return base.mapInPandas(run, schema=MEDIA_SCHEMA)


FRAME_STATS_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("n_frames_sampled", LongType()),
    StructField("first_frame_idx", LongType()),
    StructField("last_frame_idx", LongType()),
    StructField("total_frame_bytes", LongType()),
])


def video_frame_stats(
    media: DataFrame,
    every_n: int = 2,
    decode_fn: Callable[[bytes, int], list[tuple[int, bytes]]] | None = None,
) -> DataFrame:
    """Per-video stats over the sampled frames (the aggregation a
    frame-extraction pipeline feeds its manifest): sampled count,
    first/last true stream index, total sampled bytes. The decode is
    the injected container walker; everything after is native
    DataFrame aggregation on the exploded frames."""
    if decode_fn is None:
        from bht_etl_app_spark.io.miniavi import mjpeg_avi_decode

        decode_fn = mjpeg_avi_decode
    frames = frame_sample(media, every_n=every_n, decode_fn=decode_fn)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames_sampled"),
            F.min("frame_idx").cast("long").alias("first_frame_idx"),
            F.max("frame_idx").cast("long").alias("last_frame_idx"),
            F.sum(F.length("frame")).cast("long").alias("total_frame_bytes"),
        )
        .orderBy("media_id")
    )


def phash_average_gray(content: bytes) -> int:
    """64-bit average-hash perceptual fingerprint of a grayscale PNG:
    block-average the image onto an 8x8 grid, set bit ``8*i + j`` when
    cell (i, j) exceeds the grid mean. Identical images hash equal;
    small pixel noise flips few bits — hamming distance is the
    near-dup metric (same contract as SimHash's 64-bit signatures,
    so the banding machinery is shared). Returns a SIGNED 64-bit int
    (Spark LongType-compatible)."""
    from bht_etl_app_spark.operators.png import decode_png_gray

    w, h, pixels = decode_png_gray(bytes(content))
    if w == 0 or h == 0:
        return 0
    cells = []
    for i in range(8):
        r0, r1 = (i * h) // 8, max(((i + 1) * h) // 8, (i * h) // 8 + 1)
        r1 = min(r1, h)
        for j in range(8):
            c0, c1 = (j * w) // 8, max(((j + 1) * w) // 8, (j * w) // 8 + 1)
            c1 = min(c1, w)
            tot = n = 0
            for r in range(r0, r1):
                row = pixels[r * w + c0 : r * w + c1]
                tot += sum(row)
                n += len(row)
            cells.append(tot / n if n else 0.0)
    mean = sum(cells) / 64.0
    bits = 0
    for k, v in enumerate(cells):
        if v > mean:
            bits |= 1 << k
    return bits - (1 << 64) if bits >= 1 << 63 else bits


def image_phashes(
    media: DataFrame,
    decode_hash_fn: Callable[[bytes], int] = phash_average_gray,
    repartition_to: int | None = None,
) -> DataFrame:
    """Perceptual hash per image row via mapInPandas (the image decode
    is the declared Python seam — same shape as image_features).
    Output: ``(media_id, phash)`` — 8 bytes per image, the ONLY thing
    later stages shuffle."""
    imgs = media.where(F.col("kind") == "image").select("media_id", "content")
    if repartition_to:
        imgs = imgs.repartition(repartition_to)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "phash": [
                        decode_hash_fn(bytes(b)) for b in pdf["content"]
                    ],
                }
            )

    return imgs.mapInPandas(run, schema="media_id long, phash long")


def image_phash_near_dup(
    media: DataFrame,
    max_hamming: int = 6,
    bands: int | None = None,
    decode_hash_fn: Callable[[bytes], int] = phash_average_gray,
) -> DataFrame:
    """Image near-duplicate pairs by perceptual hash — multimodal
    dedup on the SimHash scale path: the 64-bit phash rides the SAME
    combinatorial banded hamming join as text SimHash
    (dedup.simhash_banded_frame — pigeonhole-exact recall, so output
    is banding-independent), with ``bit_count(xor)`` verification.
    Images decode ONCE to 8-byte hashes; no pixel data ever shuffles.
    Output: ``(id_a, id_b, hamming)``, hamming ≤ max_hamming.
    """
    from pyspark import StorageLevel

    from bht_etl_app_spark.functions.lifecycle import track_persisted
    from bht_etl_app_spark.operators.dedup import (
        simhash_banded_frame,
        simhash_pick,
    )

    if bands is None:
        bands = max_hamming + 1
    if not 0 < max_hamming < bands <= 64:
        raise ValueError(
            "bands must exceed max_hamming for exact recall "
            f"(got bands={bands}, max_hamming={max_hamming})"
        )
    pick = simhash_pick(bands, max_hamming)
    sig = image_phashes(media, decode_hash_fn).select(
        F.col("media_id").alias("id"), F.col("phash").alias("simhash")
    )
    banded = simhash_banded_frame(sig, bands, pick, id_col="id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    out = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bk"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return track_persisted(out, banded)
