"""Multimodal columns (north-star addition): image/audio/video payloads
as opaque ``binary`` columns with a typed metadata struct.

Decode/resize run REAL pixel math on ``gsraw`` — the engine's synthetic
raw-bitmap format (payload bytes = row-major 8-bit grayscale pixels,
tiled cyclically to width×height) — so bytes→array decode, nearest-
neighbor resampling, and luminance reductions are genuine vectorized
numpy over the Arrow batch path, and every emitted number is
SQL-replayable (integer pixel sums). Only codecs needing external
libraries (jpeg/png via PIL/libjpeg, ffmpeg for video, model runtimes
for features) raise ``NotImplementedError`` — this container has none
of them; the feature extractor ships a deterministic md5-seeded fake
vector so downstream operators (embedding similarity, dedup) stay
exercisable end-to-end.

Layout guidance at 100 TB: keep payload bytes in their own column so
Parquet column pruning skips them for metadata-only queries; partition
by (modality, ingest date); size ``spark.sql.files.maxPartitionBytes``
for ~128 MB tasks of mostly-binary rows; never collect payloads.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gibbon_spark.worker import drop_spark_archives

_FEATURE_DIM = 16
_FEATURE_SCHEMA = (
    "media_id long, modality string, payload_bytes long, payload_md5 string, "
    f"feature array<float>"
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter for the test corpus: wrap documents.text as utf-8 binary
    payloads so the multimodal plumbing has real rows to flow."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("modality"),
        F.lit("text/plain").alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def documents_as_mixed_media(docs: DataFrame) -> DataFrame:
    """Mixed-modality adapter: docs become image/audio/video payloads
    round-robin by id, with typed metadata derived DETERMINISTICALLY
    from the payload length — so every downstream media operator has all
    three branches to exercise and the oracle can recompute the metadata
    exactly (formulas mirrored in the query SQL)."""
    L = F.octet_length(F.encode("text", "UTF-8"))
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    is_image = F.col("doc_id") % 3 == 0
    is_audio = F.col("doc_id") % 3 == 1
    is_video = F.col("doc_id") % 3 == 2
    duration = (1000 + (L % 50) * 200).cast("long")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        modality.alias("modality"),
        F.concat(modality, F.lit("/fake")).alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.when(is_image, (16 + L % 320).cast("int")).alias("width"),
            F.when(is_image, (16 + (L * 7) % 240).cast("int")).alias("height"),
            F.when(~is_image, duration).alias("duration_ms"),
            F.when(is_audio, F.lit(16000)).cast("int").alias("sample_rate"),
            F.when(is_video, (duration / 40).cast("int")).alias("n_frames"),
        ).alias("meta"),
    )


_DECODE_SCHEMA = (
    "media_id long, width int, height int, n_pixels long, mean_luma double"
)

_RESIZE_SCHEMA = (
    "media_id long, out_w int, out_h int, resized_mean_luma double"
)


def decode_image(media: DataFrame, *, codec: str = "gsraw") -> DataFrame:
    """Image decode through the REAL Arrow batch path: mapInPandas over
    the payload column, one vectorized numpy pass per batch.

    ``gsraw`` is this engine's synthetic raw-bitmap format — payload
    bytes ARE the 8-bit grayscale pixels, row-major, tiled cyclically
    when the payload is shorter than width×height — so the decode is a
    genuine bytes→pixel-array transform with real reductions (mean
    luminance over the actual pixel buffer), not a hash stub, and the
    arithmetic is exactly replayable by the SQL oracle (integer pixel
    sums < 2^53 are exact in float64). Container formats that need
    external codecs (jpeg/png via PIL/libjpeg) are not available in
    this container and raise."""
    if codec != "gsraw":
        raise NotImplementedError(
            f"codec {codec!r} requires PIL/libjpeg — not available in "
            "this container; 'gsraw' runs the identical plumbing with a "
            "real bytes->pixels decode"
        )
    imgs = media.filter(F.col("modality") == "image").select(
        "media_id",
        "payload",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_spark_archives()
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            lumas = []
            for payload, w, h in zip(
                pdf["payload"], pdf["width"], pdf["height"]
            ):
                b = bytes(payload) if payload is not None else b"\x00"
                arr = np.frombuffer(b, dtype=np.uint8)
                n = int(w) * int(h)
                # closed form over the L-byte payload instead of
                # materializing the n-pixel tiled buffer (r13, same
                # identity and bit-exactness argument as decode_audio):
                # index i tiles full+1 times for i < rem, full times
                # otherwise, so Σpixels = full·Σ_base + Σ_prefix —
                # the identical integer the tiled sum produced.
                full, rem = divmod(n, len(arr))
                s = full * int(arr.sum(dtype=np.int64)) + int(
                    arr[:rem].sum(dtype=np.int64)
                )
                lumas.append(float(s) / n)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "n_pixels": (
                        pdf["width"].astype("int64")
                        * pdf["height"].astype("int64")
                    ),
                    "mean_luma": lumas,
                }
            )

    return imgs.mapInPandas(decode, _DECODE_SCHEMA)


def resize_image(
    media: DataFrame, *, target_w: int = 224, target_h: int = 224
) -> DataFrame:
    """Aspect-preserving nearest-neighbor RESAMPLE of gsraw images —
    the pixel half of the resize stage (resize_plan computes the
    metadata half). Output dims follow resize_plan's floor rule; each
    output pixel (y, x) reads source pixel ((y·h)//out_h, (x·w)//out_w)
    — real gather indexing on the decoded buffer, vectorized per Arrow
    batch. Emits the resized image's mean luminance: integer pixel sums,
    so the value is bit-reproducible and SQL-replayable."""
    imgs = media.filter(F.col("modality") == "image").select(
        "media_id",
        "payload",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )
    tw, th = int(target_w), int(target_h)

    def resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_spark_archives()
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            out_ws, out_hs, means = [], [], []
            for payload, w, h in zip(
                pdf["payload"], pdf["width"], pdf["height"]
            ):
                w, h = int(w), int(h)
                b = bytes(payload) if payload is not None else b"\x00"
                arr = np.frombuffer(b, dtype=np.uint8)
                scale = min(tw / w, th / h)
                ow, oh = int(w * scale), int(h * scale)
                sy = (np.arange(oh, dtype=np.int64) * h) // oh
                sx = (np.arange(ow, dtype=np.int64) * w) // ow
                # gather straight from the payload (r13): the tiled
                # image has img[y, x] = arr[(y·w + x) % L], so indexing
                # the ow×oh output grid directly skips materializing
                # the w×h tiled buffer — identical pixel values.
                resized = arr[(sy[:, None] * w + sx[None, :]) % len(arr)]
                out_ws.append(ow)
                out_hs.append(oh)
                means.append(
                    float(resized.sum(dtype=np.int64)) / (ow * oh)
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "out_w": out_ws,
                    "out_h": out_hs,
                    "resized_mean_luma": means,
                }
            )

    return imgs.mapInPandas(resample, _RESIZE_SCHEMA)


def resize_plan(
    media: DataFrame, *, target_w: int = 224, target_h: int = 224
) -> DataFrame:
    """Aspect-preserving resize planning — the metadata half of a resize
    stage, pure JVM expressions (the pixel resample itself would live in
    the decode_image stub). out dims = floor(dim * min(tw/w, th/h))."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.least(F.lit(float(target_w)) / w, F.lit(float(target_h)) / h)
    return media.filter(F.col("modality") == "image").select(
        "media_id",
        w.alias("width"),
        h.alias("height"),
        F.floor(w * scale).cast("int").alias("out_w"),
        F.floor(h * scale).cast("int").alias("out_h"),
    )


def sample_video_frames(media: DataFrame, *, every_ms: int = 1000) -> DataFrame:
    """Frame sampling as a DISTRIBUTED row-generation plan: one output
    row per (video, timestamp) at ``every_ms`` intervals via
    sequence()+explode — no collect, fan-out bounded by duration/step.
    The frame *content* is the stubbed part (no ffmpeg here): a
    deterministic md5 of (payload, frame_ts) stands in for the decoded
    frame bytes, so downstream dedup/feature stages stay exercisable
    and oracle-checkable."""
    vids = media.filter(F.col("modality") == "video").select(
        "media_id", "payload", F.col("meta.duration_ms").alias("duration_ms")
    )
    return vids.select(
        "media_id",
        "payload",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.col("duration_ms") - 1,
                F.lit(int(every_ms)).cast("long"),
            )
        ).alias("frame_ts_ms"),
    ).select(
        "media_id",
        "frame_ts_ms",
        F.md5(
            F.concat(
                "payload",
                F.encode(
                    F.concat(F.lit(":"), F.col("frame_ts_ms").cast("string")),
                    "UTF-8",
                ),
            )
        ).alias("frame_md5"),
    )


def extract_features(media: DataFrame, *, fake: bool = True) -> DataFrame:
    """Per-payload feature extraction through ``mapInPandas`` — the real
    Arrow batch path a production extractor uses, with a deterministic
    md5-seeded fake feature vector standing in for the model forward
    pass. Columns: payload size + md5 (real), 16-dim float feature
    (fake-but-deterministic)."""
    if not fake:
        raise NotImplementedError(
            "real feature extraction needs a model runtime; fake=True "
            "exercises the identical Spark plumbing"
        )

    dim = _FEATURE_DIM

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_spark_archives()
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            sizes, digests, feats = [], [], []
            for payload in pdf["payload"]:
                b = bytes(payload) if payload is not None else b""
                sizes.append(len(b))
                d = hashlib.md5(b).hexdigest()
                digests.append(d)
                # deterministic pseudo-feature: bytes of the digest,
                # centered and scaled — stands in for a model embedding
                raw = np.frombuffer(bytes.fromhex(d), dtype=np.uint8)
                f = ((raw.astype("float32") - 127.5) / 127.5)[:dim]
                feats.append(f)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "payload_bytes": sizes,
                    "payload_md5": digests,
                    "feature": feats,
                }
            )

    return media.mapInPandas(extract, _FEATURE_SCHEMA)


def payload_stats(media: DataFrame) -> DataFrame:
    """Metadata-only scan: payload size + content hash per modality —
    pure expressions; Parquet column pruning means the payload column is
    read but nothing else, and at scale a metadata-only variant (length
    persisted at ingest) skips the bytes entirely."""
    return media.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.octet_length("payload")).alias("total_bytes"),
        F.min(F.octet_length("payload")).alias("min_bytes"),
        F.max(F.octet_length("payload")).alias("max_bytes"),
    )


_AUDIO_SCHEMA = (
    "media_id long, n_samples long, mean_level double, rms double, peak int"
)


def decode_audio(media: DataFrame) -> DataFrame:
    """gsraw-audio decode: payload bytes are unsigned 8-bit PCM samples
    (center 128), tiled cyclically to n_samples = duration_ms *
    sample_rate / 1000 — real bytes→waveform decode with vectorized
    level/RMS/peak reductions per Arrow batch. Integer sample sums and
    sums of squares stay < 2^53, so every statistic is exact in float64
    and SQL-replayable (closed-form over the tiling: full_cycles · Σ +
    prefix)."""
    auds = media.filter(F.col("modality") == "audio").select(
        "media_id",
        "payload",
        F.col("meta.duration_ms").alias("duration_ms"),
        F.col("meta.sample_rate").alias("sample_rate"),
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_spark_archives()
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ns, means, rmss, peaks = [], [], [], []
            for payload, dur, sr in zip(
                pdf["payload"], pdf["duration_ms"], pdf["sample_rate"]
            ):
                b = bytes(payload) if payload is not None else b"\x80"
                arr = np.frombuffer(b, dtype=np.uint8)
                n = int(dur) * int(sr) // 1000
                # closed form over the L-byte base buffer instead of
                # materializing the n-sample tiled array (r13, guide
                # §1.2 "don't compute things you throw away"): tiling
                # arr[arange(n) % L] repeats base index i `full+1`
                # times for i < rem and `full` times otherwise, so
                # Σ = full·Σ_base + Σ_prefix — the SAME integer sums
                # the tiled reduction produced (n_samples/L ≈ 100× at
                # the fixture durations), and exactly the formula the
                # SQL oracle replays. Statistics are bit-identical.
                centered = arr.astype(np.int64) - 128
                full, rem = divmod(n, len(arr))
                sq = centered * centered
                s1 = full * int(centered.sum()) + int(centered[:rem].sum())
                s2 = full * int(sq.sum()) + int(sq[:rem].sum())
                absc = np.abs(centered)
                peak = int(absc.max()) if n >= len(arr) else int(absc[:n].max())
                ns.append(n)
                means.append(float(s1) / n)
                # sqrt of the quotient (NOT quotient of sqrts): the SQL
                # oracle computes sqrt(S2/n); IEEE sqrt is correctly
                # rounded, so this order is bit-identical to it
                rmss.append((float(s2) / n) ** 0.5)
                peaks.append(peak)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_samples": ns,
                    "mean_level": means,
                    "rms": rmss,
                    "peak": peaks,
                }
            )

    return auds.mapInPandas(decode, _AUDIO_SCHEMA)


_FRAME_LUMA_SCHEMA = (
    "media_id long, frame_idx long, frame_ts_ms long, frame_mean_luma double"
)
_FRAME_BYTES = 768  # 32x24 gsraw frame


def sample_frame_luma(
    media: DataFrame, *, every_ms: int = 2000, max_frames: int = 5
) -> DataFrame:
    """Video frame DECODE with real pixel math: sample one 32×24 gsraw
    frame every ``every_ms`` (capped at ``max_frames`` per video —
    logged cap, the thumbnail-strip pattern), where frame f's pixels
    are the 768 payload bytes at circular offset (f·997) mod len. The
    frame slice + luminance reduction run vectorized numpy per Arrow
    batch; the frame fan-out is sequence()+explode row generation (no
    collect, bounded by duration/step). Integer pixel sums keep every
    value SQL-replayable."""
    vids = media.filter(F.col("modality") == "video").select(
        "media_id",
        "payload",
        F.col("meta.duration_ms").alias("duration_ms"),
    )
    n_frames = F.least(
        ((F.col("duration_ms") + every_ms - 1) / every_ms).cast("long"),
        F.lit(int(max_frames)).cast("long"),
    )
    frames = vids.select(
        "media_id",
        "payload",
        F.explode(F.sequence(F.lit(0).cast("long"), n_frames - 1)).alias(
            "frame_idx"
        ),
    ).select(
        "media_id",
        "payload",
        "frame_idx",
        (F.col("frame_idx") * every_ms).alias("frame_ts_ms"),
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_spark_archives()
        import numpy as np
        import pandas as pd

        k = _FRAME_BYTES
        for pdf in batches:
            if not len(pdf):
                continue
            lumas = []
            for payload, f in zip(pdf["payload"], pdf["frame_idx"]):
                b = bytes(payload) if payload is not None else b"\x00"
                arr = np.frombuffer(b, dtype=np.uint8)
                o = (int(f) * 997) % len(arr)
                idx = (o + np.arange(k, dtype=np.int64)) % len(arr)
                lumas.append(float(arr[idx].sum(dtype=np.int64)) / k)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "frame_ts_ms": pdf["frame_ts_ms"],
                    "frame_mean_luma": lumas,
                }
            )

    return frames.mapInPandas(decode, _FRAME_LUMA_SCHEMA)


_AHASH_SCHEMA = "media_id long, ahash string"
_AHASH_GRID = 8  # 8x8 average hash (the standard 64-bit pHash-family size)


def image_ahash(media: DataFrame) -> DataFrame:
    """Perceptual average-hash for image near-dup detection: decode the
    gsraw image (payload bytes tiled row-major over width x height),
    nearest-neighbor sample an 8x8 grid (the SAME index arithmetic as
    resize_image), and set bit (r, c) iff pixel * 64 > sum(pixels) — a
    strict integer comparison, so no division and no float anywhere:
    the 64-char '0'/'1' hash is bit-exactly SQL-replayable. Images that
    survive small edits (the reason for hashing pixels, not bytes) land
    in the same bucket; downstream dedup is a plain groupBy on the
    hash. Vectorized numpy per Arrow batch, no shuffle."""
    imgs = media.filter(F.col("modality") == "image").select(
        "media_id",
        "payload",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_spark_archives()
        import numpy as np
        import pandas as pd

        g = _AHASH_GRID
        r = np.arange(g, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            hashes = []
            for payload, w, h in zip(pdf["payload"], pdf["width"], pdf["height"]):
                buf = np.frombuffer(
                    bytes(payload) if payload is not None else b"\x00",
                    dtype=np.uint8,
                )
                L = len(buf)
                rows = (r * int(h)) // g
                cols = (r * int(w)) // g
                idx = (rows[:, None] * int(w) + cols[None, :]) % L
                p = buf[idx].astype(np.int64)
                total = int(p.sum())
                bits = (p * (g * g) > total).astype(np.uint8).reshape(-1)
                hashes.append("".join("1" if b else "0" for b in bits))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "ahash": hashes}
            )

    return imgs.mapInPandas(compute, _AHASH_SCHEMA)
