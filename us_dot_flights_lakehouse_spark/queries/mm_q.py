"""Multimodal queries (mm_*): image/audio/video decode, features, frame analytics.

The module owns its catalog entries (``QUERIES``/``ORACLES`` at the end).
See the package ``__init__`` for the cross-engine determinism contract.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
import pandas as pd
from us_dot_flights_lakehouse_spark.llm import multimodal
from us_dot_flights_lakehouse_spark.sources.readers import read_corpus, read_table


#: doc_id % 5 -> synthetic magic prefix (hex) and the media type it decodes to
_MM_MAGIC = (
    ("89504E47", "image/png"),
    ("FFD8FFE0", "image/jpeg"),
    ("47494638", "image/gif"),
    ("52494646", "audio/wav"),
    ("1A45DFA3", "video/webm"),
)


def _synthetic_payload() -> "F.Column":
    """Deterministic binary payload: a real media magic prefix (by
    doc_id % 5) followed by the UTF-8 text bytes — exercises the binary
    column path without shipping codecs."""
    magic = F.lit(_MM_MAGIC[-1][0])
    for i, (hexmagic, _) in enumerate(_MM_MAGIC[:-1]):
        magic = F.when(F.col("doc_id") % 5 == i, hexmagic).otherwise(magic)
    return F.concat(F.unhex(magic), F.encode(F.col("text"), "UTF-8"))


def mm_media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: typed-metadata manifest over an opaque binary media column —
    magic-byte type sniffing (pure Column CASE, JVM-side) + payload size.
    The oracle recomputes the type from the same hex prefix in SQL."""
    docs = read_corpus(spark, sf_dir, "documents").select(
        "doc_id", _synthetic_payload().alias("payload")
    )
    manifest = multimodal.with_media_metadata(docs)
    return manifest.select(
        "doc_id",
        F.col("media_meta.media_type").alias("media_type"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
    )


def _mm_manifest_oracle() -> str:
    cases = " ".join(
        f"WHEN {i} THEN '{mtype}'" for i, (_, mtype) in enumerate(_MM_MAGIC)
    )
    return f"""
SELECT doc_id,
       CASE doc_id % 5 {cases} END AS media_type,
       CAST(4 + octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
"""


def mm_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: Arrow-batched per-partition binary feature extraction
    (mapInPandas) — the real multimodal plumbing path. Oracle-checked on
    the exact integer features (byte count, mean byte — the corpus is
    ASCII so SQL can recompute them character-wise); byte_entropy is
    covered by unit tests (float log2 summation order is not
    cross-engine-stable)."""
    docs = read_corpus(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    feats = multimodal.byte_features(docs, id_col="doc_id", bin_col="payload")
    return feats.select(
        F.col("id").alias("doc_id"), "n_bytes", "mean_byte"
    )


MM_BYTES_ORACLE = """
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bytes,
       CAST(SUM(ord(ch)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_byte
FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
GROUP BY doc_id
"""


def mm_image_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: header-level image dimension decode — synthesizes structurally
    valid PNG / JPEG(JFIF+SOF0) / GIF headers with dimensions derived from
    doc_id, then recovers them with the codec-free byte-arithmetic parser
    (``multimodal.decode_image_headers``). The oracle recomputes the
    expected dims arithmetically, so a parser offset bug hash-fails."""
    docs = read_corpus(spark, sf_dir, "documents").select("doc_id")
    w = (F.col("doc_id") % 1024 + 16).cast("int")
    h = ((F.col("doc_id") * 7) % 1024 + 16).cast("int")
    be32 = lambda c: F.lpad(F.hex(c), 8, "0")  # noqa: E731
    be16 = lambda c: F.lpad(F.hex(c), 4, "0")  # noqa: E731
    le16 = lambda c: F.concat(  # noqa: E731
        F.substring(be16(c), 3, 2), F.substring(be16(c), 1, 2)
    )
    png = F.concat(
        F.lit("89504E470D0A1A0A0000000D49484452"), be32(w), be32(h), F.lit("0806000000")
    )
    jpeg = F.concat(
        F.lit("FFD8FFE000104A46494600010100000100010000FFC0001108"),
        be16(h),
        be16(w),
        F.lit("03012200021101031101"),
    )
    gif = F.concat(F.lit("474946383961"), le16(w), le16(h), F.lit("F70000"))
    payload = F.unhex(
        F.when(F.col("doc_id") % 3 == 0, png)
        .when(F.col("doc_id") % 3 == 1, jpeg)
        .otherwise(gif)
    )
    imgs = docs.select("doc_id", payload.alias("payload"))
    dims = multimodal.decode_image_headers(imgs, id_col="doc_id")
    return dims.select(
        F.col("id").alias("doc_id"), "media_type", "width", "height"
    )


MM_DIMS_ORACLE = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image/png'
                       WHEN 1 THEN 'image/jpeg'
                       ELSE 'image/gif' END AS media_type,
       CAST(doc_id % 1024 + 16 AS INTEGER) AS width,
       CAST((doc_id * 7) % 1024 + 16 AS INTEGER) AS height
FROM documents
"""


def mm_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: REAL pixel-level decode end-to-end — synthesizes an actual 8x8
    grayscale PNG per document (pixel i = (7*doc_id + i) % 256, encoded
    with the stdlib-zlib PNG writer), decodes it back to pixels with the
    codec-free ``multimodal.decode_image`` operator (zlib inflate + numpy
    unfiltering), and aggregates per-image pixel statistics. The oracle
    recomputes the stats from the closed form, so a bug anywhere in the
    encode → chunk-walk → inflate → unfilter → stats chain hash-fails.
    Mean divides by 64 (a power of two), so the double is exact in both
    engines."""
    import numpy as np

    # read_table, not read_corpus: the pixel kernels are microseconds per
    # row, so the 32-way repartition costs more in per-partition Python
    # runner round-trips (3 chained mapInPandas stages) than it buys
    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import png_encode

        for pdf in batches:
            payloads = [
                png_encode(
                    ((7 * int(d) + np.arange(64)) % 256)
                    .astype(np.uint8)
                    .reshape(8, 8),
                    "L",
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    imgs = docs.mapInPandas(synth, schema="id long, payload binary")
    decoded = multimodal.decode_image(imgs)

    def stats(batches):
        for pdf in batches:
            rows = []
            for i, w, h, mode, px in zip(
                pdf["id"], pdf["width"], pdf["height"], pdf["mode"], pdf["pixels"]
            ):
                a = np.frombuffer(px, np.uint8)
                rows.append(
                    (
                        i,
                        int(w),
                        int(h),
                        mode,
                        float(int(a.sum()) / 64),
                        int(a.min()),
                        int(a.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "mode",
                    "mean_px",
                    "min_px",
                    "max_px",
                ],
            )

    return decoded.mapInPandas(
        stats,
        schema=(
            "doc_id long, width int, height int, mode string, "
            "mean_px double, min_px int, max_px int"
        ),
    )


MM_PIXEL_ORACLE = """
WITH px AS (
  SELECT doc_id, list_transform(range(0, 64), i -> (7 * doc_id + i) % 256) AS p
  FROM documents
)
SELECT doc_id,
       CAST(8 AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       'L' AS mode,
       list_sum(p) / 64.0 AS mean_px,
       CAST(list_aggregate(p, 'min') AS INTEGER) AS min_px,
       CAST(list_aggregate(p, 'max') AS INTEGER) AS max_px
FROM px
"""


def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: image resize pipeline end-to-end — synthesizes a 16x16
    grayscale PNG per document (pixel i = (7*doc_id + i) % 256), decodes
    it (real zlib+unfilter path), then CHAINS two resizes: 2x box
    downsample (integer block mean, the thumbnail path) to 8x8 and a
    nearest-neighbor downsample to 4x4 — the composition proves resize
    output re-enters the decoded-image schema. The oracle recomputes the
    final 16 pixels arithmetically (each box mean from its four mod-256
    source values — modular wrap breaks naive linearity, so a stride or
    offset bug anywhere in the chain hash-fails)."""
    import numpy as np

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import png_encode

        for pdf in batches:
            payloads = [
                png_encode(
                    ((7 * int(d) + np.arange(256)) % 256)
                    .astype(np.uint8)
                    .reshape(16, 16),
                    "L",
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    imgs = docs.mapInPandas(synth, schema="id long, payload binary")
    small = multimodal.resize_image(
        multimodal.resize_image(multimodal.decode_image(imgs), 8, 8, "box"),
        4,
        4,
        "nearest",
    )

    def stats(batches):
        for pdf in batches:
            rows = []
            for i, w, h, px in zip(
                pdf["id"], pdf["width"], pdf["height"], pdf["pixels"]
            ):
                a = np.frombuffer(px, np.uint8).astype(np.int64)
                rows.append((i, int(w), int(h), int(a.sum()), int(a.min()), int(a.max())))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "sum_px", "min_px", "max_px"],
            )

    return small.mapInPandas(
        stats,
        schema="doc_id long, width int, height int, sum_px bigint, min_px bigint, max_px bigint",
    )


def mm_image_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: geometric augmentation chain — 8x8 synth PNG (pixel i =
    (7*doc_id + i) % 256) decoded, then flip_lr ∘ rot90 (which composes
    to a transpose: out(y,x) = orig(x,y)). The output checksum is
    POSITION-WEIGHTED (sum (j+1) * pixel[j]), so any orientation mistake
    — wrong flip axis, clockwise instead of CCW, missing contiguous
    copy — changes the hash even though the multiset of pixels never
    does."""
    import numpy as np

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import png_encode

        for pdf in batches:
            payloads = [
                png_encode(
                    ((7 * int(d) + np.arange(64)) % 256)
                    .astype(np.uint8)
                    .reshape(8, 8),
                    "L",
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    imgs = docs.mapInPandas(synth, schema="id long, payload binary")
    out = multimodal.transform_image(
        multimodal.transform_image(multimodal.decode_image(imgs), "flip_lr"),
        "rot90",
    )

    def stats(batches):
        for pdf in batches:
            rows = []
            for i, w, h, px in zip(
                pdf["id"], pdf["width"], pdf["height"], pdf["pixels"]
            ):
                a = np.frombuffer(px, np.uint8).astype(np.int64)
                weighted = int((a * (np.arange(a.size) + 1)).sum())
                rows.append((i, int(w), int(h), weighted))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "weighted_sum"]
            )

    return out.mapInPandas(
        stats, schema="doc_id long, width int, height int, weighted_sum bigint"
    )


# flip_lr then rot90(CCW) on a square image is the transpose:
# out(y, x) = orig(x, y) = (7*doc_id + 8*x + y) % 256
MM_AUGMENT_ORACLE = """
WITH px AS (
  SELECT doc_id,
    list_transform(range(0, 64),
                   j -> (7 * doc_id + 8 * (j % 8) + (j // 8)) % 256) AS p
  FROM documents
)
SELECT doc_id,
       CAST(8 AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       CAST(list_sum(list_transform(range(0, 64), j -> p[j + 1] * (j + 1)))
            AS BIGINT) AS weighted_sum
FROM px
"""


def mm_image_crop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: image cropping — same 16x16 synth PNG as mm_image_resize,
    decoded then center-window-cropped to the 8x8 region at (x0=4, y0=2)
    via ``multimodal.crop_image`` (pure slicing, exact). The oracle
    states each cropped pixel arithmetically: crop(y, x) =
    (7*doc_id + 16*(y+2) + (x+4)) % 256, so an offset/stride bug in the
    slicing hash-fails."""
    import numpy as np

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import png_encode

        for pdf in batches:
            payloads = [
                png_encode(
                    ((7 * int(d) + np.arange(256)) % 256)
                    .astype(np.uint8)
                    .reshape(16, 16),
                    "L",
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    imgs = docs.mapInPandas(synth, schema="id long, payload binary")
    cropped = multimodal.crop_image(multimodal.decode_image(imgs), 4, 2, 8, 8)

    def stats(batches):
        for pdf in batches:
            rows = []
            for i, w, h, px in zip(
                pdf["id"], pdf["width"], pdf["height"], pdf["pixels"]
            ):
                a = np.frombuffer(px, np.uint8).astype(np.int64)
                rows.append(
                    (i, int(w), int(h), int(a.sum()), int(a.min()), int(a.max()))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "sum_px", "min_px", "max_px"],
            )

    return cropped.mapInPandas(
        stats,
        schema=(
            "doc_id long, width int, height int, sum_px bigint, "
            "min_px bigint, max_px bigint"
        ),
    )


MM_CROP_ORACLE = """
WITH px AS (
  SELECT doc_id,
    list_transform(range(0, 64),
                   j -> (7 * doc_id + 16 * (j // 8) + (j % 8) + 36) % 256) AS p
  FROM documents
)
SELECT doc_id,
       CAST(8 AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       CAST(list_sum(p) AS BIGINT) AS sum_px,
       CAST(list_aggregate(p, 'min') AS BIGINT) AS min_px,
       CAST(list_aggregate(p, 'max') AS BIGINT) AS max_px
FROM px
"""


# final 4x4 pixel (y=j//4, x=j%4) <- box mean at 8x8 position (2y, 2x)
# <- 2x2 source block with top-left (4y, 4x) of the 16x16 synth image:
# base = 7*doc_id + 16*(4y) + 4x; mean of the four mod-256 values.
MM_RESIZE_ORACLE = """
WITH px AS (
  SELECT doc_id,
    list_transform(range(0, 16), j -> (
      ((7 * doc_id + 64 * (j // 4) + 4 * (j % 4)) % 256
       + (7 * doc_id + 64 * (j // 4) + 4 * (j % 4) + 1) % 256
       + (7 * doc_id + 64 * (j // 4) + 4 * (j % 4) + 16) % 256
       + (7 * doc_id + 64 * (j // 4) + 4 * (j % 4) + 17) % 256) // 4
    )) AS p
  FROM documents
)
SELECT doc_id,
       CAST(4 AS INTEGER) AS width,
       CAST(4 AS INTEGER) AS height,
       CAST(list_sum(p) AS BIGINT) AS sum_px,
       CAST(list_aggregate(p, 'min') AS BIGINT) AS min_px,
       CAST(list_aggregate(p, 'max') AS BIGINT) AS max_px
FROM px
"""


def mm_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: REAL baseline-JPEG decode end-to-end — synthesizes a 16x16
    grayscale JPEG per document (four 8x8 constant blocks, block b =
    2*((7*doc_id + 37*b) % 128)) with the pure-numpy encoder, decodes it
    back through ``decode_image``'s jpeg path (huffman entropy decode →
    dequant → IDCT), and aggregates pixel stats. Even-valued constant
    blocks quantize EXACTLY under the Annex K table (DC = (c-128)/2, all
    ACs zero), so the decode is bit-lossless and the oracle recomputes
    the stats from the closed form — any bug in either direction of the
    huffman/quant/DCT chain hash-fails. Mean divides by 256 (power of
    two): exact double both engines.

    read_corpus, not read_table: the JPEG codec kernel is ~1 ms/row —
    unlike mm_pixel_stats' microsecond PNG kernels, the 32-way
    repartition buys back far more than the Python-runner round-trips
    cost (measured 1.8 -> 1.0 s at sf0.1)."""
    import numpy as np

    docs = read_corpus(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.jpeg import jpeg_encode_gray

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                img = np.zeros((16, 16), np.uint8)
                for b in range(4):
                    by, bx = divmod(b, 2)
                    img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                        2 * ((7 * int(d) + 37 * b) % 128)
                    )
                payloads.append(jpeg_encode_gray(img))
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    imgs = docs.mapInPandas(synth, schema="id long, payload binary")
    decoded = multimodal.decode_image(imgs)

    def stats(batches):
        for pdf in batches:
            rows = []
            for i, w, h, mode, px in zip(
                pdf["id"], pdf["width"], pdf["height"], pdf["mode"], pdf["pixels"]
            ):
                a = np.frombuffer(px, np.uint8)
                rows.append(
                    (
                        i,
                        int(w),
                        int(h),
                        mode,
                        float(int(a.sum()) / 256),
                        int(a.min()),
                        int(a.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "mode",
                    "mean_px",
                    "min_px",
                    "max_px",
                ],
            )

    return decoded.mapInPandas(
        stats,
        schema=(
            "doc_id long, width int, height int, mode string, "
            "mean_px double, min_px int, max_px int"
        ),
    )


MM_JPEG_ORACLE = """
WITH blocks AS (
  SELECT doc_id,
         list_transform(range(0, 4), b -> 2 * ((7 * doc_id + 37 * b) % 128)) AS c
  FROM documents
)
SELECT doc_id,
       CAST(16 AS INTEGER) AS width,
       CAST(16 AS INTEGER) AS height,
       'L' AS mode,
       list_sum(c) * 64 / 256.0 AS mean_px,
       CAST(list_aggregate(c, 'min') AS INTEGER) AS min_px,
       CAST(list_aggregate(c, 'max') AS INTEGER) AS max_px
FROM blocks
"""


def mm_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: REAL video frame sampling end-to-end — synthesizes a 6-frame
    4x4 uncompressed AVI per document (gray pixel g = (11*doc_id + 17*f
    + 5*i) % 256 on all three channels, 25 fps), samples every 80 ms
    (stride 2 → frames 0/2/4) through ``multimodal.sample_frames``'s
    RIFF-walk + DIB decode, and aggregates per-frame stats. The oracle
    recomputes from the closed form, so the encode → RIFF walk → row
    unpad/flip/BGR swap → sample-stride chain is hash-checked. Mean
    divides by 48 = 3*16 with equal channels → sum/48 is exact."""
    import numpy as np

    # read_table for the same reason as mm_pixel_stats: tiny per-row kernels
    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import avi_encode

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                g = (
                    11 * int(d)
                    + 17 * np.arange(6)[:, None]
                    + 5 * np.arange(16)[None, :]
                ) % 256
                frames = np.repeat(
                    g.astype(np.uint8).reshape(6, 4, 4, 1), 3, axis=3
                )
                payloads.append(avi_encode(frames, us_per_frame=40_000))
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    vids = docs.mapInPandas(synth, schema="id long, payload binary")
    sampled = multimodal.sample_frames(vids, every_ms=80)

    def stats(batches):
        for pdf in batches:
            rows = []
            for i, f, ts, w, h, px in zip(
                pdf["id"], pdf["frame_idx"], pdf["ts_ms"], pdf["width"],
                pdf["height"], pdf["pixels"],
            ):
                a = np.frombuffer(px, np.uint8)
                rows.append(
                    (i, int(f), int(ts), int(w), int(h),
                     float(int(a.sum()) / a.size), int(a.min()), int(a.max()))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "ts_ms", "width", "height",
                         "mean_px", "min_px", "max_px"],
            )

    return sampled.mapInPandas(
        stats,
        schema=(
            "doc_id long, frame_idx int, ts_ms long, width int, height int, "
            "mean_px double, min_px int, max_px int"
        ),
    )


MM_FRAME_ORACLE = """
WITH fr AS (SELECT unnest([0, 2, 4]) AS f),
px AS (
  SELECT doc_id, f,
         list_transform(range(0, 16), i -> (11 * doc_id + 17 * f + 5 * i) % 256) AS p
  FROM documents CROSS JOIN fr
)
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(f * 40 AS BIGINT) AS ts_ms,
       CAST(4 AS INTEGER) AS width,
       CAST(4 AS INTEGER) AS height,
       list_sum(p) / 16.0 AS mean_px,
       CAST(list_aggregate(p, 'min') AS INTEGER) AS min_px,
       CAST(list_aggregate(p, 'max') AS INTEGER) AS max_px
FROM px
"""


def mm_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: audio resampling — decode the synthesized 16-bit PCM WAV
    (same (doc_id*31 + i*7919) % 4001 - 2000 sample formula as
    mm_audio_stats), then decimate 2x with pair-mean averaging (the
    anti-aliasing box filter; integer floor-division keeps every output
    sample exact, the same discipline as the image box resize). The
    oracle recomputes the resampled stream's stats from the closed form,
    so the decode → pair → floordiv chain is hash-checked.

    Scale: per-row Arrow kernels, zero shuffle — resampling runs at scan
    speed, which is what makes decode-resample-train pipelines feasible
    on petabyte audio corpora."""
    import numpy as np

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import wav_encode

        for pdf in batches:
            payloads = [
                wav_encode(
                    ((int(d) * 31 + np.arange(256) * 7919) % 4001 - 2000).astype(
                        np.int16
                    ),
                    8000,
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    wavs = docs.mapInPandas(synth, schema="id long, payload binary")
    decoded = multimodal.decode_audio(wavs)

    def resample(batches):
        for pdf in batches:
            rows = []
            for i, buf in zip(pdf["id"], pdf["samples"]):
                v = np.frombuffer(buf, "<i2").astype(np.int64)
                # pair-mean decimation with FLOOR division (numpy //);
                # note DuckDB's // truncates toward zero instead, so the
                # oracle floors explicitly
                out = (v[0::2] + v[1::2]) // 2
                rows.append(
                    (
                        i,
                        int(out.size),
                        4000,
                        int(np.abs(out).sum()),
                        int(out.min()),
                        int(out.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "sample_rate_hz",
                    "sum_abs", "min_s", "max_s",
                ],
            )

    return decoded.mapInPandas(
        resample,
        schema=(
            "doc_id long, n_samples int, sample_rate_hz int, "
            "sum_abs bigint, min_s bigint, max_s bigint"
        ),
    )


MM_RESAMPLE_ORACLE = """
WITH s AS (
  SELECT doc_id,
         -- numpy's // FLOORS; DuckDB's // truncates toward zero, so the
         -- oracle floors explicitly (pair sums are small: double-exact)
         list_transform(range(0, 128), j ->
           CAST(floor(
             (((doc_id * 31 + (2*j) * 7919) % 4001 - 2000)
              + ((doc_id * 31 + (2*j+1) * 7919) % 4001 - 2000)) / 2.0
           ) AS BIGINT)) AS v
  FROM documents
)
SELECT doc_id,
       CAST(128 AS INTEGER) AS n_samples,
       CAST(4000 AS INTEGER) AS sample_rate_hz,
       CAST(list_sum(list_transform(v, x -> abs(x))) AS BIGINT) AS sum_abs,
       CAST(list_aggregate(v, 'min') AS BIGINT) AS min_s,
       CAST(list_aggregate(v, 'max') AS BIGINT) AS max_s
FROM s
"""


def mm_video_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: inter-frame motion metric — same synthesized AVI and 80 ms
    sampling as ``mm_frame_stats``, with the decode and the
    consecutive-sample |pixel delta| sums FUSED into one Arrow kernel
    (``multimodal.frame_motion``): a video's frames all live inside its
    one blob, so the metric needs no regroup — zero shuffle, no pixel
    bytes leave the task (VERDICT r4 item 5 replaced the
    sample_frames → groupBy-applyInPandas pipeline that exchanged every
    decoded frame). The oracle recomputes every |pixel(f+2) - pixel(f)|
    from the synth closed form — mod-256 wraparound included, so an
    order-or-offset bug in the sampling hash-fails.

    read_corpus, not read_table: the synth+decode is ~ms of Python per
    row; a single-split scan would serialize it on one core."""
    import numpy as np

    docs = read_corpus(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import avi_encode

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                g = (
                    11 * int(d)
                    + 17 * np.arange(6)[:, None]
                    + 5 * np.arange(16)[None, :]
                ) % 256
                frames = np.repeat(
                    g.astype(np.uint8).reshape(6, 4, 4, 1), 3, axis=3
                )
                payloads.append(avi_encode(frames, us_per_frame=40_000))
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    vids = docs.mapInPandas(synth, schema="id long, payload binary")
    return multimodal.frame_motion(vids, every_ms=80).select(
        F.col("id").alias("doc_id"), "n_sampled", "motion_total", "motion_mean"
    )


MM_MOTION_ORACLE = """
WITH d AS (
  SELECT doc_id,
    list_sum(list_transform(range(0, 16), i ->
      abs((11 * doc_id + 17 * 2 + 5 * i) % 256 - (11 * doc_id + 5 * i) % 256)
      + abs((11 * doc_id + 17 * 4 + 5 * i) % 256 - (11 * doc_id + 17 * 2 + 5 * i) % 256)
    )) * 3 AS motion_total
  FROM documents
)
SELECT doc_id,
       CAST(3 AS INTEGER) AS n_sampled,
       CAST(motion_total AS BIGINT) AS motion_total,
       CAST(motion_total AS DOUBLE) / (2 * 48) AS motion_mean
FROM d
"""


SCENE_CUT_THRESHOLD = 1000


def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: shot-boundary (scene-cut) detection — per consecutive
    sampled-frame pair, the total absolute pixel delta and an
    ``is_cut`` verdict (``multimodal.frame_cuts``, the per-pair sibling
    of the fused motion kernel): the clip-splitting signal a video
    pipeline runs before captioning or frame dedup. The synthesized
    6-frame AVI plants ONE scene change at frame (doc_id % 4 + 1): scene
    1 shifts the deterministic gradient by +100 gray levels, all values
    kept < 256 so NO mod-256 wraparound muddies the margin — within-
    scene pairs total 48·9 = 432, the boundary pair 48·109 = 5232, and
    the {SCENE_CUT_THRESHOLD} threshold separates them cleanly. The
    oracle re-derives every pair's delta from the closed form, so a
    sampling-order or offset bug hash-fails.

    Scale: zero shuffle — synth, decode, diffs and thresholding all
    inside one Arrow-batched mapInPandas pass (frame_motion's
    contract)."""
    import numpy as np

    docs = read_corpus(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import avi_encode

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                cut = int(d) % 4 + 1
                f = np.arange(6)[:, None]
                g = (
                    2 * (int(d) % 8)
                    + 9 * f
                    + 3 * np.arange(16)[None, :]
                    + 100 * (f >= cut)
                )
                frames = np.repeat(
                    g.astype(np.uint8).reshape(6, 4, 4, 1), 3, axis=3
                )
                payloads.append(avi_encode(frames, us_per_frame=40_000))
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    vids = docs.mapInPandas(synth, schema="id long, payload binary")
    return multimodal.frame_cuts(
        vids, every_ms=40, threshold=SCENE_CUT_THRESHOLD
    ).select(F.col("id").alias("doc_id"), "pair_idx", "diff_total", "is_cut")


MM_SCENE_CUTS_ORACLE = f"""
SELECT doc_id,
       CAST(p AS INTEGER) AS pair_idx,
       CAST(48 * 9 + CASE WHEN p = doc_id % 4 THEN 48 * 100 ELSE 0 END
            AS BIGINT) AS diff_total,
       (48 * 9 + CASE WHEN p = doc_id % 4 THEN 48 * 100 ELSE 0 END)
         > {SCENE_CUT_THRESHOLD} AS is_cut
FROM documents, (SELECT unnest(range(0, 5)) AS p)
"""


def _frame_dedup_pixels(residue: int, frame: int):
    """The deterministic frame pixels shared by mm_frame_dedup's Spark
    synth and its oracle builder — ONE definition so the md5 literals
    can never drift from the kernel."""
    import numpy as np

    g = (7 * residue + 17 * frame + 5 * np.arange(16)) % 256
    return np.repeat(g.astype(np.uint8).reshape(4, 4, 1), 3, axis=2)


def mm_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: cross-video FRAME-level dedup — sampled frames fingerprinted
    by md5 over their raw pixel bytes and clustered corpus-wide: the
    boilerplate-intro / static-logo detector a video pipeline runs
    before captioning (doc-level video dedup misses a shared 5-second
    intro; frame-level catches it). Videos are synthesized so content
    depends only on doc_id mod 16 — every frame recurs across ~n/16
    documents — and the oracle embeds the 48 ground-truth digests
    (computed in Python from the SAME pixel definition), so a decode,
    sampling-order, or byte-layout bug hash-fails. Output: one row per
    distinct frame with its copy count and (min doc, sample) keeper.

    Scale: synth+decode+digest fused in one mapInPandas pass (zero pixel
    bytes shuffle — only 32-char digests reach the groupBy); the rollup
    keys on the digest."""
    import numpy as np

    docs = read_corpus(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import avi_encode

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                frames = np.stack(
                    [_frame_dedup_pixels(int(d) % 16, f) for f in range(6)]
                )
                payloads.append(avi_encode(frames, us_per_frame=40_000))
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    vids = docs.mapInPandas(synth, schema="id long, payload binary")

    def digest(batches):
        import hashlib

        from us_dot_flights_lakehouse_spark.llm.multimodal import (
            _sampled_frames,
        )

        for pdf in batches:
            rows = []
            for i, blob in zip(pdf["id"], pdf["payload"]):
                for s, (*_meta, px) in enumerate(_sampled_frames(blob, 80)):
                    rows.append(
                        (i, s, hashlib.md5(px.tobytes()).hexdigest())
                    )
            yield pd.DataFrame(rows, columns=["id", "sample_idx", "frame_md5"])

    frames = vids.mapInPandas(
        digest, schema="id long, sample_idx int, frame_md5 string"
    )
    return frames.groupBy("frame_md5").agg(
        F.count("*").cast("bigint").alias("n_copies"),
        F.min("id").cast("bigint").alias("keeper_doc_id"),
    )


def _frame_dedup_oracle() -> str:
    import hashlib

    rows = []
    for r in range(16):
        for s, f in enumerate((0, 2, 4)):  # 80 ms stride over 40 ms frames
            md5 = hashlib.md5(_frame_dedup_pixels(r, f).tobytes()).hexdigest()
            rows.append(f"({r}, {s}, '{md5}')")
    return f"""
WITH lut(r, s, frame_md5) AS (VALUES {", ".join(rows)}),
frames AS (
  SELECT d.doc_id, l.frame_md5
  FROM documents d JOIN lut l ON l.r = d.doc_id % 16
)
SELECT frame_md5,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
FROM frames GROUP BY 1
"""


def mm_mjpeg_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: REAL compressed-codec frame sampling — synthesizes a 6-frame
    8x8 MJPEG AVI per document ('00dc' chunks, each a baseline JPEG;
    frame f is the constant even gray g = 2*((5*doc_id + 29*f) % 128),
    25 fps), samples every 80 ms (stride 2 → frames 0/2/4) through
    ``sample_frames``'s jpeg path, and aggregates per-frame stats.
    DC-only even-valued frames decode bit-losslessly, so the oracle is
    closed form and the whole RIFF walk → huffman → dequant → IDCT
    chain hash-fails on any defect. Lifts the '00dc is always gated'
    limitation for the dominant MJPEG case.

    read_corpus, not read_table: 6 JPEG encodes + 3 decodes ≈ 2.3 ms of
    Python per row — the single-split scan serializes that on one core
    (measured 4.5 -> 1.3 s at sf0.1 with the 32-way repartition)."""
    import numpy as np

    docs = read_corpus(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import avi_encode_mjpeg

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                g = 2 * ((5 * int(d) + 29 * np.arange(6)) % 128)
                frames = np.repeat(
                    g.astype(np.uint8)[:, None, None], 64, axis=1
                ).reshape(6, 8, 8)
                payloads.append(avi_encode_mjpeg(frames, us_per_frame=40_000))
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    vids = docs.mapInPandas(synth, schema="id long, payload binary")
    sampled = multimodal.sample_frames(vids, every_ms=80)

    def stats(batches):
        for pdf in batches:
            rows = []
            for i, f, ts, w, h, mode, px in zip(
                pdf["id"], pdf["frame_idx"], pdf["ts_ms"], pdf["width"],
                pdf["height"], pdf["mode"], pdf["pixels"],
            ):
                a = np.frombuffer(px, np.uint8)
                rows.append(
                    (i, int(f), int(ts), int(w), int(h), mode,
                     float(int(a.sum()) / a.size), int(a.min()), int(a.max()))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "ts_ms", "width", "height",
                         "mode", "mean_px", "min_px", "max_px"],
            )

    return sampled.mapInPandas(
        stats,
        schema=(
            "doc_id long, frame_idx int, ts_ms long, width int, height int, "
            "mode string, mean_px double, min_px int, max_px int"
        ),
    )


MM_MJPEG_ORACLE = """
WITH fr AS (SELECT unnest([0, 2, 4]) AS f),
g AS (
  SELECT doc_id, f, 2 * ((5 * doc_id + 29 * f) % 128) AS v
  FROM documents CROSS JOIN fr
)
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(f * 40 AS BIGINT) AS ts_ms,
       CAST(8 AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       'L' AS mode,
       CAST(v AS DOUBLE) AS mean_px,
       CAST(v AS INTEGER) AS min_px,
       CAST(v AS INTEGER) AS max_px
FROM g
"""


def mm_wav_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: WAV/RIFF audio metadata from header byte arithmetic — NO codec:
    synthesizes canonical 44-byte PCM WAV headers with rate/channels/bits
    derived from doc_id, then recovers them (plus integer frame count and
    duration_ms) with ``multimodal.wav_meta`` Column expressions. The
    oracle recomputes every field arithmetically, so any little-endian
    offset bug hash-fails."""
    docs = read_corpus(spark, sf_dir, "documents").select("doc_id")
    channels = (F.col("doc_id") % 2 + 1).cast("long")
    rate = (F.col("doc_id") % 5 * 4000 + 8000).cast("long")
    bits = (F.col("doc_id") % 3 * 8 + 8).cast("long")
    block_align = channels * (bits / 8).cast("long")
    n_frames = (F.col("doc_id") % 1000 + 100).cast("long")
    data_bytes = n_frames * block_align
    byte_rate = rate * block_align

    def le(v, nbytes: int):
        be = F.lpad(F.hex(v), nbytes * 2, "0")
        return F.concat(
            *[F.substring(be, 2 * i + 1, 2) for i in range(nbytes - 1, -1, -1)]
        )

    header = F.concat(
        F.lit("52494646"),            # 'RIFF'
        le(data_bytes + 36, 4),       # riff chunk size
        F.lit("57415645666D7420"),    # 'WAVE' + 'fmt '
        le(F.lit(16), 4),             # fmt chunk size (PCM)
        le(F.lit(1), 2),              # audio format = PCM
        le(channels, 2),
        le(rate, 4),
        le(byte_rate, 4),
        le(block_align, 2),
        le(bits, 2),
        F.lit("64617461"),            # 'data'
        le(data_bytes, 4),
    )
    wavs = docs.select("doc_id", F.unhex(header).alias("payload"))
    meta = multimodal.wav_meta("payload")
    return wavs.select(
        "doc_id",
        meta["channels"].alias("channels"),
        meta["sample_rate"].alias("sample_rate"),
        meta["bits_per_sample"].alias("bits_per_sample"),
        meta["data_bytes"].alias("data_bytes"),
        meta["n_frames"].alias("n_frames"),
        meta["duration_ms"].alias("duration_ms"),
    )


MM_WAV_ORACLE = """
SELECT doc_id,
       CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
       CAST(doc_id % 5 * 4000 + 8000 AS INTEGER) AS sample_rate,
       CAST(doc_id % 3 * 8 + 8 AS INTEGER) AS bits_per_sample,
       CAST((doc_id % 1000 + 100) * ((doc_id % 2 + 1) * ((doc_id % 3 * 8 + 8) // 8)) AS BIGINT) AS data_bytes,
       CAST(doc_id % 1000 + 100 AS BIGINT) AS n_frames,
       CAST((doc_id % 1000 + 100) * 1000 // (doc_id % 5 * 4000 + 8000) AS BIGINT) AS duration_ms
FROM documents
"""


def mm_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: REAL GIF LZW decode end-to-end — synthesizes an 8x8
    gray-palette GIF per document (pixel i = (11*doc_id + 3*i) % 256,
    written by ``gif_encode``'s clear-code-reset LZW; odd doc_ids write
    INTERLACED frames so the 4-pass row reorder is exercised), decodes
    it back through ``decode_image``'s gif path (variable-width LZW +
    palette expansion + deinterlace), and aggregates pixel statistics
    including a POSITION-WEIGHTED sum (sum of i * pixel_i) — mean/min/
    max are permutation-invariant, so only the weighted sum would catch
    an interlace-order bug. The oracle recomputes everything from the
    closed form; mean divides by 64 (power of two): exact double."""
    import numpy as np

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import gif_encode

        pal = [(i, i, i) for i in range(256)]
        for pdf in batches:
            payloads = [
                gif_encode(
                    ((11 * int(d) + 3 * np.arange(64)) % 256)
                    .astype(np.uint8)
                    .reshape(8, 8),
                    pal,
                    interlace=bool(int(d) % 2),
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    imgs = docs.mapInPandas(synth, schema="id long, payload binary")
    decoded = multimodal.decode_image(imgs)

    def stats(batches):
        for pdf in batches:
            rows = []
            for i, w, h, mode, px in zip(
                pdf["id"], pdf["width"], pdf["height"], pdf["mode"], pdf["pixels"]
            ):
                a = np.frombuffer(px, np.uint8).reshape(64, 3)[:, 0].astype(np.int64)
                rows.append(
                    (
                        i,
                        int(w),
                        int(h),
                        mode,
                        float(int(a.sum()) / 64),
                        int(a.min()),
                        int(a.max()),
                        int((np.arange(64) * a).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "mode",
                    "mean_px", "min_px", "max_px", "weighted_sum",
                ],
            )

    return decoded.mapInPandas(
        stats,
        schema=(
            "doc_id long, width int, height int, mode string, "
            "mean_px double, min_px int, max_px int, weighted_sum bigint"
        ),
    )


MM_GIF_ORACLE = """
WITH px AS (
  SELECT doc_id, list_transform(range(0, 64), i -> (11 * doc_id + 3 * i) % 256) AS p
  FROM documents
)
SELECT doc_id,
       CAST(8 AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       'RGB' AS mode,
       list_sum(p) / 64.0 AS mean_px,
       CAST(list_aggregate(p, 'min') AS INTEGER) AS min_px,
       CAST(list_aggregate(p, 'max') AS INTEGER) AS max_px,
       CAST(list_sum(list_transform(range(0, 64), i -> i * p[i + 1])) AS BIGINT) AS weighted_sum
FROM px
"""


def mm_mp4_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: REAL MP4 frame sampling — synthesizes a 6-frame 8x8 MJPEG
    MP4 per document (ISO-BMFF with a real stco/stsc/stsz sample table;
    frame f is the constant even gray g = 2*((3*doc_id + 41*f) % 128),
    25 fps), samples every 80 ms (stride 2 → frames 0/2/4) through
    ``sample_frames``'s ISO-BMFF path, and aggregates per-frame stats.
    DC-only even-valued frames decode bit-losslessly, so the oracle is
    closed form and the box-walk → sample-table slicing → huffman →
    IDCT chain hash-fails on any defect. Lifts the 'MP4 is always
    gated' limitation for the dominant video container.

    read_corpus: same millisecond-codec argument as mm_mjpeg_frame_stats."""
    import numpy as np

    docs = read_corpus(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import mp4_encode_mjpeg

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                g = 2 * ((3 * int(d) + 41 * np.arange(6)) % 128)
                frames = np.repeat(
                    g.astype(np.uint8)[:, None, None], 64, axis=1
                ).reshape(6, 8, 8)
                payloads.append(mp4_encode_mjpeg(frames, frame_ms=40))
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    vids = docs.mapInPandas(synth, schema="id long, payload binary")
    sampled = multimodal.sample_frames(vids, every_ms=80)

    def stats(batches):
        for pdf in batches:
            rows = []
            for i, f, ts, w, h, mode, px in zip(
                pdf["id"], pdf["frame_idx"], pdf["ts_ms"], pdf["width"],
                pdf["height"], pdf["mode"], pdf["pixels"],
            ):
                a = np.frombuffer(px, np.uint8)
                rows.append(
                    (i, int(f), int(ts), int(w), int(h), mode,
                     float(int(a.sum()) / a.size), int(a.min()), int(a.max()))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "ts_ms", "width", "height",
                    "mode", "mean_px", "min_px", "max_px",
                ],
            )

    return sampled.mapInPandas(
        stats,
        schema=(
            "doc_id long, frame_idx int, ts_ms bigint, width int, height int, "
            "mode string, mean_px double, min_px int, max_px int"
        ),
    )


MM_MP4_FRAMES_ORACLE = """
WITH f AS (
  SELECT doc_id, unnest([0, 2, 4]) AS frame_idx FROM documents
)
SELECT doc_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(frame_idx * 40 AS BIGINT) AS ts_ms,
       CAST(8 AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       'L' AS mode,
       CAST(2 * ((3 * doc_id + 41 * frame_idx) % 128) AS DOUBLE) AS mean_px,
       CAST(2 * ((3 * doc_id + 41 * frame_idx) % 128) AS INTEGER) AS min_px,
       CAST(2 * ((3 * doc_id + 41 * frame_idx) % 128) AS INTEGER) AS max_px
FROM f
"""


def mm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: REAL sample-level PCM audio decode end-to-end — synthesizes a
    mono 16-bit WAV per document (256 samples, sample i =
    (doc_id*31 + i*7919) % 4001 - 2000, written by ``wav_encode`` with a
    filler LIST chunk between fmt and data so the reader must walk chunks
    rather than trust the canonical 44-byte offsets), decodes it back
    with ``multimodal.decode_audio`` (RIFF chunk walk + numpy int16
    PCM), and aggregates integer-exact amplitude statistics. The oracle
    recomputes them from the closed form, so a bug anywhere in the
    encode → chunk-walk → sample-decode → stats chain hash-fails.
    mean_abs divides by 256 (a power of two): exact double both engines.
    Reference counterpart: the lakehouse stops at header metadata
    (`wav_meta`); this is the training-pipeline extension that actually
    touches samples."""
    import numpy as np

    # read_table, not read_corpus: microsecond-per-row kernels — see
    # mm_pixel_stats for why the 32-way repartition would cost more than
    # it buys across 3 chained mapInPandas stages
    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import wav_encode

        for pdf in batches:
            payloads = [
                wav_encode(
                    ((int(d) * 31 + np.arange(256) * 7919) % 4001 - 2000).astype(
                        np.int16
                    ),
                    8000,
                    extra_chunks=[(b"LIST", b"INFO" + b"\x00" * 12)],
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    wavs = docs.mapInPandas(synth, schema="id long, payload binary")
    decoded = multimodal.decode_audio(wavs)

    def stats(batches):
        for pdf in batches:
            rows = []
            for i, nf, buf in zip(pdf["id"], pdf["n_frames"], pdf["samples"]):
                v = np.frombuffer(buf, "<i2").astype(np.int64)
                rows.append(
                    (
                        i,
                        int(nf),
                        int(np.abs(v).sum()),
                        int(np.abs(v).max()),
                        int(((v[:-1] * v[1:]) < 0).sum()),
                        float(int(np.abs(v).sum()) / 256),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "sum_abs", "peak",
                    "zero_crossings", "mean_abs",
                ],
            )

    return decoded.mapInPandas(
        stats,
        schema=(
            "doc_id long, n_samples bigint, sum_abs bigint, peak int, "
            "zero_crossings bigint, mean_abs double"
        ),
    )


MM_AUDIO_ORACLE = """
WITH s AS (
  SELECT doc_id,
         list_transform(range(0, 256),
                        i -> (doc_id * 31 + i * 7919) % 4001 - 2000) AS v
  FROM documents
)
SELECT doc_id,
       CAST(256 AS BIGINT) AS n_samples,
       CAST(list_sum(list_transform(v, x -> abs(x))) AS BIGINT) AS sum_abs,
       CAST(list_aggregate(list_transform(v, x -> abs(x)), 'max') AS INTEGER) AS peak,
       CAST(len(list_filter(range(0, 255), i -> v[i+1] * v[i+2] < 0)) AS BIGINT) AS zero_crossings,
       CAST(list_sum(list_transform(v, x -> abs(x))) AS DOUBLE) / 256.0 AS mean_abs
FROM s
"""


def mm_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: frequency-domain audio features — synthesizes a two-tone
    16-bit WAV per document (dominant tone at bin 5 + doc_id%50 with
    amplitude 10000, secondary at bin 60 + (doc_id*7)%50 with amplitude
    3000, N=256 @ 8 kHz), decodes it through the real RIFF chunk walk
    (``multimodal.decode_audio``), and recovers both planted bins from
    the magnitude spectrum (numpy rfft, Arrow-batched). The oracle states
    the closed-form bins/frequencies, so the whole synth → encode →
    decode → FFT → argmax chain must be right to hash-match; bin_hz =
    8000/256 = 31.25 is binary-exact, keeping the Hz columns bit-stable.
    Scale: per-row kernels with no shuffle; a 256-point rfft is ~µs —
    the corpus scan dominates, which is the right shape at 100 TB."""
    import numpy as np

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import wav_encode

        i = np.arange(256)
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                k = 5 + int(d) % 50
                m = 60 + (int(d) * 7) % 50
                wave = 10000 * np.sin(2 * np.pi * k * i / 256) + 3000 * np.sin(
                    2 * np.pi * m * i / 256
                )
                payloads.append(
                    wav_encode(np.round(wave).astype(np.int16), 8000)
                )
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    wavs = docs.mapInPandas(synth, schema="id long, payload binary")
    decoded = multimodal.decode_audio(wavs)

    def spectral(batches):
        for pdf in batches:
            rows = []
            for i, buf in zip(pdf["id"], pdf["samples"]):
                v = np.frombuffer(buf, "<i2").astype(np.float64)
                mag = np.abs(np.fft.rfft(v))
                mag[0] = 0.0  # ignore DC
                dom = int(np.argmax(mag))
                mag2 = mag.copy()
                mag2[dom] = 0.0
                sec = int(np.argmax(mag2))
                rows.append((i, dom, sec, dom * 31.25, sec * 31.25))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "dominant_bin", "second_bin",
                    "dominant_hz", "second_hz",
                ],
            )

    return decoded.mapInPandas(
        spectral,
        schema=(
            "doc_id long, dominant_bin int, second_bin int, "
            "dominant_hz double, second_hz double"
        ),
    )


MM_SPECTRAL_ORACLE = """
SELECT doc_id,
       CAST(5 + doc_id % 50 AS INTEGER) AS dominant_bin,
       CAST(60 + (doc_id * 7) % 50 AS INTEGER) AS second_bin,
       CAST((5 + doc_id % 50) * 31.25 AS DOUBLE) AS dominant_hz,
       CAST((60 + (doc_id * 7) % 50) * 31.25 AS DOUBLE) AS second_hz
FROM documents
"""


#: mvhd timescales exercised by mm_mp4_meta, indexed by doc_id % 4
_MP4_TIMESCALES = (600, 1000, 24000, 90000)


def mm_mp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: MP4/ISO-BMFF video metadata from header box walking — NO
    codec: synthesizes minimal ftyp + free + moov(mvhd) files (both mvhd
    v0 32-bit and v1 64-bit layouts, brand and timescale derived from
    doc_id, and a 'free' box in the middle so the kernel must actually
    walk variable-size boxes), then recovers brand / timescale / duration
    with ``multimodal.mp4_meta``. The oracle recomputes every field
    arithmetically, so a box-offset bug hash-fails."""
    docs = read_corpus(spark, sf_dir, "documents").select("doc_id")
    be32 = lambda c: F.lpad(F.hex(c.cast("long")), 8, "0")  # noqa: E731
    be64 = lambda c: F.lpad(F.hex(c.cast("long")), 16, "0")  # noqa: E731
    brand_hex = F.when(F.col("doc_id") % 2 == 0, "69736F6D").otherwise("6D703432")
    ts = F.element_at(
        F.array(*[F.lit(t) for t in _MP4_TIMESCALES]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    dur = F.col("doc_id") % 100000 + 1000
    ftyp = F.concat(F.lit("0000001066747970"), brand_hex, F.lit("00000000"))
    free = F.lit("0000000866726565")
    mvhd_v0 = F.concat(
        F.lit("0000001C6D766864"),  # size 28, 'mvhd'
        F.lit("00000000"),          # version 0 + flags
        F.lit("00000000" * 2),      # ctime, mtime
        be32(ts),
        be32(dur),
    )
    mvhd_v1 = F.concat(
        F.lit("000000286D766864"),  # size 40, 'mvhd'
        F.lit("01000000"),          # version 1 + flags
        F.lit("0" * 32),            # 64-bit ctime, mtime
        be32(ts),
        be64(dur),
    )
    mvhd = F.when(F.col("doc_id") % 2 == 0, mvhd_v0).otherwise(mvhd_v1)
    moov_size = F.when(F.col("doc_id") % 2 == 0, F.lit(36)).otherwise(F.lit(48))
    moov = F.concat(be32(moov_size), F.lit("6D6F6F76"), mvhd)
    payload = F.unhex(F.concat(ftyp, free, moov))
    vids = docs.select("doc_id", payload.alias("payload"))
    meta = multimodal.mp4_meta(vids, id_col="doc_id")
    return meta.select(
        F.col("id").alias("doc_id"),
        "major_brand",
        "timescale",
        "duration",
        "duration_ms",
    )


MM_MP4_ORACLE = f"""
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS major_brand,
       CAST(CASE doc_id % 4 WHEN 0 THEN {_MP4_TIMESCALES[0]}
                            WHEN 1 THEN {_MP4_TIMESCALES[1]}
                            WHEN 2 THEN {_MP4_TIMESCALES[2]}
                            ELSE {_MP4_TIMESCALES[3]} END AS INTEGER) AS timescale,
       CAST(doc_id % 100000 + 1000 AS BIGINT) AS duration,
       CAST((doc_id % 100000 + 1000) * 1000 //
            (CASE doc_id % 4 WHEN 0 THEN {_MP4_TIMESCALES[0]}
                             WHEN 1 THEN {_MP4_TIMESCALES[1]}
                             WHEN 2 THEN {_MP4_TIMESCALES[2]}
                             ELSE {_MP4_TIMESCALES[3]} END) AS BIGINT) AS duration_ms
FROM documents
"""


def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: perceptual-hash image dedup — synthesize a 32×32 grayscale
    image per document with only {PHASH_VARIANTS} distinct motifs
    (pixel(r,c) = (37·(doc_id mod {PHASH_VARIANTS}) + 3·(r//4) + 5·(c//4))
    mod 256, constant on 4×4 blocks so the box resize is closed-form),
    box-resize to the canonical 8×8 thumbnail, dHash
    (``multimodal.dhash_image``: adjacent-pixel comparisons, 56 bits),
    then exact-match the hashes into duplicate clusters — the standard
    near-duplicate-image pipeline for multimodal training data. The
    oracle recomputes every comparison bit from the synth formula, so a
    defect anywhere in resize → grayscale → bit packing hash-fails.

    Scale: synth/resize/hash are scan-local Arrow kernels; the dedup is
    one groupBy on an 8-byte key."""
    import numpy as np

    docs = read_corpus(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        rr = np.arange(32)[:, None] // 4
        cc = np.arange(32)[None, :] // 4
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                px = ((37 * (int(d) % PHASH_VARIANTS) + 3 * rr + 5 * cc) % 256).astype(
                    np.uint8
                )
                rows.append((int(d), 32, 32, "L", px.tobytes()))
            yield pd.DataFrame(
                rows, columns=["id", "width", "height", "mode", "pixels"]
            )

    imgs = docs.mapInPandas(synth, schema=multimodal.DECODED_IMAGE_SCHEMA)
    hashed = multimodal.dhash_image(
        multimodal.resize_image(imgs, 8, 8, method="box")
    )
    return phash_clusters(hashed)


def phash_clusters(hashed: DataFrame) -> DataFrame:
    """(id, dhash) -> (doc_id, dhash, cluster_min, is_dup): rows with an
    equal dhash form one cluster named by its smallest id, and every
    other member is a dup. A NULL dhash (a row ``dhash_image``'s codec
    gate rejected) is no evidence of a duplicate, so that row is its own
    singleton: cluster_min = doc_id, is_dup = false.

    min(id) OVER (PARTITION BY dhash) is one pass over one kernel chain
    with a single dhash exchange; a groupBy + self-join would consume
    ``hashed`` twice and re-run the whole synth → resize → dhash chain."""
    cluster_min = F.when(F.col("dhash").isNull(), F.col("id")).otherwise(
        F.min("id").over(Window.partitionBy("dhash"))
    )
    return hashed.select(
        F.col("id").alias("doc_id"),
        "dhash",
        cluster_min.alias("cluster_min"),
        (F.col("id") != cluster_min).alias("is_dup"),
    )


PHASH_VARIANTS = 16


def _phash_oracle() -> str:
    """Closed-form dHash replica: after the exact box resize the 8×8
    thumbnail is g(r,c) = (37·(doc_id mod {PHASH_VARIANTS}) + 3r + 5c)
    mod 256; emit the 56 comparison bits MSB-first, row-major."""
    a = f"(37 * (doc_id % {PHASH_VARIANTS}))"
    terms = []
    for r in range(8):
        for c in range(7):
            lo = f"(({a} + {3 * r + 5 * c}) % 256)"
            hi = f"(({a} + {3 * r + 5 * (c + 1)}) % 256)"
            weight = 1 << (55 - (r * 7 + c))
            terms.append(f"(CASE WHEN {hi} > {lo} THEN CAST({weight} AS BIGINT) ELSE 0 END)")
    dh = "(" + " + ".join(terms) + ")"
    return f"""
WITH h AS (
  SELECT doc_id, CAST({dh} AS BIGINT) AS dhash FROM documents
), f AS (
  SELECT dhash, min(doc_id) AS cluster_min FROM h GROUP BY dhash
)
SELECT h.doc_id, h.dhash, f.cluster_min,
       h.doc_id != f.cluster_min AS is_dup
FROM h JOIN f ON h.dhash = f.dhash
"""


SIL_PAYLOAD = 128


def mm_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: audio silence trimming — synthesize a WAV with doc-dependent
    leading/trailing zero-sample runs around a {SIL_PAYLOAD}-sample
    nonzero payload, decode the PCM (llm/multimodal.py::decode_audio),
    and find the first/last nonzero sample in an Arrow kernel (the VAD
    pre-step every speech-training pipeline runs). The oracle states the
    trim offsets and the trimmed payload's sum in closed form, so an
    off-by-one anywhere in decode → scan → slice hash-fails.

    Scale: per-row kernels, zero shuffle."""
    import numpy as np

    docs = read_corpus(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import wav_encode

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                lead = d % 32
                tail = (d * 7) % 32
                body = (d + np.arange(SIL_PAYLOAD) * 37) % 251 + 1
                samples = np.concatenate(
                    [np.zeros(lead), body, np.zeros(tail)]
                ).astype(np.int16)
                payloads.append(wav_encode(samples, 8000))
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    wavs = docs.mapInPandas(synth, schema="id long, payload binary")
    decoded = multimodal.decode_audio(wavs)

    def trim(batches):
        for pdf in batches:
            rows = []
            for i, buf in zip(pdf["id"], pdf["samples"]):
                if buf is None:
                    rows.append((int(i), None, None, None, None))
                    continue
                v = np.frombuffer(buf, "<i2").astype(np.int64)
                nz = np.flatnonzero(v)
                if len(nz) == 0:
                    rows.append((int(i), len(v), None, None, None))
                    continue
                s, e = int(nz[0]), int(nz[-1]) + 1
                rows.append((int(i), len(v), s, e, int(v[s:e].sum())))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_samples", "trim_start", "trim_end", "sum_trimmed"],
            )

    return decoded.mapInPandas(
        trim,
        schema=(
            "doc_id long, n_samples int, trim_start int, trim_end int, "
            "sum_trimmed bigint"
        ),
    )


MM_SILENCE_ORACLE = f"""
SELECT doc_id,
       CAST(doc_id % 32 + {SIL_PAYLOAD} + (doc_id * 7) % 32 AS INTEGER)
         AS n_samples,
       CAST(doc_id % 32 AS INTEGER) AS trim_start,
       CAST(doc_id % 32 + {SIL_PAYLOAD} AS INTEGER) AS trim_end,
       CAST(list_sum(list_transform(range(0, {SIL_PAYLOAD}),
              k -> (doc_id + k * 37) % 251 + 1)) AS BIGINT) AS sum_trimmed
FROM documents
"""


def mm_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: ViT patch-grid extraction — synthesize the same 32×32
    block-structured grayscale images as ``mm_phash_dedup`` (pixel(r,c) =
    (37·(doc_id mod {PHASH_VARIANTS}) + 3·(r//4) + 5·(c//4)) mod 256),
    then split each into the 4×4 grid of 8×8 patches with per-patch
    mean/min/max (``multimodal.patchify_stats``) — the tiling step a
    vision-transformer pipeline runs before patch embedding. Because the
    synth is constant on 4×4 blocks, each 8×8 patch covers exactly four
    block values (16 px each) and the oracle states every patch's
    statistics in closed form — an indexing or tiling bug anywhere in
    the kernel hash-fails.

    Scale: synth + tiling are scan-local Arrow kernels, zero shuffle;
    16 output rows per image."""
    import numpy as np

    docs = read_corpus(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        rr = np.arange(32)[:, None] // 4
        cc = np.arange(32)[None, :] // 4
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                px = ((37 * (int(d) % PHASH_VARIANTS) + 3 * rr + 5 * cc) % 256).astype(
                    np.uint8
                )
                rows.append((int(d), 32, 32, "L", px.tobytes()))
            yield pd.DataFrame(
                rows, columns=["id", "width", "height", "mode", "pixels"]
            )

    imgs = docs.mapInPandas(synth, schema=multimodal.DECODED_IMAGE_SCHEMA)
    return multimodal.patchify_stats(imgs, patch=8).select(
        F.col("id").alias("doc_id"),
        "patch_row",
        "patch_col",
        "p_mean",
        "p_min",
        "p_max",
    )


def _patchify_oracle() -> str:
    """Closed-form patch stats: patch (pr, pc) covers block values
    b(i, j) = (37·m + 3·(2pr+i) + 5·(2pc+j)) mod 256 for i, j in {0, 1},
    16 pixels each."""
    m = f"(37 * (doc_id % {PHASH_VARIANTS}))"
    terms = [
        f"(({m} + 3 * (2 * pr + {i}) + 5 * (2 * pc + {j})) % 256)"
        for i in (0, 1)
        for j in (0, 1)
    ]
    tsum = " + ".join(terms)
    tlist = ", ".join(terms)
    return f"""
SELECT doc_id,
       CAST(pr AS INTEGER) AS patch_row,
       CAST(pc AS INTEGER) AS patch_col,
       CAST(16 * ({tsum}) AS DOUBLE) / 64 AS p_mean,
       CAST(least({tlist}) AS INTEGER) AS p_min,
       CAST(greatest({tlist}) AS INTEGER) AS p_max
FROM documents,
     (SELECT unnest(range(0, 4)) AS pr),
     (SELECT unnest(range(0, 4)) AS pc)
"""


IMGNORM_SIDE = 16


def mm_image_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: dataset-level channel normalization stats — synthesize one
    {IMGNORM_SIDE}×{IMGNORM_SIDE} RGB image per document (pixel(r,c,ch) =
    (doc_id + 3r + 5c + 77ch) mod 256), collect per-image exact integer
    pixel moments (``multimodal.channel_sums``), and reduce to the
    per-channel corpus mean/variance — the pass that produces the
    mean/std constants every vision training job normalizes with. All
    accumulation is exact BIGINT; mean and variance are the only float
    ops (division, then var = E[x²] − mean², the same expression shape
    on both engines — bit-stable).

    Scale: decode moments are scan-local Arrow kernels; the reduce
    shuffles 3 BIGINTs per image per channel into a 3-row aggregate."""
    import numpy as np

    docs = read_corpus(spark, sf_dir, "documents").select("doc_id")
    side = IMGNORM_SIDE

    def synth(batches):
        r = np.arange(side)[:, None, None]
        c = np.arange(side)[None, :, None]
        ch = np.arange(3)[None, None, :]
        base = 3 * r + 5 * c + 77 * ch
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                px = ((int(d) + base) % 256).astype(np.uint8)
                rows.append((int(d), side, side, "RGB", px.tobytes()))
            yield pd.DataFrame(
                rows, columns=["id", "width", "height", "mode", "pixels"]
            )

    imgs = docs.mapInPandas(synth, schema=multimodal.DECODED_IMAGE_SCHEMA)
    moments = multimodal.channel_sums(imgs)
    agg = moments.groupBy("channel").agg(
        F.sum("n_pixels").cast("bigint").alias("n_pixels"),
        F.sum("psum").cast("bigint").alias("psum"),
        F.sum("psumsq").cast("bigint").alias("psumsq"),
    )
    mean = F.col("psum").cast("double") / F.col("n_pixels").cast("double")
    return agg.select(
        "channel",
        "n_pixels",
        "psum",
        "psumsq",
        mean.alias("mean_px"),
        (
            F.col("psumsq").cast("double") / F.col("n_pixels").cast("double")
            - mean * mean
        ).alias("var_px"),
    )


MM_IMGNORM_ORACLE = f"""
WITH px AS (
  SELECT doc_id, ch,
         (doc_id + 3 * r + 5 * c + 77 * ch) % 256 AS v
  FROM documents,
       (SELECT unnest(range(0, {IMGNORM_SIDE})) AS r),
       (SELECT unnest(range(0, {IMGNORM_SIDE})) AS c),
       (SELECT unnest(range(0, 3)) AS ch)
), agg AS (
  SELECT CAST(ch AS INTEGER) AS channel,
         CAST(count(*) AS BIGINT) AS n_pixels,
         CAST(sum(v) AS BIGINT) AS psum,
         CAST(sum(v * v) AS BIGINT) AS psumsq
  FROM px GROUP BY 1
)
SELECT channel, n_pixels, psum, psumsq,
       CAST(psum AS DOUBLE) / CAST(n_pixels AS DOUBLE) AS mean_px,
       CAST(psumsq AS DOUBLE) / CAST(n_pixels AS DOUBLE)
         - (CAST(psum AS DOUBLE) / CAST(n_pixels AS DOUBLE))
         * (CAST(psum AS DOUBLE) / CAST(n_pixels AS DOUBLE)) AS var_px
FROM agg
"""


VAD_BODY1 = 64


VAD_BODY2 = 32


def mm_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: voice-activity segmentation — synthesize a WAV whose PCM has
    TWO nonzero bursts separated by doc-dependent silence runs, decode
    it (llm/multimodal.py::decode_audio) and emit one row per detected
    voiced segment with its offsets and energy: the VAD step that turns
    raw audio into training utterances (mm_silence_trim's big sibling —
    trim handles one burst; this finds them all). The oracle states
    every segment's offsets and energy in closed form.

    Scale: per-row Arrow kernels, zero shuffle; output fan-out is
    segments-per-file."""
    import numpy as np

    docs = read_corpus(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import wav_encode

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                body1 = (d + np.arange(VAD_BODY1) * 37) % 251 + 1
                body2 = (d * 3 + np.arange(VAD_BODY2) * 11) % 199 + 1
                samples = np.concatenate(
                    [
                        np.zeros(d % 16),
                        body1,
                        np.zeros(d % 8 + 4),
                        body2,
                        np.zeros(d % 12),
                    ]
                ).astype(np.int16)
                payloads.append(wav_encode(samples, 8000))
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    wavs = docs.mapInPandas(synth, schema="id long, payload binary")
    decoded = multimodal.decode_audio(wavs)

    def segments(batches):
        for pdf in batches:
            rows = []
            for i, buf in zip(pdf["id"], pdf["samples"]):
                if buf is None:
                    rows.append((int(i), None, None, None, None))
                    continue
                v = np.frombuffer(buf, "<i2").astype(np.int64)
                nz = np.flatnonzero(v)
                if len(nz) == 0:
                    continue
                splits = np.split(nz, np.where(np.diff(nz) > 1)[0] + 1)
                for si, run in enumerate(splits):
                    s, e = int(run[0]), int(run[-1]) + 1
                    rows.append((int(i), si, s, e, int(v[s:e].sum())))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "segment", "seg_start", "seg_end", "energy"],
            )

    return decoded.mapInPandas(
        segments,
        schema=(
            "doc_id long, segment int, seg_start int, seg_end int, "
            "energy bigint"
        ),
    )


MM_VAD_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         doc_id % 16 AS a,
         doc_id % 8 + 4 AS b
  FROM documents
)
SELECT doc_id, CAST(0 AS INTEGER) AS segment,
       CAST(a AS INTEGER) AS seg_start,
       CAST(a + {VAD_BODY1} AS INTEGER) AS seg_end,
       CAST(list_sum(list_transform(range(0, {VAD_BODY1}),
              k -> (doc_id + k * 37) % 251 + 1)) AS BIGINT) AS energy
FROM base
UNION ALL
SELECT doc_id, CAST(1 AS INTEGER),
       CAST(a + {VAD_BODY1} + b AS INTEGER),
       CAST(a + {VAD_BODY1} + b + {VAD_BODY2} AS INTEGER),
       CAST(list_sum(list_transform(range(0, {VAD_BODY2}),
              k -> (doc_id * 3 + k * 11) % 199 + 1)) AS BIGINT)
FROM base
"""


def mm_exif_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: metadata-chunk scrub end-to-end — synthesizes per document a
    real PNG carrying two ancillary metadata chunks (a tEXt comment
    'doc:<id>' and a fake eXIf blob of doc-dependent length), strips
    them with ``multimodal.strip_ancillary_chunks``, and certifies:
    the dropped-type inventory, the exact byte savings (closed-form:
    12-byte chunk overhead + body lengths), and — the strong contract —
    that the stripped bytes are BYTE-IDENTICAL to the canonical
    metadata-free encoding of the same pixels (verified in-kernel by
    md5 equality, stated as a constant by the oracle). A strip that
    corrupts any critical chunk or misclassifies one fails the oracle.

    Scale: two chained Arrow kernels, zero shuffle."""
    import numpy as np

    from us_dot_flights_lakehouse_spark.llm import multimodal

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import struct
        import zlib

        from us_dot_flights_lakehouse_spark.llm.multimodal import png_encode

        def chunk(typ: bytes, body: bytes) -> bytes:
            return (
                struct.pack(">I", len(body))
                + typ
                + body
                + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
            )

        for pdf in batches:
            payloads, canon_md5 = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                base = png_encode(
                    ((7 * d + np.arange(64)) % 256).astype(np.uint8).reshape(8, 8),
                    "L",
                )
                # insert metadata after IHDR (sig 8 + IHDR chunk 25 bytes)
                text = chunk(b"tEXt", b"Comment\x00" + f"doc:{d}".encode())
                exif = chunk(b"eXIf", bytes((d + j) % 256 for j in range(d % 16 + 8)))
                cut = 8 + 25
                payloads.append(base[:cut] + text + exif + base[cut:])
                import hashlib

                canon_md5.append(hashlib.md5(base).hexdigest())
            yield pd.DataFrame(
                {"id": pdf["doc_id"], "payload": payloads, "canon_md5": canon_md5}
            )

    imgs = docs.mapInPandas(
        synth, schema="id long, payload binary, canon_md5 string"
    )
    stripped = multimodal.strip_ancillary_chunks(imgs)
    return stripped.select(
        F.col("id").alias("doc_id"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
        "dropped_csv",
        "bytes_saved",
        (F.md5("clean") == F.col("canon_md5")).alias("roundtrip_ok"),
    )


MM_EXIF_ORACLE = """
SELECT doc_id,
       CAST(2 AS BIGINT) AS n_dropped,
       'eXIf,tEXt' AS dropped_csv,
       -- tEXt: 12 + len('Comment')+1 + len('doc:'||id); eXIf: 12 + (id%16 + 8)
       CAST(12 + 8 + 4 + length(CAST(doc_id AS VARCHAR))
            + 12 + (doc_id % 16 + 8) AS BIGINT) AS bytes_saved,
       true AS roundtrip_ok
FROM documents
"""


AUDIO_TARGET_PEAK = 30000


def mm_audio_normalize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: loudness-normalization audit — for each synthesized WAV (the
    mm_audio_stats fixture), the peak-normalization plan: current peak,
    exact integer energy (Σx², the RMS numerator), the gain that maps
    the peak to {AUDIO_TARGET_PEAK}, and how many samples a naive gain
    application would clip past int16 — the pre-flight every audio
    corpus normalization runs BEFORE rewriting terabytes of PCM. All
    closed-form from the deterministic fixture: peak and energy are
    exact integers; gain and clip tests are pointwise doubles.

    Scale: two chained Arrow kernels (synthesize → decode+audit), zero
    shuffle."""
    import numpy as np

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import wav_encode

        for pdf in batches:
            payloads = [
                wav_encode(
                    ((int(d) * 31 + np.arange(256) * 7919) % 4001 - 2000).astype(
                        np.int16
                    ),
                    8000,
                    extra_chunks=[(b"LIST", b"INFO" + b"\x00" * 12)],
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    wavs = docs.mapInPandas(synth, schema="id long, payload binary")
    decoded = multimodal.decode_audio(wavs)

    def audit(batches):
        for pdf in batches:
            rows = []
            for i, buf in zip(pdf["id"], pdf["samples"]):
                v = np.frombuffer(buf, "<i2").astype(np.int64)
                peak = int(np.abs(v).max())
                energy = int((v * v).sum())
                gain = float(AUDIO_TARGET_PEAK) / float(peak)
                clip = int((np.abs(v.astype(np.float64) * gain) > 32767.0).sum())
                rows.append((i, peak, energy, gain, clip))
            yield pd.DataFrame(
                rows, columns=["doc_id", "peak", "energy", "gain", "n_would_clip"]
            )

    return decoded.mapInPandas(
        audit,
        schema="doc_id long, peak long, energy long, gain double, n_would_clip long",
    )


MM_AUDIO_NORM_ORACLE = f"""
WITH samples AS (
  SELECT doc_id, i,
         (doc_id * 31 + i * 7919) % 4001 - 2000 AS x
  FROM documents,
       (SELECT unnest(generate_series(0, 255)) AS i)
), per_doc AS (
  SELECT doc_id,
         CAST(max(abs(x)) AS BIGINT) AS peak,
         CAST(sum(x * x) AS BIGINT) AS energy
  FROM samples GROUP BY doc_id
), gained AS (
  SELECT s.doc_id,
         CAST(sum(CASE WHEN abs(CAST(s.x AS DOUBLE)
                   * (CAST({AUDIO_TARGET_PEAK} AS DOUBLE) / CAST(p.peak AS DOUBLE)))
                   > 32767.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_would_clip
  FROM samples s JOIN per_doc p USING (doc_id)
  GROUP BY s.doc_id
)
SELECT p.doc_id, p.peak, p.energy,
       CAST({AUDIO_TARGET_PEAK} AS DOUBLE) / CAST(p.peak AS DOUBLE) AS gain,
       g.n_would_clip
FROM per_doc p JOIN gained g USING (doc_id)
"""


def mm_hist_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM: histogram equalization — the classic contrast-normalization
    pre-processing step an image pipeline runs before feature
    extraction: per image, map each gray level v to
    (cdf(v) − cdf_min) · 255 // (n − cdf_min) (integer floor division —
    NO floats anywhere, so the kernel is bit-reproducible). The synth
    plants DUPLICATE-heavy histograms (pixel i = (5·doc_id + i²//3) mod
    256 on an 8×8 gray PNG), and the oracle re-derives every image's
    full histogram → CDF → remap → stats chain from the closed form in
    SQL, so a bug in encode → decode → equalize hash-fails.

    Scale: synth, decode, equalize and the per-image stats all fuse into
    one Arrow-batched mapInPandas chain — zero shuffle, scan parallel."""
    import numpy as np

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import png_encode

        i = np.arange(64)
        base = (i * i) // 3
        for pdf in batches:
            payloads = [
                png_encode(
                    ((5 * int(d) + base) % 256).astype(np.uint8).reshape(8, 8),
                    "L",
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    imgs = docs.mapInPandas(synth, schema="id long, payload binary")
    decoded = multimodal.decode_image(imgs)

    def equalize(batches):
        for pdf in batches:
            rows = []
            for i, px in zip(pdf["id"], pdf["pixels"]):
                a = np.frombuffer(px, np.uint8).astype(np.int64)
                n = a.size
                vals, counts = np.unique(a, return_counts=True)
                cdf = np.cumsum(counts)
                cmin = int(cdf[0])
                if n == cmin:  # constant image: everything maps to 0
                    m = np.zeros_like(vals)
                else:
                    m = (cdf - cmin) * 255 // (n - cmin)
                rows.append(
                    (
                        int(i),
                        float(int((vals * counts).sum()) / n),
                        float(int((m * counts).sum()) / n),
                        int(len(vals)),
                        int(len(np.unique(m))),
                        int(m.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "mean_before",
                    "mean_after",
                    "n_levels_before",
                    "n_levels_after",
                    "max_after",
                ],
            )

    return decoded.mapInPandas(
        equalize,
        schema=(
            "doc_id long, mean_before double, mean_after double, "
            "n_levels_before long, n_levels_after long, max_after long"
        ),
    )


MM_HIST_EQ_ORACLE = """
WITH px AS (
  SELECT d.doc_id, (5 * d.doc_id + (i.i * i.i) // 3) % 256 AS v
  FROM documents d, (SELECT unnest(range(0, 64)) AS i) i
), hist AS (
  SELECT doc_id, v, CAST(count(*) AS BIGINT) AS c FROM px GROUP BY 1, 2
), cdf AS (
  SELECT doc_id, v, c,
         CAST(sum(c) OVER (PARTITION BY doc_id ORDER BY v) AS BIGINT) AS f,
         CAST(first_value(c) OVER (PARTITION BY doc_id ORDER BY v)
              AS BIGINT) AS cmin
  FROM hist
), mapped AS (
  SELECT doc_id, v, c,
         CASE WHEN cmin = 64 THEN 0
              ELSE ((f - cmin) * 255) // (64 - cmin) END AS m
  FROM cdf
)
SELECT doc_id,
       CAST(sum(v * c) AS DOUBLE) / 64 AS mean_before,
       CAST(sum(m * c) AS DOUBLE) / 64 AS mean_after,
       CAST(count(*) AS BIGINT) AS n_levels_before,
       CAST(count(DISTINCT m) AS BIGINT) AS n_levels_after,
       CAST(max(m) AS BIGINT) AS max_after
FROM mapped GROUP BY doc_id
"""


QUERIES = {
    "mm_media_manifest": mm_media_manifest,
    "mm_byte_features": mm_byte_features,
    "mm_image_dims": mm_image_dims,
    "mm_pixel_stats": mm_pixel_stats,
    "mm_image_resize": mm_image_resize,
    "mm_image_augment": mm_image_augment,
    "mm_image_crop": mm_image_crop,
    "mm_jpeg_roundtrip": mm_jpeg_roundtrip,
    "mm_frame_stats": mm_frame_stats,
    "mm_audio_resample": mm_audio_resample,
    "mm_video_motion": mm_video_motion,
    "mm_scene_cuts": mm_scene_cuts,
    "mm_frame_dedup": mm_frame_dedup,
    "mm_mjpeg_frame_stats": mm_mjpeg_frame_stats,
    "mm_wav_meta": mm_wav_meta,
    "mm_gif_roundtrip": mm_gif_roundtrip,
    "mm_mp4_frame_stats": mm_mp4_frame_stats,
    "mm_audio_stats": mm_audio_stats,
    "mm_audio_spectral": mm_audio_spectral,
    "mm_mp4_meta": mm_mp4_meta,
    "mm_phash_dedup": mm_phash_dedup,
    "mm_silence_trim": mm_silence_trim,
    "mm_patchify": mm_patchify,
    "mm_image_norm": mm_image_norm,
    "mm_audio_vad_segments": mm_audio_vad_segments,
    "mm_exif_strip": mm_exif_strip,
    "mm_audio_normalize_audit": mm_audio_normalize_audit,
    "mm_hist_equalize": mm_hist_equalize,
}

ORACLES = {
    "mm_media_manifest": _mm_manifest_oracle(),
    "mm_byte_features": MM_BYTES_ORACLE,
    "mm_image_dims": MM_DIMS_ORACLE,
    "mm_pixel_stats": MM_PIXEL_ORACLE,
    "mm_image_resize": MM_RESIZE_ORACLE,
    "mm_image_augment": MM_AUGMENT_ORACLE,
    "mm_image_crop": MM_CROP_ORACLE,
    "mm_jpeg_roundtrip": MM_JPEG_ORACLE,
    "mm_frame_stats": MM_FRAME_ORACLE,
    "mm_audio_resample": MM_RESAMPLE_ORACLE,
    "mm_video_motion": MM_MOTION_ORACLE,
    "mm_scene_cuts": MM_SCENE_CUTS_ORACLE,
    "mm_frame_dedup": _frame_dedup_oracle(),
    "mm_mjpeg_frame_stats": MM_MJPEG_ORACLE,
    "mm_wav_meta": MM_WAV_ORACLE,
    "mm_gif_roundtrip": MM_GIF_ORACLE,
    "mm_mp4_frame_stats": MM_MP4_FRAMES_ORACLE,
    "mm_audio_stats": MM_AUDIO_ORACLE,
    "mm_audio_spectral": MM_SPECTRAL_ORACLE,
    "mm_mp4_meta": MM_MP4_ORACLE,
    "mm_phash_dedup": _phash_oracle,
    "mm_silence_trim": MM_SILENCE_ORACLE,
    "mm_patchify": _patchify_oracle,
    "mm_image_norm": MM_IMGNORM_ORACLE,
    "mm_audio_vad_segments": MM_VAD_ORACLE,
    "mm_exif_strip": MM_EXIF_ORACLE,
    "mm_audio_normalize_audit": MM_AUDIO_NORM_ORACLE,
    "mm_hist_equalize": MM_HIST_EQ_ORACLE,
}
