"""Multimodal columns: images / audio / video as opaque binary columns with
typed metadata (BASELINE.json:6 extension; absent from the reference).

Design for 100 TB of mixed media:

- content is an opaque ``binary`` column + a typed metadata struct
  (modality, format, byte size, declared dims/duration) — the lake stays
  one Parquet table, prunable by metadata without touching bytes;
- ingest uses Spark's ``binaryFile`` source (distributed, no driver I/O);
- decode / feature-extract / resize / frame-sample run as Arrow-batched
  ``mapInPandas`` operators so the (C-library) work is vectorized per batch
  and bytes never round-trip through the driver.

Decode tiers (``decode_fn``):

- ``'fake'`` (default): deterministic md5-seeded pseudo-features — exercises
  the full Spark plumbing (schemas, batching, partitioning) with zero codec
  dependencies.
- ``'image'``: REAL decode for PNG content via the pure-stdlib codec in
  ``operators/imaging.py`` (zlib scanlines, all five predictor filters) —
  actual width/height/channel-statistics features from actual pixels.
  Non-image modalities raise ``NotImplementedError`` (filter first):
  silently emitting pseudo-features for them would mix garbage vectors
  into the same output column with no marker.
- ``'real'``: PIL if importable, else falls back to the built-in PNG codec;
  raises ``NotImplementedError`` only for formats that genuinely need
  native libraries (JPEG without PIL, compressed audio, video); PNG
  images (operators/imaging.py) and PCM WAV audio (operators/audio.py)
  decode for REAL with the stdlib alone.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("modality", T.StringType(), False),
                    T.StructField("format", T.StringType(), True),
                    T.StructField("n_bytes", T.LongType(), False),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_s", T.DoubleType(), True),
                ]
            ),
            False,
        ),
    ]
)

_EXT_MODALITY = {
    "jpg": "image", "jpeg": "image", "png": "image", "gif": "image",
    "wav": "audio", "mp3": "audio", "flac": "audio",
    "mp4": "video", "mkv": "video", "webm": "video",
}


def ingest_binary_dir(spark: SparkSession, path: str, *, glob: str = "*") -> DataFrame:
    """Distributed media ingest via the ``binaryFile`` source: one row per
    file with content + derived metadata struct. Partition-prunable by the
    metadata columns without reading content (Parquet column pruning)."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    # extension = suffix of the BASENAME only: splitting the full path on
    # '.' mislabels dotted directories ('/data/v1.2/clip' -> '2/clip') and
    # extension-less files ('/x/IMG001' -> the whole path). Empty when the
    # basename has no dot.
    ext = F.lower(F.regexp_extract(F.col("path"), r"\.([^./\\]+)$", 1))
    modality_map = F.create_map(
        *[F.lit(x) for kv in _EXT_MODALITY.items() for x in kv]
    )
    return raw.select(
        F.col("path").alias("media_id"),
        F.col("content"),
        F.struct(
            F.coalesce(modality_map[ext], F.lit("unknown")).alias("modality"),
            ext.alias("format"),
            F.col("length").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("double").alias("duration_s"),
        ).alias("meta"),
    )


def _fake_decode(content: bytes | None, n_features: int) -> list[float]:
    """Deterministic pseudo-features: md5-seeded byte expansion scaled to
    [0, 1). Stands in for a real decoder so plumbing tests are stable."""
    if content is None:
        return [0.0] * n_features
    digest = hashlib.md5(bytes(content)).digest()
    out = []
    while len(out) < n_features:
        digest = hashlib.md5(digest).digest()
        out.extend(b / 255.0 for b in digest)
    return out[:n_features]


def _image_decode(content: bytes | None, n_features: int) -> list[float]:
    """Real image features. PIL when available (any format it knows); the
    pure-stdlib PNG codec otherwise (operators/imaging.py)."""
    if content is None:
        return [0.0] * n_features
    content = bytes(content)
    try:
        import io

        from PIL import Image  # optional extra — absent in this container

        img = Image.open(io.BytesIO(content))
        img.load()
        channels = len(img.getbands())
        stats = [0.0] * 4
        import numpy as np

        arr = np.asarray(img, dtype="float64").reshape(-1, channels)
        for c in range(min(channels, 4)):
            stats[c] = float(arr[:, c].mean()) / 255.0
        feats = [
            float(img.width),
            float(img.height),
            float(channels),
            *stats,
            float(arr[:, 0].std()) / 255.0,
        ]
        feats = feats[:n_features]
        return feats + [0.0] * (n_features - len(feats))
    except ImportError:
        from mortar_parquet_support_spark.operators.imaging import png_features

        try:
            return png_features(content, n_features)
        except ValueError as exc:
            # module contract (and _resize_one's behavior): non-PNG bytes
            # without PIL surface as the documented NotImplementedError,
            # not the codec's ValueError (review finding r8)
            raise NotImplementedError(
                "non-PNG image decode requires PIL, which is not installed "
                f"({exc})"
            ) from exc


def extract_features(
    df: DataFrame,
    *,
    n_features: int = 16,
    decode_fn: str = "fake",
) -> DataFrame:
    """Decode + feature-extract as an Arrow-batched ``mapInPandas`` pass:
    (media_id, meta, features array<double>). See the module docstring for
    the decode tiers; only non-PNG 'real' decode without PIL remains a
    stub."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("modality", T.StringType(), False),
            T.StructField("n_bytes", T.LongType(), False),
            T.StructField("features", T.ArrayType(T.DoubleType()), False),
        ]
    )
    if decode_fn not in ("fake", "image", "real"):
        raise ValueError(f"unknown decode_fn {decode_fn!r}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if decode_fn in ("image", "real"):
                feats = []
                for content, meta in zip(pdf["content"], pdf["meta"]):
                    modality = meta["modality"]
                    if modality == "image":
                        feats.append(_image_decode(content, n_features))
                    elif modality == "audio" and decode_fn == "real":
                        # REAL for PCM WAV via the stdlib wave module
                        # (operators/audio.py); compressed audio raises.
                        # NULL content degrades to the zero vector exactly
                        # like the image branch — bytes(None) inside
                        # wav_features is a TypeError outside its
                        # wave.Error handler and killed the whole job on
                        # one missing blob (review r14)
                        from mortar_parquet_support_spark.operators.audio import (
                            wav_features,
                        )

                        feats.append(
                            [0.0] * n_features
                            if content is None
                            else wav_features(content, n_features)
                        )
                    else:
                        # STUB for 'real' (video needs pyav/ffmpeg — not in
                        # this container; Arrow plumbing is real) — and the
                        # SAME loud error for 'image' mode: silently mixing
                        # md5 pseudo-features for non-image rows into the
                        # output column fed a consumer garbage vectors with
                        # no marker (review finding r8). Filter to
                        # modality == 'image' first, or use decode_fn='fake'
                        # for plumbing tests.
                        raise NotImplementedError(
                            f"{decode_fn!r} decode has no real decoder for "
                            f"modality {modality!r}; filter the frame to "
                            "supported modalities (image"
                            + ("/audio" if decode_fn == "real" else "")
                            + ") or use decode_fn='fake'"
                        )
            else:
                feats = [_fake_decode(c, n_features) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": [m["modality"] for m in pdf["meta"]],
                    "n_bytes": [int(m["n_bytes"]) for m in pdf["meta"]],
                    "features": feats,
                }
            )

    return df.select("media_id", "content", "meta").mapInPandas(batches, out_schema)


def frame_sample(
    df: DataFrame,
    *,
    every_s: float = 1.0,
    decode_fn: str = "fake",
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame with a frame
    feature vector. Fake decoder emits ceil(n_bytes/4096) pseudo-frames
    (min 1) so row-explosion plumbing (one->many mapInPandas) is
    exercised."""
    if decode_fn not in ("fake", "real"):
        # same loud rejection as extract_features: a typo'd decode_fn must
        # not silently fall through to pseudo-features
        raise ValueError(f"unknown decode_fn {decode_fn!r}")
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("t_offset_s", T.DoubleType(), False),
            T.StructField("features", T.ArrayType(T.DoubleType()), False),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if decode_fn == "real":
                raise NotImplementedError(
                    "real frame decode requires video libraries; "
                    "use decode_fn='fake'"
                )  # STUB (see module docstring)
            rows = {"media_id": [], "frame_idx": [], "t_offset_s": [], "features": []}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                # ceil, matching the docstring: 4097 bytes = 2 frames
                n_bytes = 0 if content is None else len(content)
                n_frames = max(1, -(-n_bytes // 4096))
                for i in range(n_frames):
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(i)
                    rows["t_offset_s"].append(i * every_s)
                    rows["features"].append(
                        _fake_decode(None if content is None else content[i::n_frames], 8)
                    )
            yield pd.DataFrame(rows)

    return df.select("media_id", "content").mapInPandas(batches, out_schema)


def resize_images(
    df: DataFrame,
    *,
    width: int,
    height: int,
) -> DataFrame:
    """Resize every image row to ``width`` x ``height`` as an Arrow-batched
    ``mapInPandas`` pass; non-image rows (and NULL content) pass through
    untouched. Returns the same (media_id, content, meta) shape with the
    image bytes re-encoded and meta dims/size updated — so the resized
    lake is still one prunable Parquet table.

    Decode/encode tiers mirror ``extract_features``: PIL when importable
    (any format it knows, re-encoded as PNG), the pure-stdlib PNG codec +
    vectorized nearest-neighbor resample (operators/imaging.py) otherwise;
    non-PNG images without PIL raise ``NotImplementedError`` (native codec
    libraries are genuinely required — the Spark plumbing is identical)."""

    def _resize_one(content: bytes) -> bytes:
        try:
            import io

            from PIL import Image  # optional extra — absent in this container

            img = Image.open(io.BytesIO(content))
            out = io.BytesIO()
            img.resize((width, height), Image.NEAREST).save(out, format="PNG")
            return out.getvalue()
        except ImportError:
            from mortar_parquet_support_spark.operators.imaging import (
                decode_png, encode_png, resize_nearest,
            )

            try:
                w, h, ch, pix = decode_png(content)
            except ValueError as exc:
                # STUB for non-PNG formats: JPEG/WebP decode needs native
                # libraries not in this container; PNG resizes for real.
                raise NotImplementedError(
                    f"resize without PIL supports PNG only: {exc}"
                ) from exc
            return encode_png(
                resize_nearest(pix, w, h, ch, width, height), width, height, ch
            )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            contents, metas = [], []
            for content, meta in zip(pdf["content"], pdf["meta"]):
                meta = dict(meta)
                if meta["modality"] == "image" and content is not None:
                    content = _resize_one(bytes(content))
                    meta["width"], meta["height"] = width, height
                    meta["n_bytes"] = len(content)
                    meta["format"] = "png"  # both paths re-encode as PNG
                contents.append(content)
                metas.append(meta)
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "content": contents, "meta": metas}
            )

    return df.select("media_id", "content", "meta").mapInPandas(
        batches, MEDIA_SCHEMA
    )


# ---------------------------------------------------------------------------
# Perceptual image dedup (round 12): pHash + hamming-band LSH
# ---------------------------------------------------------------------------

def phash_images(
    df: DataFrame,
    *,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """64-bit perceptual hash per image (operators/imaging.phash64:
    luma -> 32x32 box-mean -> DCT-II -> median-thresholded 8x8
    low-frequency block), Arrow-batched via ``mapInPandas`` — the decode
    is intentionally Python (the multimodal module contract), everything
    downstream of the hash is JVM-side. Returns (``id_col``, phash long).

    NULL-content rows are dropped (a content-free image cannot have a
    perceptual identity — the simhash empty-text convention: route such
    rows through exact metadata dedup instead). Non-PNG bytes raise the
    module's documented ``NotImplementedError`` — silently hashing
    undecoded bytes would put garbage fingerprints in the same column
    with no marker."""
    out_schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("phash", T.LongType(), False),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mortar_parquet_support_spark.operators.imaging import phash64

        for pdf in it:
            ids, hashes = [], []
            for mid, content in zip(pdf["id"], pdf["content"]):
                if content is None:
                    continue
                try:
                    hashes.append(phash64(bytes(content)))
                except ValueError as exc:
                    raise NotImplementedError(
                        "phash_images decodes PNG only (stdlib codec); "
                        f"row {mid!r}: {exc}. Filter to PNG images first."
                    ) from exc
                ids.append(mid)
            yield pd.DataFrame({"id": ids, "phash": pd.Series(hashes, dtype="int64")})

    return (
        df.select(
            F.col(id_col).cast("string").alias("id"),
            F.col(content_col).alias("content"),
        )
        .mapInPandas(batches, out_schema)
        .withColumnRenamed("id", id_col)
    )


def image_dedup(
    df: DataFrame,
    *,
    id_col: str = "media_id",
    content_col: str = "content",
    band_bits: int = 8,
    max_distance: int = 6,
) -> DataFrame:
    """Perceptual near-duplicate image pairs: pHash fingerprints ->
    hamming-band LSH candidates (dedup.fingerprint_band_pairs — the
    SAME banding the simhash text leg uses; with 64/band_bits bands,
    every pair within Hamming distance 64/band_bits - 1 is guaranteed
    caught) -> exact Hamming verify JVM-side (``bit_count(xor)``),
    keeping pairs at most ``max_distance`` bits apart. Returns
    (id_a, id_b, hamming) — feed to dedup.resolve_duplicates to pick
    cluster representatives, exactly like the text legs.

    The defaults are CONSISTENT by construction (review r12): 8 bands
    of 8 bits guarantee every pair within Hamming 7 >= max_distance=6
    becomes a candidate, so the output genuinely is "all pairs at most
    max_distance apart". Raising band_bits trades that guarantee for a
    cheaper explode; the function REJECTS a combination whose guarantee
    falls below max_distance rather than silently missing pairs in the
    gap.

    Scale shape: one Python decode pass for the 64-bit hashes (8 bytes a
    row no matter the image size), then the equi-join candidate pipeline
    — never all-pairs, no image bytes ever shuffle."""
    from mortar_parquet_support_spark.operators.dedup import (
        _validate_band_bits,
    )

    # validate BEFORE the guarantee arithmetic: band_bits=0 would
    # ZeroDivisionError on the next line with no mention of the contract
    _validate_band_bits(band_bits)
    if 64 // band_bits - 1 < max_distance:
        raise ValueError(
            f"band_bits={band_bits} gives {64 // band_bits} bands, "
            f"guaranteeing candidates only within Hamming "
            f"{64 // band_bits - 1} — below max_distance={max_distance}; "
            "pairs in the gap would be silently missed. Lower band_bits "
            "or max_distance."
        )
    hashes = phash_images(df, id_col=id_col, content_col=content_col)
    from mortar_parquet_support_spark.operators.dedup import fingerprint_band_pairs

    cand = fingerprint_band_pairs(
        hashes,
        id_col=id_col,
        fp_col="phash",
        band_bits=band_bits,
    )
    hamming = F.bit_count(
        F.col("fp_a").bitwiseXOR(F.col("fp_b"))
    ).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_distance)
        .select(
            F.col("id_a").alias(f"{id_col}_a"),
            F.col("id_b").alias(f"{id_col}_b"),
            "hamming",
        )
    )
