"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

Pixel and sample decode are REAL for every format stdlib+numpy can
reach (PNG/BMP/GIF/TIFF + baseline/progressive JPEG via
kernels/imagepix + jpegdec; WAV PCM via kernels/audiofeat) — perceptual
signatures, near-dup clustering, resizing, and audio curation gates run
on actual pixels/samples. Only the genuinely codec-bound formats (WEBP,
CCITT fax, arithmetic JPEG, compressed audio, video frames) keep the
loud stub contract; the historical `extract_media_meta` /
`extract_media_features` fakes stay for the frozen driver oracle, and
the Spark-side plumbing (schemas, Arrow batch shapes, mapInPandas
signatures, partitioning) is exactly what a full-codec production
pipeline would use.

Reference parity: the reference treats media as raw bytes identified by
sha256 (vision_llm.py:292-294) with per-batch extraction (batch size 5,
vision_llm.py:349-352) — here batching is the Arrow batch and parallelism
is partitions.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_kind", T.StringType(), True),   # image|audio|video
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def _fake_decode_from_hex(ref: str) -> dict:
    """_fake_decode keyed on an ALREADY-computed media_ref: the hex ref IS
    the sha256 digest, so kernels that computed the ref can derive the
    fake metadata without hashing the blob a second time."""
    h = bytes.fromhex(ref)
    return {
        "width": 64 + h[0] * 4,
        "height": 64 + h[1] * 4,
        "duration_ms": int.from_bytes(h[2:4], "big"),
    }


def _fake_decode(blob: bytes) -> dict:
    """Deterministic stand-in for a real decoder (PIL/ffmpeg not in this
    container). Derives plausible metadata purely from the bytes' hash so
    tests are stable. Replace with a real decoder in production."""
    return _fake_decode_from_hex(hashlib.sha256(blob or b"").hexdigest())


def _ref(b) -> str:
    """Content-addressed media_ref — ONE definition for every kernel (the
    four inline copies of this lambda drifted independently before)."""
    return hashlib.sha256(b or b"").hexdigest()


MEDIA_HEADER_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("media_kind", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
    ]
)


def sniff_media_meta(media: DataFrame, blob_col: str = "blob") -> DataFrame:
    """REAL container-header metadata from media bytes — no codec needed.

    Unlike :func:`extract_media_meta` (the documented decode stub kept
    for the frozen driver contract), this parses the actual public byte
    layouts of PNG/JPEG/GIF/WEBP/BMP/WAV/AVI/MP4 headers
    (kernels/mediainfo.py): format sniff by magic, pixel dimensions,
    audio sample-rate/channels, and duration.  Everything a curation
    pass gates on before any GPU decode — beacon pixels, resolution
    floors, duration quotas — from the first KB of each blob.

    mapInPandas over Arrow batches of binary; unknown formats yield an
    all-NULL metadata row (the blob still gets its sha256 identity).
    """
    from docproc_spark.kernels.mediainfo import sniff_media_header

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf[blob_col]
            metas = [sniff_media_header(b) for b in blobs]

            def col(key, dtype):
                return pd.array([m[key] for m in metas], dtype=dtype)

            yield pd.DataFrame(
                {
                    "media_ref": blobs.map(_ref),
                    "format": col("format", "object"),
                    "media_kind": col("media_kind", "object"),
                    "n_bytes": pd.array(
                        [len(b or b"") for b in blobs], dtype="Int64"
                    ),
                    "width": col("width", "Int32"),
                    "height": col("height", "Int32"),
                    "duration_ms": col("duration_ms", "Int64"),
                    "sample_rate": col("sample_rate", "Int32"),
                    "channels": col("channels", "Int32"),
                }
            )

    return media.mapInPandas(kernel, schema=MEDIA_HEADER_SCHEMA)


def extract_media_meta(media: DataFrame, blob_col: str = "blob", kind_col: str = "media_kind") -> DataFrame:
    """mapInPandas media metadata extraction: binary in → typed meta out.

    Iterator form so a real decoder initializes once per partition.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf[blob_col]
            # hash each blob ONCE: media_ref IS the digest _fake_decode
            # keys on, so recomputing sha256 inside it doubled the
            # hashing on the metadata path
            refs = blobs.map(_ref)
            metas = refs.map(lambda r: _fake_decode_from_hex(r))
            out = pd.DataFrame(
                {
                    "media_ref": refs,
                    "media_kind": pdf[kind_col] if kind_col in pdf else "image",
                    "n_bytes": blobs.map(lambda b: len(b or b"")),
                    "width": metas.map(lambda m: m["width"]),
                    "height": metas.map(lambda m: m["height"]),
                    "duration_ms": metas.map(lambda m: m["duration_ms"]),
                }
            )
            yield out

    return media.mapInPandas(kernel, schema=MEDIA_META_SCHEMA)


def extract_media_features(media: DataFrame, blob_col: str = "blob", dims: int = 16) -> DataFrame:
    """Feature extraction stub: binary → fixed-dim float vector.

    Deterministic fake features (bytes of sha256, scaled) — the REAL part
    is the plumbing: Arrow batches of binary in, array<float> out, ready
    for the similarity operators.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf[blob_col]

            def feat(b):
                h = hashlib.sha256(b or b"").digest()
                return [(h[i % 32] - 128) / 128.0 for i in range(dims)]

            yield pd.DataFrame(
                {
                    "media_ref": blobs.map(_ref),
                    "feature": blobs.map(feat),
                }
            )

    return media.mapInPandas(kernel, schema=FEATURE_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int, blob_col: str = "blob") -> DataFrame:
    """Resize: binary in → binary out with target-dim metadata.

    REAL for stdlib-decodable formats (PNG/BMP/GIF/JPEG/TIFF):
    integer box-mean resample of the decoded RGB, re-encoded as PNG —
    deterministic, no PIL. Blobs this environment cannot decode
    (WEBP/arithmetic JPEG; corrupt bytes) pass through untouched, preserving
    the original schema/batching contract a full-codec swap-in must
    honor. ``media_ref`` stays the INPUT blob's identity so resized
    output joins back to the catalogue/span tables.

    Decode+re-encode is the heavy per-row kernel, so low-split inputs
    are fanned out to session parallelism first (scan_fanout; no-op on
    well-split inputs). Header-sniff-only siblings (sniff_media_meta)
    deliberately do NOT fan out — shuffling full blobs would cost more
    than the header peek they parallelize.
    """
    from docproc_spark.partition import scan_fanout

    media = scan_fanout(media)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from docproc_spark.kernels.imagepix import (
            ImageDecodeError,
            box_resample,
            decode_image_pixels,
            encode_png,
        )

        def one(b):
            try:
                d = decode_image_pixels(b)
            except ImageDecodeError:
                return b  # pass through what we cannot decode
            w, h = d["width"], d["height"]
            planes = [
                box_resample(list(d["rgb"][c::3]), w, h, width, height)
                for c in range(3)
            ]
            out = bytes(
                planes[c][i] for i in range(width * height) for c in range(3)
            )
            return encode_png(out, width, height)

        for pdf in batches:
            blobs = pdf[blob_col]
            yield pd.DataFrame(
                {
                    "media_ref": blobs.map(_ref),
                    "resized": blobs.map(one),
                    "width": width,
                    "height": height,
                }
            )

    return media.mapInPandas(
        kernel,
        schema="media_ref string, resized binary, width int, height int",
    )


def sample_frames(media: DataFrame, every_ms: int = 1000, blob_col: str = "blob") -> DataFrame:
    """Video frame-sampling stub: one row per sampled frame.

    Real implementation: ffmpeg/pyav seek every ``every_ms`` inside the
    iterator kernel. The deterministic fake derives a frame count from the
    (fake) duration metadata so downstream explode/partitioning logic is
    tested with realistic shapes.
    """

    if every_ms <= 0:
        raise ValueError(f"every_ms must be positive: {every_ms}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_ref": [], "frame_idx": [], "ts_ms": [], "frame_ref": []}
            for b in pdf[blob_col]:
                ref = _ref(b)
                duration = _fake_decode_from_hex(ref)["duration_ms"]
                for i, ts in enumerate(range(0, int(duration), every_ms)):
                    out["media_ref"].append(ref)
                    out["frame_idx"].append(i)
                    out["ts_ms"].append(ts)
                    out["frame_ref"].append(
                        hashlib.sha256(f"{ref}:{i}".encode()).hexdigest()
                    )
            yield pd.DataFrame(out)

    return media.mapInPandas(
        kernel,
        schema="media_ref string, frame_idx int, ts_ms long, frame_ref string",
    )


IMAGE_SIG_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("gray_mean", T.IntegerType(), True),
        T.StructField("dhash64", T.LongType(), True),
        T.StructField("ahash64", T.LongType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


def image_signatures(
    media: DataFrame, blob_col: str = "blob", max_pixels: int | None = None
) -> DataFrame:
    """REAL pixel decode + perceptual signatures for stdlib-decodable
    image formats (PNG/BMP/GIF/TIFF + baseline/progressive JPEG —
    kernels/imagepix.py / jpegdec.py; no PIL needed).

    Per blob: sha256 identity, decoded dimensions, integer BT.601
    gray mean, and two 64-bit perceptual fingerprints — dHash
    (gradient) and aHash (mean-threshold) — the near-dup image
    identity that survives re-encoding and rescaling, which the
    byte-level sha256 cannot. Undecodable blobs (WEBP/arithmetic-JPEG
    need a codec; corrupt data) yield NULL metrics with the reason in
    ``decode_error`` — a row property, never a task failure.

    Scale shape: one mapInPandas over Arrow batches; the decode cost
    per blob is bounded by the header-declared pixel count
    (``max_pixels``) BEFORE any decompression, so a hostile 67-byte
    PNG cannot inflate to gigabytes on an executor. Low-split inputs
    (single-row-group parquet, one archive) are fanned out to session
    parallelism first — decode is the heavy per-row kernel of this
    family and would otherwise run on one core (guide §2.5 input
    skew); well-split inputs pass through with no added exchange.
    """
    from docproc_spark.kernels.imagepix import (
        DEFAULT_MAX_PIXELS,
        image_signature,
    )
    from docproc_spark.partition import scan_fanout

    media = scan_fanout(media)
    cap = DEFAULT_MAX_PIXELS if max_pixels is None else max_pixels

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf[blob_col]
            sigs = [image_signature(b, cap) for b in blobs]

            def col(key, dtype):
                return pd.array([s[key] for s in sigs], dtype=dtype)

            yield pd.DataFrame(
                {
                    "media_ref": blobs.map(_ref),
                    "format": col("format", "object"),
                    "width": col("width", "Int32"),
                    "height": col("height", "Int32"),
                    "gray_mean": col("gray_mean", "Int32"),
                    "dhash64": col("dhash64", "Int64"),
                    "ahash64": col("ahash64", "Int64"),
                    "decode_error": col("decode_error", "object"),
                }
            )

    return media.mapInPandas(kernel, schema=IMAGE_SIG_SCHEMA)


def image_neardup_pairs(
    media: DataFrame,
    blob_col: str = "blob",
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate IMAGE pairs by dHash: decode + signature (one
    mapInPandas pass), collapse byte-identical blobs to their sha256
    ref, then pigeonhole-banded hamming pairs via the generic
    :func:`docproc_spark.operators.dedupe.hamming_neardup_pairs` —
    perfect recall up to ``max_bucket`` skew capping, never O(n²).

    Returns (a, b, hamming) over media_ref identities — the LAION-style
    perceptual dedupe step: re-encoded/rescaled copies of one image
    land within a few bits of hamming distance.
    """
    from docproc_spark.operators.dedupe import hamming_neardup_pairs

    sigs = image_signatures(media, blob_col).filter(
        F.col("dhash64").isNotNull()
    )
    # materialize BEFORE the banded join: its bucket-accounting collect
    # plus the left/right self-join branches would otherwise re-run the
    # full pixel-decode mapInPandas 3-4x over the corpus. A lazy
    # localCheckpoint (not .cache()): checkpoint blocks are reclaimed by
    # the ContextCleaner as soon as the result frame is dropped, so
    # repeated corpus-scale invocations no longer accumulate decode
    # output in executor storage (the r5-ADVICE unpersist leak).
    uniq = (
        sigs.select("media_ref", "dhash64")
        .dropDuplicates(["media_ref"])
        .localCheckpoint(eager=False)
    )
    return hamming_neardup_pairs(
        uniq,
        sig_col="dhash64",
        id_col="media_ref",
        max_hamming=max_hamming,
        n_bands=n_bands,
        n_bits=64,
        max_bucket=max_bucket,
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("mean_square", T.LongType(), True),
        T.StructField("peak_abs", T.IntegerType(), True),
        T.StructField("silence_permille", T.IntegerType(), True),
        T.StructField("clip_permille", T.IntegerType(), True),
        T.StructField("zero_crossings", T.LongType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


def audio_features(
    media: DataFrame, blob_col: str = "blob", max_frames: int | None = None
) -> DataFrame:
    """REAL PCM sample-level audio features for WAV blobs
    (kernels/audiofeat.py — stdlib + numpy, no ffmpeg): energy
    (integer mean-square), peak, silence/clipping permille, zero
    crossings — the gates an audio-corpus curation pass runs before
    any GPU transcription (drop silent clips, flag clipped recordings,
    screen tones vs speech by crossing rate). Compressed audio reports
    the codec gap in ``decode_error``; header facts still come from
    :func:`sniff_media_meta`.

    One mapInPandas over Arrow batches; per-blob cost is bounded by the
    header-declared frame count before the data chunk is touched.
    PCM feature extraction is heavy per row, so low-split inputs are
    fanned out to session parallelism first (scan_fanout; no-op on
    well-split inputs).
    """
    from docproc_spark.kernels.audiofeat import (
        DEFAULT_MAX_FRAMES,
        wav_features,
    )
    from docproc_spark.partition import scan_fanout

    media = scan_fanout(media)

    cap = DEFAULT_MAX_FRAMES if max_frames is None else max_frames

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf[blob_col]
            feats = [wav_features(b, cap) for b in blobs]

            def col(key, dtype):
                return pd.array([f[key] for f in feats], dtype=dtype)

            yield pd.DataFrame(
                {
                    "media_ref": blobs.map(_ref),
                    "sample_rate": col("sample_rate", "Int32"),
                    "channels": col("channels", "Int32"),
                    "n_frames": col("n_frames", "Int64"),
                    "duration_ms": col("duration_ms", "Int64"),
                    "mean_square": col("mean_square", "Int64"),
                    "peak_abs": col("peak_abs", "Int32"),
                    "silence_permille": col("silence_permille", "Int32"),
                    "clip_permille": col("clip_permille", "Int32"),
                    "zero_crossings": col("zero_crossings", "Int64"),
                    "decode_error": col("decode_error", "object"),
                }
            )

    return media.mapInPandas(kernel, schema=AUDIO_FEATURES_SCHEMA)


def perceptual_dup_clusters(
    sig_table: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """media_ref → perceptual cluster over a signature catalogue
    (sources/media_sidecar.load_media_signatures or
    :func:`image_signatures` output): pigeonhole-banded hamming pairs
    on dHash, then connected components — re-encoded/rescaled copies
    of one image collapse to one ``cluster`` (min media_ref), which
    is what corpus-level template-media detection joins on. Refs
    without pixels (NULL dhash64: codec-gated or corrupt) are
    excluded; singletons return their own ref as cluster.

    Scale: the signature table is one row per DISTINCT blob identity
    (dropDuplicates on media_ref — one hash shuffle of the small
    distinct-blob side, never the document table); pairs and
    components inherit the banded never-O(n²) contract.
    """
    from docproc_spark.operators.dedupe import (
        dup_components,
        hamming_neardup_pairs,
    )

    # materialized: consumed by the banded pair join (bucket accounting +
    # two self-join branches) AND the final cluster mapping — without
    # it the upstream signature decode re-executes per consumer. Lazy
    # localCheckpoint so the blocks are ContextCleaner-reclaimed when the
    # result frame is dropped (no unpersist leak across invocations).
    uniq = (
        sig_table.filter(F.col("dhash64").isNotNull())
        .select("media_ref", "dhash64")
        .dropDuplicates(["media_ref"])
        .localCheckpoint(eager=False)
    )
    pairs = hamming_neardup_pairs(
        uniq,
        sig_col="dhash64",
        id_col="media_ref",
        max_hamming=max_hamming,
        n_bands=n_bands,
        n_bits=64,
        max_bucket=max_bucket,
    )
    comps = dup_components(pairs).withColumnRenamed("doc_id", "media_ref")
    return uniq.select("media_ref").join(comps, "media_ref", "left").select(
        "media_ref",
        F.coalesce("component", F.col("media_ref")).alias("cluster"),
    )


def perceptual_template_refs(
    sig_table: DataFrame,
    min_docs: int = 3,
    max_hamming: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """media_refs whose PERCEPTUAL cluster appears in ≥ ``min_docs``
    distinct documents — template media (logos, letterheads, slide
    chrome) that exact-identity frequency misses whenever each document
    carries a slightly re-encoded copy. Feed the result to the
    exact-identity template strippers (operators/interleave.py) or any
    span gate: the returned refs ARE span-table identities.

    Input is a signature catalogue (load_media_signatures /
    load_wds_signatures / image_signatures joined to docs). Returns
    (media_ref, cluster, n_docs). Scale: clustering inherits the
    banded never-O(n²) contract; frequency is one groupBy over the
    distinct-blob side, never the span tables.
    """
    clusters = perceptual_dup_clusters(
        sig_table, max_hamming=max_hamming
    )
    with_cluster = (
        sig_table.filter(F.col("dhash64").isNotNull())
        .select(id_col, "media_ref")
        .dropDuplicates([id_col, "media_ref"])
        .join(clusters, "media_ref")
    )
    freq = with_cluster.groupBy("cluster").agg(
        F.countDistinct(id_col).alias("n_docs")
    )
    return (
        clusters.join(freq, "cluster")
        .filter(F.col("n_docs") >= min_docs)
        .select("media_ref", "cluster", "n_docs")
    )


def decode_image(blob: bytes):
    """Real image decode for stdlib-decodable formats — PNG (zlib
    DEFLATE + unfiltering), BMP, GIF (LZW) via kernels/imagepix.py.
    Returns {format, width, height, rgb}. Baseline + progressive JPEG
    and baseline TIFF decode too; formats that still need a native
    codec (WEBP, CCITT fax, arithmetic-coded JPEG) raise
    NotImplementedError, preserving the loud env-stub contract;
    corrupt bytes raise ImageDecodeError (quarantine, not env)."""
    from docproc_spark.kernels.imagepix import (
        CodecUnavailableError,
        decode_image_pixels,
    )

    try:
        return decode_image_pixels(blob)
    except CodecUnavailableError as exc:
        raise NotImplementedError(str(exc)) from None
