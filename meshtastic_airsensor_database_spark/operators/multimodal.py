"""Multimodal (binary) column operators (SURVEY.md §2.11 multimodal_columns).

Images/audio/video ride along as opaque ``binary`` columns plus a typed
metadata struct. The Spark-side plumbing — schema, partition-friendly
batch iteration, Arrow-batched UDF signatures — is real and tested.
Byte decoding is real for the formats pure Python can handle without
PIL/librosa/ffmpeg (binary PPM images and PCM WAV audio —
``functions/codecs.py``: header parse, pixel/sample arrays,
nearest-neighbor resize, re-encode); unrecognized formats fall back to
``decode_stub``, a clearly-marked deterministic fake swappable for a
real decoder in production.

Scale shape: ``mapInPandas`` streams Arrow batches through the Python
worker — memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``, not partition size,
which is what keeps 100 MB-per-row media workable on ordinary
executors.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.codecs import CodecError

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("modality", T.StringType()),
        T.StructField("mime_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", MEDIA_META_SCHEMA),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feat_mean", T.DoubleType()),
        T.StructField("feat_histogram", T.ArrayType(T.LongType())),
    ]
)

def to_media_table(df: DataFrame, id_col: str, payload_col: str, modality: str) -> DataFrame:
    """Wrap any source column as the canonical media table: opaque bytes
    + typed metadata (the binaryFile-source shape)."""
    blob = F.col(payload_col).cast("binary")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        blob.alias("content"),
        F.struct(
            F.lit(modality).alias("modality"),
            F.lit(f"application/x-{modality}").alias("mime_type"),
            F.length(blob).cast("long").alias("n_bytes"),
            F.sha2(blob, 256).alias("sha256"),
        ).alias("meta"),
    )


def decode_stub(content: bytes) -> dict:
    """DETERMINISTIC FAKE DECODER — stands in for PIL/librosa/ffmpeg on
    formats ``decode_media`` does not recognize.

    Production swaps this single function for a real decoder; the
    surrounding Spark plumbing (schema, Arrow batching, partitioning)
    is unchanged. Raises on None to exercise the malformed-row path.
    """
    if content is None:
        raise NotImplementedError("no real decoder in this container; content required")
    hist = [0] * 8
    for byte in content[:4096]:  # bounded work per record, like a thumbnail decode
        hist[byte >> 5] += 1
    mean = (sum(content[:4096]) / min(len(content), 4096)) if content else 0.0
    return {"feat_mean": mean, "feat_histogram": hist}


def decode_media(content: bytes) -> dict:
    """REAL decode for PPM images / PCM WAV audio; stub otherwise.

    Features have one definition across modalities: ``feat_mean`` is the
    mean decoded intensity (pixel value 0-255, or |sample| scaled to
    0-255 for audio) and ``feat_histogram`` is its 8-bin distribution —
    so downstream quality gates work unchanged whichever decoder ran.
    Malformed media raise (the operator drops the row and continues).
    """
    import numpy as np

    from ..functions.codecs import CodecError, decode_ppm, decode_wav, sniff_format

    if content is None:
        raise NotImplementedError("content required")
    fmt = sniff_format(content)
    if fmt == "ppm":
        values = decode_ppm(content).ravel()
    elif fmt == "wav":
        samples, _rate = decode_wav(content)
        # |amplitude| scaled int16 -> 0..255 intensity
        values = (np.abs(samples.astype(np.int32)).ravel() // 129).clip(0, 255)
    else:
        return decode_stub(content)
    hist = np.bincount(values >> 5, minlength=8)[:8]
    return {
        "feat_mean": float(values.mean()) if len(values) else 0.0,
        "feat_histogram": [int(x) for x in hist],
    }


def extract_features(media: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """Arrow-batched feature extraction over the media table.

    ``mapInPandas`` (not a scalar UDF) so one Python call handles a
    whole Arrow batch and malformed records can be dropped (the
    reference's drop-and-continue contract, AIRWISEv0.py:155-157).
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    feats = decode_media(bytes(content) if content is not None else None)
                except (NotImplementedError, CodecError):
                    continue  # malformed_row_skip semantics
                rows.append(
                    {
                        "media_id": media_id,
                        "n_bytes": len(content),
                        "feat_mean": feats["feat_mean"],
                        "feat_histogram": feats["feat_histogram"],
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return media.select("media_id", "content").mapInPandas(op, FEATURE_SCHEMA)


def resize_stub(content: bytes, width: int, height: int) -> bytes:
    """DETERMINISTIC FAKE RESIZE — stands in for PIL ``Image.resize`` on
    formats ``resize_media`` cannot really decode.

    Produces exactly ``width*height`` output bytes by striding/repeating
    the input, so tests can assert the size contract a real thumbnailer
    would satisfy. Raises on None (malformed-row path).
    """
    if content is None:
        raise NotImplementedError("no real image library in this container")
    n = width * height
    if not content:
        return bytes(n)
    reps = (n // len(content)) + 1
    return (content * reps)[:n]


def resize_bytes(content: bytes, width: int, height: int) -> bytes:
    """REAL resize for PPM images (decode -> nearest-neighbor resample
    -> re-encode as P6); stub for everything else. Raises CodecError on
    malformed PPM (drop-and-continue at the operator)."""
    from ..functions.codecs import decode_ppm, encode_ppm, resize_nearest, sniff_format

    if content is not None and sniff_format(content) == "ppm":
        return encode_ppm(resize_nearest(decode_ppm(content), width, height))
    return resize_stub(content, width, height)


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """media table -> media table with every blob resized (thumbnail
    pipeline shape). Output schema == input schema (MEDIA_SCHEMA), so
    resize composes with extract_features / dedup-by-sha256 unchanged;
    metadata (n_bytes, sha256) is recomputed JVM-side on the new bytes.
    """
    import hashlib

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content, meta in zip(
                pdf["media_id"], pdf["content"], pdf["meta"]
            ):
                if meta is None:
                    continue  # malformed_row_skip semantics (no metadata)
                try:
                    out = resize_bytes(
                        bytes(content) if content is not None else None, width, height
                    )
                except (NotImplementedError, CodecError):
                    continue  # malformed_row_skip semantics
                rows.append(
                    {
                        "media_id": media_id,
                        "content": out,
                        "meta": {
                            "modality": meta["modality"],
                            "mime_type": meta["mime_type"],
                            "n_bytes": len(out),
                            "sha256": hashlib.sha256(out).hexdigest(),
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return media.mapInPandas(op, MEDIA_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("frame", T.BinaryType()),
    ]
)

FRAME_BYTES = 256  # fake fixed frame size; a real demuxer yields codec frames


def frame_sample(media: DataFrame, every_n: int = 2, max_frames: int = 16) -> DataFrame:
    """One video row -> many frame rows (1:N flat-map — the UDTF shape,
    via mapInPandas yielding multiple output rows per input).

    The fake 'demuxer' treats the blob as fixed-size frames and keeps
    every ``every_n``-th, capped at ``max_frames`` (the cap bounds
    output amplification per row — at scale an uncapped 1:N over hour
    long videos is how frame tables explode a stage).
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue  # malformed_row_skip semantics
                blob = bytes(content)
                n_frames = max(1, len(blob) // FRAME_BYTES)
                kept = 0
                for i in range(0, n_frames, every_n):
                    if kept >= max_frames:
                        break
                    rows.append(
                        {
                            "media_id": media_id,
                            "frame_idx": i,
                            "frame": blob[i * FRAME_BYTES : (i + 1) * FRAME_BYTES],
                        }
                    )
                    kept += 1
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA.fields])

    return media.select("media_id", "content").mapInPandas(op, FRAME_SCHEMA)


# --- perceptual image hashing + multimodal near-dup ---------------------------

AHASH_SIDE = 8  # 8x8 grid -> 64-bit hash


def ahash_bytes(content: bytes) -> int:
    """64-bit average hash (aHash) of a PPM image: decode, grayscale,
    nearest-resize to 8x8, threshold each cell at the grid mean. Two
    images within small crops / brightness-preserving edits differ in
    few bits (hamming distance), making near-dup detection a bit-level
    problem the SimHash banding machinery already solves. Raises
    CodecError on non-PPM bytes (malformed_row_skip semantics)."""
    import numpy as np

    from ..functions.codecs import decode_ppm, resize_nearest

    pixels = decode_ppm(bytes(content))
    gray = pixels.astype(np.float64).mean(axis=2)  # (H, W)
    small = resize_nearest(gray[:, :, None].repeat(3, axis=2), AHASH_SIDE, AHASH_SIDE)[
        :, :, 0
    ]
    bits = (small >= small.mean()).ravel()
    h = 0
    for b in bits:
        h = (h << 1) | int(b)
    # interpret as signed 64-bit so the value fits Spark's LongType
    return h - (1 << 64) if h >= (1 << 63) else h


def image_phash(media: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """(media_id, ahash) over a media table — Arrow-batched; undecodable
    rows are dropped (malformed_row_skip), keeping the corpus pipeline
    running past junk bytes."""

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("ahash", T.LongType()),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.codecs import CodecError

        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue
                try:
                    rows.append({"media_id": media_id, "ahash": ahash_bytes(content)})
                except CodecError:
                    continue
            yield pd.DataFrame(rows, columns=["media_id", "ahash"])

    return media.select("media_id", "content").mapInPandas(op, schema)


def image_neardup_pairs(
    media: DataFrame,
    max_hamming: int = 6,
    n_bands: int = 4,
    hasher=None,
) -> DataFrame:
    """Image near-dup pairs via banded aHash: split the 64-bit hash into
    ``n_bands`` 16-bit bands — pairs within hamming distance
    ``max_hamming < n_bands`` MUST agree on at least one full band
    (pigeonhole), so banding finds them with ONE shuffle on (band_idx,
    band_value) and zero false negatives at distance < n_bands; the
    exact hamming check then filters candidates (no false positives).
    The identical plan shape as SimHash text dedup — multimodal dedup
    reuses the text machinery on perceptual bits. The pair id is the
    (media_id, ahash) STRUCT, so the exact hamming verify reads both
    hashes straight off the pair — the phash decode pipeline runs
    exactly once and nothing joins back to it. ``hasher`` swaps the
    float-mean ``image_phash`` for the integer-exact ``image_ahash_int``
    (the oracle basis) — same contract: media -> (media_id, ahash)."""
    from .dedup import pairs_within_buckets

    hashes = (hasher or image_phash)(media)
    band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1
    bands = hashes.select(
        F.struct("media_id", "ahash").alias("m"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftrightunsigned(F.col("ahash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_hash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("m", "band.band_idx", "band.band_hash")
    cands = pairs_within_buckets(bands, ["band_idx", "band_hash"], "m")
    hamming = F.bit_count(
        F.col("id_a.ahash").bitwiseXOR(F.col("id_b.ahash"))
    )
    return cands.select(
        F.col("id_a.media_id").alias("id_a"),
        F.col("id_b.media_id").alias("id_b"),
        hamming.alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


AUDIO_INT_BANDS = 16  # band-energy fingerprint width


def audio_features_int(media: DataFrame) -> DataFrame:
    """INTEGER-exact audio features over DECODED WAV (channel 0):
    sample count, zero crossings (sign(s[k-1]) != sign(s[k]) on the
    strict < 0 test), total energy (sum of squares, int64), peak |s|,
    and a {bands}-bit band-energy fingerprint — sample k belongs to
    window (k*{bands})//n, bit w set iff win_energy*{bands} >= total.
    Every op is integer arithmetic, so the features are bit-identical
    in any engine: the oracle twin of
    plans/vectorq.py::audio_fingerprint_exact re-derives the same
    samples from the md5 basis and must reproduce them exactly — a
    decode_wav header/chunk/endianness bug diverges Spark from the
    oracle, hash-pinning the WAV encode/decode ROUNDTRIP the way
    image_ahash_int pins PPM. Undecodable rows are dropped
    (malformed_row_skip)."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("zero_crossings", T.LongType()),
            T.StructField("energy", T.LongType()),
            T.StructField("peak", T.LongType()),
            T.StructField("band_hash", T.LongType()),
        ]
    )
    nb = AUDIO_INT_BANDS

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.codecs import CodecError, decode_wav

        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue
                try:
                    samples, _rate = decode_wav(bytes(content))
                except CodecError:
                    continue
                s = samples[:, 0].astype(np.int64)
                n = len(s)
                zc = int(np.sum((s[:-1] < 0) != (s[1:] < 0))) if n > 1 else 0
                sq = s * s
                energy = int(sq.sum())
                peak = int(np.abs(s).max()) if n else 0
                we = np.zeros(nb, dtype=np.int64)
                if n:
                    np.add.at(we, (np.arange(n) * nb) // n, sq)
                h = 0
                for w in range(nb):
                    if int(we[w]) * nb >= energy:
                        h |= 1 << w
                rows.append(
                    {
                        "media_id": media_id,
                        "n_samples": n,
                        "zero_crossings": zc,
                        "energy": energy,
                        "peak": peak,
                        "band_hash": h,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_samples", "zero_crossings",
                    "energy", "peak", "band_hash",
                ],
            )

    return media.select("media_id", "content").mapInPandas(op, schema)


AHASH_INT_SIDE = 8  # 8x8 grid -> 64-bit hash, like ahash_bytes


def image_ahash_int(media: DataFrame) -> DataFrame:
    """INTEGER-exact aHash variant: decode the PPM, take the
    nearest-neighbor 8x8 grid (``resize_nearest``'s index math:
    source pixel (y*H//8, x*W//8)), cell = r+g+b (integer gray sum),
    bit y*8+x set iff cell*64 >= sum(cells) — the float mean threshold
    of ``ahash_bytes`` re-expressed as an all-integer comparison, so
    the hash is bit-identical in ANY engine. That is what lets the
    banded image near-dup pipeline carry an exact DuckDB twin
    (plans/vectorq.py::image_neardup_pairs_exact): the twin re-derives
    the same cells from the pixel bytes and must reproduce hash, bands
    and pairs exactly — if decode_ppm mis-parsed the header, stride or
    channel order, the cross-engine hashes diverge and the driver row
    goes red. Returns (media_id, ahash); undecodable rows are dropped
    (malformed_row_skip)."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("ahash", T.LongType()),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.codecs import CodecError, decode_ppm

        s = AHASH_INT_SIDE
        # bit weights once per task: the per-row hash is then one
        # vectorized dot against the thresholded bit matrix instead of
        # a 64-iteration Python loop per row (guide §4.2: hand whole
        # batches to numpy)
        weights = (np.uint64(1) << np.arange(s * s, dtype=np.uint64))
        for pdf in batches:
            ids, grids = [], []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue
                try:
                    px = decode_ppm(bytes(content))
                except CodecError:
                    continue
                h_src, w_src = px.shape[:2]
                ri = (np.arange(s) * h_src // s).clip(0, h_src - 1)
                ci = (np.arange(s) * w_src // s).clip(0, w_src - 1)
                ids.append(media_id)
                grids.append(px[ri[:, None], ci[None, :]])
            if not ids:
                yield pd.DataFrame({"media_id": [], "ahash": []}).astype(
                    {"media_id": "int64", "ahash": "int64"}
                )
                continue
            g = np.stack(grids).astype(np.int64)  # (B, s, s, 3)
            cells = g.sum(axis=3).reshape(len(ids), s * s)  # (B, 64)
            totals = cells.sum(axis=1, keepdims=True)
            bits = cells * (s * s) >= totals
            hashes = (bits.astype(np.uint64) * weights).sum(axis=1)
            yield pd.DataFrame(
                {
                    "media_id": np.asarray(ids, dtype=np.int64),
                    # uint64 -> signed two's-complement, like the scalar form
                    "ahash": hashes.view(np.int64),
                }
            )

    return media.select("media_id", "content").mapInPandas(op, schema)
