"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a small structured
header; all Spark-side plumbing (schema, Arrow batch shape, partitioning)
is real and tested, and so is the decode for every modality's
interchange format: images — full PNG matrix (all color types incl.
palette, depths 1-16, Adam7 — kernels/png.py), binary netpbm, JPEG both
baseline and progressive (kernels/jpeg.py); audio — PCM WAV
(kernels/wav.py); video — MJPEG streams with real per-frame JPEG decode
(frame sampling, kernels/jpeg.split_mjpeg). Compressed audio/video
codecs (MP3/AAC/H.264) are the ffmpeg plug-in seam on a production
cluster.

Payload wire format for the synthetic fixture class (deterministic,
self-describing):
``b"IMG1" + width:uint16be + height:uint16be + channels:uint8 + raw bytes``
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.worker import python_stage

MAGIC = b"IMG1"

META_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("valid", T.BooleanType()),
    ]
)


def encode_fake_image(vec_id: int, width: int, height: int, channels: int = 1) -> bytes:
    """Deterministic fake payload: header + md5-derived pixel bytes.

    Pixels are the concatenated digests of md5(f"img:{vec_id}:{block}")
    truncated to the body length — chosen over an RNG stream because any
    engine (in particular the DuckDB oracle, via its md5() hex) can replay
    byte b as digest-byte b%16 of block b//16, making downstream features
    (mean_px) exactly checkable."""
    import hashlib

    n = width * height * channels
    blocks = b"".join(
        hashlib.md5(f"img:{int(vec_id)}:{blk}".encode()).digest()
        for blk in range((n + 15) // 16)
    )
    return MAGIC + struct.pack(">HHB", width, height, channels) + blocks[:n]


def parse_header(payload: bytes | None) -> tuple[str, int, int, int, bool]:
    """Format sniff + dimensions: IMG1 (synthetic), PNG (real IHDR parse),
    binary netpbm. Anything else → unknown/invalid."""
    if not payload or len(payload) < 9:
        return ("unknown", 0, 0, 0, False)
    if payload[:4] == MAGIC:
        w, h, c = struct.unpack(">HHB", payload[4:9])
        ok = len(payload) == 9 + w * h * c
        return ("IMG1", w, h, c, ok)
    from ocr_spark.kernels import png as _png

    if payload[:8] == _png.PNG_SIG:
        # header-only read (read_ihdr) — a metadata scan must never pay
        # for IDAT decompression + filter reconstruction per image
        try:
            w, h, c = _png.read_ihdr(payload)
            return ("PNG", w, h, c, True)
        except Exception:
            return ("PNG", 0, 0, 0, False)
    if payload[:2] in (b"P5", b"P6"):
        try:
            img = _png.decode_netpbm(payload)  # header parse + length check
            return (
                payload[:2].decode(),
                img.shape[1],
                img.shape[0],
                img.shape[2],
                True,
            )
        except Exception:
            return (payload[:2].decode(), 0, 0, 0, False)
    if payload[:2] == b"\xff\xd8":
        # real dims from the SOF header, no entropy decode — baseline
        # and progressive both parse AND decode (the reference whitelist
        # accepts .jpg/.jpeg, scripts/ExtractX_OCR.py:72)
        from ocr_spark.kernels import jpeg as _jpeg

        try:
            w, h, c, _progressive = _jpeg.parse_dims(payload)
            return ("JPEG", w, h, c, True)
        except Exception:
            return ("JPEG", 0, 0, 0, False)
    return ("unknown", 0, 0, 0, False)


@python_stage
def _meta_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        metas = [parse_header(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "fmt": [m[0] for m in metas],
                "width": np.array([m[1] for m in metas], dtype="int32"),
                "height": np.array([m[2] for m in metas], dtype="int32"),
                "channels": np.array([m[3] for m in metas], dtype="int32"),
                "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                "valid": [m[4] for m in metas],
            }
        )


def extract_metadata(df: DataFrame) -> DataFrame:
    """(vec_id, payload binary) → typed metadata via one mapInPandas pass."""
    return df.select("vec_id", "payload").mapInPandas(_meta_batches, META_SCHEMA)


def decode_image(payload: bytes, fake: bool = False) -> np.ndarray:
    """Decode a payload to an HxWxC uint8 array, auto-detected by format:

    - PNG → REAL decode (pure stdlib zlib + NumPy, kernels/png.py; all
      color types incl. palette+tRNS, bit depths 1-16)
    - binary netpbm (P5/P6) → real decode
    - JPEG (baseline AND progressive) → REAL decode (pure NumPy
      Huffman+IDCT, kernels/jpeg.py)
    - IMG1 → the deterministic synthetic fixture format; decoded only
      with ``fake=True`` (its bytes ARE the pixels — the flag preserves
      the explicit synthetic-vs-real distinction in tests)
    """
    from ocr_spark.kernels import png as _png

    if payload[:8] == _png.PNG_SIG:
        return _png.decode_png(payload)
    if payload[:2] in (b"P5", b"P6"):
        return _png.decode_netpbm(payload)
    if payload[:2] == b"\xff\xd8":
        from ocr_spark.kernels import jpeg as _jpeg

        return _jpeg.decode_jpeg(payload)
    fmt, w, h, c, ok = parse_header(payload)
    if not ok:
        raise ValueError("invalid payload")
    if fake:
        return (
            np.frombuffer(payload[9:], dtype=np.uint8).reshape(h, w, c).copy()
        )
    raise NotImplementedError(
        "IMG1 is the synthetic fixture format; pass fake=True (real "
        "formats — PNG/netpbm — decode without the flag)"
    )


def rotate_image_payload(payload: bytes, rotation: int) -> bytes:
    """The reference's single-image rotation (scripts/ExtractX_OCR.py:
    290-312) on REAL payloads: decode → np.rot90 (negative = clockwise,
    matching PIL's rotate(-r, expand=True) for right angles) → re-encode
    PNG. rotation==0 short-circuits and returns the ORIGINAL bytes
    untouched (the reference's no-op path, :294-295); rotation must be a
    multiple of 90."""
    if rotation % 360 == 0:
        return payload
    if rotation % 90 != 0:
        raise ValueError("right-angle rotations only (0/90/180/270)")
    from ocr_spark.kernels.png import encode_png

    img = decode_image(payload, fake=True)
    rotated = np.rot90(img, k=-(rotation // 90) % 4)
    return encode_png(np.ascontiguousarray(rotated))


ROTATED_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def rotate_images(df: DataFrame, rotation: int) -> DataFrame:
    """Arrow-batched rotation of a payload column (one mapInPandas pass);
    rotation==0 is a true no-op projection — no Python stage at all.
    An undecodable payload (corrupt/truncated bytes) keeps its ORIGINAL
    bytes — the reference's fallback-to-original-on-error behavior
    (scripts/ExtractX_OCR.py:310-312); one bad image never fails the
    job, and downstream features count it in their failed tally."""
    if rotation % 360 == 0:
        return df.select("vec_id", "payload")

    def _rotate_or_keep(p: bytes) -> bytes:
        try:
            return rotate_image_payload(bytes(p), rotation)
        except Exception:
            return bytes(p)

    @python_stage
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "payload": [_rotate_or_keep(p) for p in pdf["payload"]],
                }
            )

    return df.select("vec_id", "payload").mapInPandas(fn, ROTATED_SCHEMA)


FEAT_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("mean_px", T.DoubleType()),
        T.StructField("resized_h", T.IntegerType()),
        T.StructField("resized_w", T.IntegerType()),
    ]
)


def _feature_batches(target: tuple[int, int]):
    th, tw = target

    @python_stage
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            means, hs, ws = [], [], []
            for p in pdf["payload"]:
                try:
                    img = decode_image(p, fake=True)
                    # nearest-neighbor resize in pure NumPy (stride sampling)
                    ys = np.linspace(0, img.shape[0] - 1, th).astype(int)
                    xs = np.linspace(0, img.shape[1] - 1, tw).astype(int)
                    small = img[ys][:, xs]
                    means.append(float(small.mean()))
                    hs.append(th)
                    ws.append(tw)
                except Exception:
                    means.append(float("nan"))
                    hs.append(0)
                    ws.append(0)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "mean_px": means,
                    "resized_h": np.array(hs, dtype="int32"),
                    "resized_w": np.array(ws, dtype="int32"),
                }
            )

    return fn


def image_features(df: DataFrame, target: tuple[int, int] = (8, 8)) -> DataFrame:
    """Decode(fake) → resize → mean-pixel feature, Arrow-batched."""
    return df.select("vec_id", "payload").mapInPandas(
        _feature_batches(target), FEAT_SCHEMA
    )


# ---------------------------------------------------------------------------
# audio (PCM WAV — kernels/wav.py) and video (MJPEG stream — kernels/jpeg.py)
# ---------------------------------------------------------------------------

AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bits", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("valid", T.BooleanType()),
    ]
)


def audio_meta(df: DataFrame) -> DataFrame:
    """(vec_id, payload) → typed audio metadata via the header-only RIFF
    walk — no sample decode on the metadata scan path."""
    from ocr_spark.kernels.wav import parse_wav_header

    @python_stage
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for vec_id, p in zip(pdf["vec_id"], pdf["payload"]):
                try:
                    rate, ch, bits, n = parse_wav_header(bytes(p))
                    rows.append((int(vec_id), "WAV", rate, ch, bits, n, True))
                except Exception:
                    rows.append((int(vec_id), "unknown", 0, 0, 0, 0, False))
            yield pd.DataFrame(
                rows,
                columns=[
                    "vec_id", "fmt", "sample_rate", "channels", "bits",
                    "n_frames", "valid",
                ],
            ).astype(
                {
                    "sample_rate": "int32", "channels": "int32",
                    "bits": "int32", "n_frames": "int64",
                }
            )

    return df.select("vec_id", "payload").mapInPandas(fn, AUDIO_META_SCHEMA)


AUDIO_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("mean_abs", T.DoubleType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
    ]
)


def audio_features(df: DataFrame) -> DataFrame:
    """Decode → mean absolute amplitude (the loudness screen a training
    pipeline runs before expensive transcription). Arrow-batched; a bad
    payload yields NaN features, never a failed job."""
    from ocr_spark.kernels.wav import decode_wav

    @python_stage
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for vec_id, p in zip(pdf["vec_id"], pdf["payload"]):
                try:
                    samples, rate = decode_wav(bytes(p))
                    rows.append(
                        (
                            int(vec_id),
                            float(np.abs(samples.astype(np.float64)).mean()),
                            len(samples),
                            rate,
                        )
                    )
                except Exception:
                    rows.append((int(vec_id), float("nan"), 0, 0))
            yield pd.DataFrame(
                rows, columns=["vec_id", "mean_abs", "n_frames", "sample_rate"]
            ).astype({"sample_rate": "int32", "n_frames": "int64"})

    return df.select("vec_id", "payload").mapInPandas(fn, AUDIO_FEAT_SCHEMA)


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_px", T.DoubleType()),
    ]
)


def video_frame_sample(df: DataFrame, every_n: int = 2) -> DataFrame:
    """MJPEG payload → every ``every_n``-th frame REALLY decoded
    (kernels/jpeg.py) with its dims and mean pixel — the frame-sampling
    shape of a video training pipeline: split is a cheap marker walk,
    the expensive pixel decode runs only on sampled frames, and the
    parallel axis is videos (one Arrow batch element each). Unparseable
    payloads contribute zero rows (skip-and-continue)."""
    from ocr_spark.kernels.jpeg import decode_jpeg, split_mjpeg

    @python_stage
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for vec_id, p in zip(pdf["vec_id"], pdf["payload"]):
                try:
                    frames = split_mjpeg(bytes(p))
                except Exception:
                    continue
                for fi in range(0, len(frames), every_n):
                    try:
                        img = decode_jpeg(frames[fi])
                    except Exception:
                        continue  # one bad frame never kills the video
                    rows.append(
                        (
                            int(vec_id),
                            fi,
                            img.shape[1],
                            img.shape[0],
                            float(img.mean()),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["vec_id", "frame_idx", "width", "height", "mean_px"]
            ).astype({"frame_idx": "int32", "width": "int32", "height": "int32"})

    return df.select("vec_id", "payload").mapInPandas(fn, VIDEO_FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# perceptual hashing (average hash) — image near-duplicate detection
# ---------------------------------------------------------------------------

AHASH_GRID = 8

AHASH_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("ahash_hex", T.StringType()),
        T.StructField("band0", T.IntegerType()),
        T.StructField("band1", T.IntegerType()),
        T.StructField("band2", T.IntegerType()),
        T.StructField("band3", T.IntegerType()),
    ]
)


def ahash_bits(img: np.ndarray, grid: int = AHASH_GRID) -> np.ndarray:
    """64 average-hash bits (row-major uint8 0/1), integer-exact so any
    engine replays them: grayscale is the per-pixel channel sum // c,
    the downscale cell (y, x) is the integer mean (sum // size) of the
    block rows [y·H//g, (y+1)·H//g) × cols [x·W//g, (x+1)·W//g), and a
    bit is set iff its cell is STRICTLY greater than the floor of the
    64-cell mean. Requires H ≥ grid and W ≥ grid."""
    h, w = img.shape[0], img.shape[1]
    if h < grid or w < grid:
        raise ValueError(f"image {h}x{w} smaller than the {grid}x{grid} grid")
    gray = img.astype(np.int64).reshape(h, w, -1)
    c = gray.shape[2]
    gray = gray.sum(axis=2) // c
    cells = np.empty((grid, grid), dtype=np.int64)
    for y in range(grid):
        y0, y1 = (y * h) // grid, ((y + 1) * h) // grid
        for x in range(grid):
            x0, x1 = (x * w) // grid, ((x + 1) * w) // grid
            blk = gray[y0:y1, x0:x1]
            cells[y, x] = int(blk.sum()) // blk.size
    mean = int(cells.sum()) // (grid * grid)
    return (cells.ravel() > mean).astype(np.uint8)


def image_ahash(df: DataFrame, fake: bool = True) -> DataFrame:
    """Average-hash perceptual fingerprint — the image analogue of
    SimHash: a 64-bit signature that is stable under small pixel edits,
    emitted as a 16-hex-char string plus four 16-bit bands (hex char j
    = bits 4j..4j+3 MSB-first; band k = bits 16k..16k+15) so near-dup
    candidate pairing can reuse the pigeonhole banding trick.

    Scale shape: one Arrow-batched mapInPandas over (vec_id, payload) —
    the parallel axis is images, decode runs once per image, nothing
    shuffles here (banding shuffles int keys downstream)."""

    @python_stage
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hexd = "0123456789abcdef"
        for pdf in it:
            rows = []
            for vec_id, p in zip(pdf["vec_id"], pdf["payload"]):
                try:
                    bits = ahash_bits(decode_image(bytes(p), fake=fake))
                except Exception:
                    # module convention: one undecodable / too-small /
                    # NULL payload skips that image, never the job
                    continue
                hexstr = "".join(
                    hexd[int(bits[4 * j] * 8 + bits[4 * j + 1] * 4
                             + bits[4 * j + 2] * 2 + bits[4 * j + 3])]
                    for j in range(16)
                )
                bands = [int(hexstr[4 * k : 4 * k + 4], 16) for k in range(4)]
                rows.append((int(vec_id), hexstr, *bands))
            yield pd.DataFrame(
                rows,
                columns=["vec_id", "ahash_hex", "band0", "band1", "band2",
                         "band3"],
            ).astype(
                {"band0": "int32", "band1": "int32", "band2": "int32",
                 "band3": "int32"}
            )

    return df.select("vec_id", "payload").mapInPandas(fn, AHASH_SCHEMA)


def image_ahash_candidates(
    hashes: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Image near-duplicate pairs from average hashes via banding — the
    hamming analogue of MinHash LSH on the image side: with 4 bands of
    16 bits, any pair within hamming distance 3 leaves at least one
    band untouched (pigeonhole), so band-equality buckets are a
    COMPLETE candidate generator for hamming ≤ 3; the exact hamming
    filter then removes random band collisions.

    Scale shape: only (band_idx, band_val, vec_id) ints cross the
    banding shuffle — ONE posexplode, hex strings stay behind; the
    4-band signatures re-attach to the DISTINCT pair list by id, and
    the hamming check is 4 xor+bit_count JVM ops per pair. The hash
    frame is persisted because three plan branches read it (bands +
    both re-attach sides) — without the cache the upstream decode UDF
    would run three times."""
    from ocr_spark.operators.dedup import _own_caches

    hashes = hashes.persist()
    bands = hashes.select(
        "vec_id",
        F.posexplode(
            F.array("band0", "band1", "band2", "band3")
        ).alias("band_idx", "band_val"),
    )
    left = bands.select("band_idx", "band_val", F.col("vec_id").alias("keeper"))
    right = bands.select("band_idx", "band_val", F.col("vec_id").alias("dup_id"))
    pairs = (
        left.join(right, ["band_idx", "band_val"])
        .filter(F.col("keeper") < F.col("dup_id"))
        .select("keeper", "dup_id")
        .distinct()
    )
    ha = hashes.select(
        F.col("vec_id").alias("keeper"),
        *[F.col(f"band{k}").alias(f"a{k}") for k in range(4)],
    )
    hb = hashes.select(
        F.col("vec_id").alias("dup_id"),
        *[F.col(f"band{k}").alias(f"b{k}") for k in range(4)],
    )
    hamming = sum(
        F.bit_count(
            F.col(f"a{k}").bitwiseXOR(F.col(f"b{k}")).cast("long")
        )
        for k in range(4)
    ).cast("int")
    out = (
        pairs.join(ha, "keeper")
        .join(hb, "dup_id")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("keeper", "dup_id", "hamming")
    )
    return _own_caches(out, [hashes])


AUDIO_SEG_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("seg_idx", T.IntegerType()),
        T.StructField("start_frame", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("peak_abs", T.LongType()),
    ]
)

#: audio_segments voiced threshold on |int16 sample|. Fixed — operator
#: contract (the oracle replays ABS(val) >= this).
AUDIO_SEG_THRESHOLD = 16384


def audio_segments(
    df: DataFrame, threshold: int = AUDIO_SEG_THRESHOLD
) -> DataFrame:
    """Energy-gate segmentation — the VAD-shaped pass an audio training
    pipeline runs before transcription: decode the PCM payload, mark
    frames whose |amplitude| clears the threshold, and emit one row per
    CONTIGUOUS voiced run with its start, length, and peak amplitude
    (the classic gaps-and-islands structure, replayed in the oracle as
    ``i - ROW_NUMBER()`` islands over the md5-derived samples).

    Arrow-batched mapInPandas over the real WAV kernel; run detection
    is vectorized numpy (flatnonzero + diff), never a per-sample Python
    loop. Unparseable payloads contribute zero rows (skip-and-continue,
    the video_frame_sample convention). The parallel axis is clips —
    nothing shuffles until the (tiny) segment rows come out."""
    from ocr_spark.kernels.wav import decode_wav

    @python_stage
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for vec_id, p in zip(pdf["vec_id"], pdf["payload"]):
                try:
                    samples, _rate = decode_wav(bytes(p))
                except Exception:
                    continue
                a = np.abs(samples.astype(np.int64))
                idx = np.flatnonzero(a >= threshold)
                if idx.size == 0:
                    continue
                brk = np.flatnonzero(np.diff(idx) > 1)
                starts = np.concatenate(([0], brk + 1))
                ends = np.concatenate((brk, [idx.size - 1]))
                for k, (s0, e0) in enumerate(zip(starts, ends)):
                    rows.append(
                        (
                            int(vec_id),
                            k,
                            int(idx[s0]),
                            int(idx[e0] - idx[s0] + 1),
                            int(a[idx[s0] : idx[e0] + 1].max()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "vec_id", "seg_idx", "start_frame", "n_frames",
                    "peak_abs",
                ],
            ).astype(
                {
                    "seg_idx": "int32",
                    "start_frame": "int32",
                    "n_frames": "int64",
                    "peak_abs": "int64",
                }
            )

    return df.select("vec_id", "payload").mapInPandas(fn, AUDIO_SEG_SCHEMA)


VIDEO_CUT_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("delta_abs", T.LongType()),
        T.StructField("n_frames", T.LongType()),
    ]
)

#: video_scene_cuts mean-pixel jump threshold. Fixed — operator
#: contract (the oracle replays ABS(Δmean) >= this).
VIDEO_CUT_THRESHOLD = 100


def video_scene_cuts(
    df: DataFrame, threshold: int = VIDEO_CUT_THRESHOLD
) -> DataFrame:
    """Scene-cut detection — the shot-boundary pass a video training
    pipeline runs before per-scene sampling: decode EVERY frame of the
    MJPEG payload (consecutive frames are required — unlike
    :func:`video_frame_sample`'s stride), take each frame's mean pixel,
    and emit one row per frame whose jump from the previous frame's
    mean meets the threshold (frame_idx of the cut, the jump size, and
    the clip's frame count).

    The flat-gray fixture frames round-trip integer-exactly at q90, so
    means and deltas are exact integers and the oracle replays cuts
    arithmetically with a LAG window. Unparseable payloads contribute
    zero rows; the parallel axis is clips."""
    from ocr_spark.kernels.jpeg import decode_jpeg, split_mjpeg

    @python_stage
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for vec_id, p in zip(pdf["vec_id"], pdf["payload"]):
                try:
                    frames = split_mjpeg(bytes(p))
                    means = [
                        int(round(float(decode_jpeg(fr).mean())))
                        for fr in frames
                    ]
                except Exception:
                    continue
                for i in range(1, len(means)):
                    d = abs(means[i] - means[i - 1])
                    if d >= threshold:
                        rows.append(
                            (int(vec_id), i, int(d), len(means))
                        )
            yield pd.DataFrame(
                rows,
                columns=["vec_id", "frame_idx", "delta_abs", "n_frames"],
            ).astype(
                {
                    "frame_idx": "int32",
                    "delta_abs": "int64",
                    "n_frames": "int64",
                }
            )

    return df.select("vec_id", "payload").mapInPandas(fn, VIDEO_CUT_SCHEMA)


def gif_meta_scan(df: DataFrame) -> DataFrame:
    """(vec_id, payload binary) → GIF metadata + two exact pixel
    checksums via one Arrow-batched mapInPandas pass over the REAL
    decoder (kernels/gif.py — LZW, interlace, multi-frame).

    ``px_sum`` is the plain sum of palette indices across frames;
    ``rw_sum`` weights each pixel by (row+1)*(col+2), so a decoder that
    scrambles row order (a broken de-interlace) changes it even when
    the multiset of pixel values survives.  Both are int64-exact and
    replayable arithmetically when the fixture pixels are a pure
    function of (vec_id, frame, y, x).  Undecodable payloads degrade
    to valid=false rows — the skip-on-error policy every multimodal
    scan here shares."""
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("palette_size", T.IntegerType()),
            T.StructField("px_sum", T.LongType()),
            T.StructField("rw_sum", T.LongType()),
            T.StructField("valid", T.BooleanType()),
        ]
    )

    @python_stage
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.kernels.gif import GifError, decode_gif

        for pdf in it:
            rows = []
            for vid, payload in zip(pdf["vec_id"], pdf["payload"]):
                try:
                    img = decode_gif(bytes(payload))
                    px = 0
                    rw = 0
                    for fr in img.frames:
                        f64 = fr.astype(np.int64)
                        px += int(f64.sum())
                        wts = np.outer(
                            np.arange(1, fr.shape[0] + 1),
                            np.arange(2, fr.shape[1] + 2),
                        )
                        rw += int((f64 * wts).sum())
                    rows.append(
                        (
                            int(vid),
                            "GIF",
                            img.width,
                            img.height,
                            img.n_frames,
                            len(img.palette),
                            px,
                            rw,
                            True,
                        )
                    )
                except (GifError, ValueError, IndexError, struct.error):
                    rows.append((int(vid), "GIF", 0, 0, 0, 0, 0, 0, False))
            yield pd.DataFrame(
                rows,
                columns=[
                    "vec_id",
                    "fmt",
                    "width",
                    "height",
                    "n_frames",
                    "palette_size",
                    "px_sum",
                    "rw_sum",
                    "valid",
                ],
            )

    return df.select("vec_id", "payload").mapInPandas(fn, schema)


def tiff_meta_scan(df: DataFrame) -> DataFrame:
    """(vec_id, payload binary) → TIFF metadata + exact pixel checksums
    via one Arrow-batched mapInPandas pass over the REAL reader
    (kernels/tiff.py — II/MM byte order, strip walk, none/PackBits/
    CCITT-G4 compressions).  Checksum semantics match gif_meta_scan:
    ``px_sum`` plain, ``rw_sum`` weighted by (row+1)*(col+2) so strip
    reassembly in the wrong order cannot cancel out."""
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("bits", T.IntegerType()),
            T.StructField("compression", T.IntegerType()),
            T.StructField("px_sum", T.LongType()),
            T.StructField("rw_sum", T.LongType()),
            T.StructField("valid", T.BooleanType()),
        ]
    )

    @python_stage
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.kernels.tiff import TiffError, read_tiff

        for pdf in it:
            rows = []
            for vid, payload in zip(pdf["vec_id"], pdf["payload"]):
                try:
                    img = read_tiff(bytes(payload))
                    p64 = img.pixels.astype(np.int64)
                    wts = np.outer(
                        np.arange(1, img.height + 1),
                        np.arange(2, img.width + 2),
                    )
                    rows.append(
                        (
                            int(vid),
                            "TIFF",
                            img.width,
                            img.height,
                            img.bits_per_sample,
                            img.compression,
                            int(p64.sum()),
                            int((p64 * wts).sum()),
                            True,
                        )
                    )
                except (TiffError, ValueError, IndexError, struct.error):
                    rows.append(
                        (int(vid), "TIFF", 0, 0, 0, 0, 0, 0, False)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "vec_id",
                    "fmt",
                    "width",
                    "height",
                    "bits",
                    "compression",
                    "px_sum",
                    "rw_sum",
                    "valid",
                ],
            )

    return df.select("vec_id", "payload").mapInPandas(fn, schema)


def audio_codec_scan(df: DataFrame) -> DataFrame:
    """(vec_id, payload binary) → per-clip codec id + exact decoded
    sample checksums via one mapInPandas pass over the full WAV decode
    (kernels/wav.py — PCM, G.711 µ-law/A-law, IMA ADPCM).  ``sum_abs``
    is Σ|sample|, ``ws`` the order-weighted Σ(i+1)·sample — the audio
    analogue of the image scans' px_sum/rw_sum pair (a decoder that
    permutes or sign-flips samples cannot keep both)."""
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("fmt_code", T.IntegerType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_frames", T.LongType()),
            T.StructField("sum_abs", T.LongType()),
            T.StructField("ws", T.LongType()),
            T.StructField("valid", T.BooleanType()),
        ]
    )

    @python_stage
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.kernels.wav import _walk_wav, decode_wav

        for pdf in it:
            rows = []
            for vid, payload in zip(pdf["vec_id"], pdf["payload"]):
                try:
                    raw = bytes(payload)
                    fmt_code = _walk_wav(raw)[0]
                    samples, rate = decode_wav(raw)
                    s64 = samples.ravel().astype(np.int64)
                    rows.append(
                        (
                            int(vid),
                            int(fmt_code),
                            int(rate),
                            len(s64),
                            int(np.abs(s64).sum()),
                            int((s64 * np.arange(1, len(s64) + 1)).sum()),
                            True,
                        )
                    )
                except (ValueError, NotImplementedError, struct.error):
                    rows.append((int(vid), 0, 0, 0, 0, 0, False))
            yield pd.DataFrame(
                rows,
                columns=[
                    "vec_id",
                    "fmt_code",
                    "sample_rate",
                    "n_frames",
                    "sum_abs",
                    "ws",
                    "valid",
                ],
            )

    return df.select("vec_id", "payload").mapInPandas(fn, schema)


def bmp_meta_scan(df: DataFrame) -> DataFrame:
    """(vec_id, payload binary) → BMP metadata + two exact pixel
    checksums via one Arrow-batched mapInPandas pass over the real
    decoder (kernels/bmp.py — 8-bit palette / 24-bit BGR, bottom-up or
    top-down rows, 4-byte padding).

    ``px_sum`` sums the per-pixel value (palette index for 8-bit, the
    r+g+b channel sum for 24-bit); ``rw_sum`` weights each value by
    (row+1)*(col+2) in LOGICAL orientation, so a decoder that walks
    bottom-up rows in the wrong direction changes it even when the
    value multiset survives.  Undecodable payloads degrade to
    valid=false rows — the shared multimodal skip-on-error policy."""
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("bpp", T.IntegerType()),
            T.StructField("px_sum", T.LongType()),
            T.StructField("rw_sum", T.LongType()),
            T.StructField("valid", T.BooleanType()),
        ]
    )

    @python_stage
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.kernels.bmp import BmpError, decode_bmp

        for pdf in it:
            rows = []
            for vid, payload in zip(pdf["vec_id"], pdf["payload"]):
                try:
                    img = decode_bmp(bytes(payload))
                    vals = img.pixels.astype(np.int64)
                    if img.bpp == 24:
                        vals = vals.sum(axis=2)
                    wts = np.outer(
                        np.arange(1, img.height + 1),
                        np.arange(2, img.width + 2),
                    )
                    rows.append(
                        (
                            int(vid),
                            "BMP",
                            img.width,
                            img.height,
                            img.bpp,
                            int(vals.sum()),
                            int((vals * wts).sum()),
                            True,
                        )
                    )
                except (BmpError, NotImplementedError, ValueError,
                        IndexError, struct.error):
                    rows.append((int(vid), "BMP", 0, 0, 0, 0, 0, False))
            yield pd.DataFrame(
                rows,
                columns=[
                    "vec_id", "fmt", "width", "height", "bpp",
                    "px_sum", "rw_sum", "valid",
                ],
            )

    return df.mapInPandas(fn, schema)
