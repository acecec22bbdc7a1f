"""Multimodal (image) column operators — Arrow-batched decode / feature
extraction / resize over binary payload columns.

The container has no PIL, so the CODEC is the deterministic fake from
sources/codec.py (clearly a stub-swap point); everything Spark-side — the
binary column schema, Arrow batch iteration (functions/batches.map_rows),
output struct, partition sizing — is the real production shape. Swapping
`decode_image` for PIL.Image.open changes nothing above this module.

Scale notes: payload bytes dominate row width, so these operators
- iterate Arrow RecordBatches (map_rows over mapInPandas) and never
  collect bytes to the driver,
- emit *metadata-width* rows (decode stats / features), so the shuffle
  after a decode stage carries no pixels,
- rely on spark.sql.files.maxPartitionBytes to keep a batch of ~128MB of
  payloads per task.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.batches import map_rows
from ..sources import codec

DECODE_SCHEMA = (
    "image_id string, ok boolean, fmt string, w int, h int, "
    "mean_r double, mean_g double, mean_b double, phash long, err string"
)


def decode_stats(payloads: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes") -> DataFrame:
    """Decode every payload, emit per-image stats (validates bytes end-to-end
    without moving pixels past the decode stage)."""

    def row(iid, data):
        try:
            px, fmt = codec.decode_image(bytes(data))
            m = px.astype(np.float64).mean(axis=(0, 1))
            return [(iid, True, fmt, px.shape[1], px.shape[0],
                     round(float(m[0]), 4), round(float(m[1]), 4),
                     round(float(m[2]), 4), codec.phash64(px), None)]
        except codec.CodecError as e:
            return [(iid, False, None, None, None, None, None, None, None, str(e))]

    return map_rows(payloads.select(id_col, bytes_col), row, DECODE_SCHEMA)


FIDELITY_SCHEMA = ("image_id string, ok boolean, fmt string, w int, h int, "
                   "psnr_db double, err string")


def decode_fidelity(payloads: DataFrame, id_col: str = "image_id",
                    bytes_col: str = "bytes",
                    ref_pixels=None) -> DataFrame:
    """Per-row payload-fidelity check (BASELINE.json: decoded-pixel
    allclose, PSNR >= 40 dB for lossy): decode each payload and measure
    PSNR against reference pixels regenerated EXECUTOR-side from the
    image_id (codec.synth_pixels_photo by default — deterministic, so no
    reference pixels ever move over the wire; in production the reference
    would come from the source store by id the same way). Same scale
    shape as decode_stats: pixels live and die inside the Arrow batch,
    only (id, psnr) metadata rows leave the task."""
    ref_fn = ref_pixels or codec.synth_pixels_photo

    def row(iid, data):
        try:
            px, fmt = codec.decode_image(bytes(data))
            ref = ref_fn(iid, px.shape[1], px.shape[0])
            p = codec.psnr(ref, px)
        except codec.CodecError as e:
            return [(iid, False, None, None, None, None, str(e))]
        if p == float("inf"):
            p = 99.0           # lossless sentinel, finite for SQL
        return [(iid, True, fmt, px.shape[1], px.shape[0], round(float(p), 4), None)]

    return map_rows(payloads.select(id_col, bytes_col), row, FIDELITY_SCHEMA)


def phash_near_dup_pairs(payloads: DataFrame, max_hamming: int = 3,
                         id_col: str = "image_id",
                         bytes_col: str = "bytes") -> DataFrame:
    """Image near-duplicate pairs — THE canonical 100 TB image-pipeline
    dedup: decode each payload once (Arrow batches, pixels never shuffle),
    take its 64-bit perceptual hash, then banded Hamming search (4x16-bit
    slices, pigeonhole-complete for Hamming <= 3). The shuffle after decode
    carries only (id, phash) — 16 bytes/row — and candidate verification is
    one bit_count(xor) inside band buckets, never an image comparison.
    Output: (id_a, id_b, hamming), id_a < id_b, hamming <= max_hamming."""
    from .dedup import hamming_banded_pairs

    # hamming_banded_pairs' band union self-join re-evaluates its input
    # up to 2*n_bands times — materialize the 16-byte/row fingerprint
    # table so the DECODE runs once, not 8x
    sig = (decode_stats(payloads, id_col, bytes_col).where("ok").select(
        F.col("image_id").alias("id"), F.col("phash").alias("sig"))
        .localCheckpoint(eager=True))
    return hamming_banded_pairs(sig, max_hamming, n_bits=64, n_bands=4,
                                sig_col="sig", id_col="id")


RESIZE_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string"


def resize(payloads: DataFrame, out_w: int, out_h: int,
           id_col: str = "image_id", bytes_col: str = "bytes") -> DataFrame:
    """Nearest-neighbor resize, re-encoded lossless; undecodable payloads
    emit no row. (A PIL/real codec slots into the same row body.)"""

    def row(iid, data):
        try:
            px, _ = codec.decode_image(bytes(data))
            ys = (np.arange(out_h) * px.shape[0] // out_h).astype(int)
            xs = (np.arange(out_w) * px.shape[1] // out_w).astype(int)
            return [(iid, codec.encode_image(px[ys][:, xs], "png"), out_w, out_h, "png")]
        except codec.CodecError:
            return []

    return map_rows(payloads.select(id_col, bytes_col), row, RESIZE_SCHEMA)


AUDIO_SCHEMA = (
    "audio_id string, ok boolean, fmt string, sr int, n_samples int, "
    "duration_ms int, rms double, zcr double, centroid_hz double, afp long, "
    "err string"
)


def audio_stats(payloads: DataFrame, id_col: str = "audio_id",
                bytes_col: str = "bytes") -> DataFrame:
    """Audio decode / feature extraction over binary DWSA payloads — the
    audio leg of the brief's image/audio/video triple, same production
    shape as decode_stats: Arrow-batched mapInPandas, samples never leave
    the decode task, metadata-width output rows, junk bytes -> ok=false
    rows. The codec is the deterministic DWSA fake (sources/codec.py — no
    soundfile/librosa in this container); swapping decode_audio for a real
    loader changes nothing above it.

    Features per clip: duration, RMS level, zero-crossing rate, spectral
    centroid (numpy rfft — real DSP, not a stub), and the 64-bit
    energy-delta fingerprint afp64 that feeds banded-Hamming near-dup."""

    def row(aid, data):
        try:
            x, sr, fmt = codec.decode_audio(bytes(data))
        except codec.CodecError as e:
            return [(aid, False, None, None, None, None, None, None, None, None, str(e))]
        xf = x.astype(np.float64)
        rms = float(np.sqrt(np.mean(xf * xf)))
        zcr = float(np.mean(np.signbit(xf[1:]) != np.signbit(xf[:-1])))
        spec = np.abs(np.fft.rfft(xf))
        freqs = np.fft.rfftfreq(len(xf), 1.0 / sr)
        denom = float(spec.sum())
        centroid = float((freqs * spec).sum() / denom) if denom > 0 else 0.0
        return [(aid, True, fmt, sr, len(x), len(x) * 1000 // sr, round(rms, 4),
                 round(zcr, 6), round(centroid, 4), codec.afp64(x), None)]

    return map_rows(payloads.select(id_col, bytes_col), row, AUDIO_SCHEMA)


def audio_near_dup_pairs(payloads: DataFrame, max_hamming: int = 3,
                         id_col: str = "audio_id",
                         bytes_col: str = "bytes") -> DataFrame:
    """Audio near-duplicate pairs: decode once -> afp64 fingerprint ->
    the same generic banded Hamming search images use (phash_near_dup_pairs)
    — the shuffle after decode carries 16 bytes/row, never samples.
    Output: (id_a, id_b, hamming), id_a < id_b, hamming <= max_hamming."""
    from .dedup import hamming_banded_pairs

    # same materialization as phash_near_dup_pairs: the banded search
    # re-evaluates its input up to 8x, and here the input is the full
    # audio decode — checkpoint the 16-byte/row fingerprints once
    sig = (audio_stats(payloads, id_col, bytes_col).where("ok").select(
        F.col("audio_id").alias("id"), F.col("afp").alias("sig"))
        .localCheckpoint(eager=True))
    return hamming_banded_pairs(sig, max_hamming, n_bits=64, n_bands=4,
                                sig_col="sig", id_col="id")


FRAME_SCHEMA = (
    "video_id string, ok boolean, fmt string, frame_idx int, t_ms int, "
    "n_frames int, w int, h int, gray_mean double, phash long, err string"
)


def frame_sample(payloads: DataFrame, every_n: int = 1, max_frames: int | None = None,
                 id_col: str = "video_id", bytes_col: str = "bytes") -> DataFrame:
    """Video frame sampling: binary DWSV column -> one metadata-width row per
    sampled frame (every Nth frame, optionally capped at max_frames).

    Mirrors reference payload handling (BasicCrawler.java:77-105 treats
    fetched bodies as opaque bytes) extended to the training-data brief's
    video axis. The codec is the deterministic DWSV fake (sources/codec.py —
    no PyAV/ffmpeg in this container); the Spark-side shape is production:
    Arrow-batched mapInPandas, pixels never leave the decode task, sampled
    frames emit stats-width rows (shuffle carries no pixels), and junk
    payloads become ok=false rows instead of failing the task.
    """
    if every_n < 1:
        raise ValueError("every_n must be >= 1")

    def row(vid, data):
        try:
            frames, fmt, fps = codec.decode_video(bytes(data))
        except codec.CodecError as e:
            return [(vid, False, None, None, None, None, None, None, None, None, str(e))]
        idxs = range(0, len(frames), every_n)
        if max_frames is not None:
            idxs = idxs[:max_frames]
        return [(vid, True, fmt, i, i * 1000 // fps, len(frames),
                 frames[i].shape[1], frames[i].shape[0],
                 round(float(frames[i].astype(np.float64).mean()), 4),
                 codec.phash64(frames[i]), None) for i in idxs]

    return map_rows(payloads.select(id_col, bytes_col), row, FRAME_SCHEMA)


def header_meta(payloads: DataFrame, id_col: str = "image_id",
                bytes_col: str = "bytes") -> DataFrame:
    """Header-only metadata scan: parse the DWS1 container header (magic,
    fmt code, little-endian u16 w/h — sources/codec.py wire format) with
    pure Column expressions. No Python worker, no zlib decompress, no pixel
    materialization — the plan stays inside WholeStageCodegen.

    This is the metadata fast path for blob stores at the 10^10 tier: a
    "width/height/format/compression-ratio over 100 TB of images" query
    reads only the first 9 bytes' worth of parsed values per row and never
    pays the decode. (Real formats expose the same shape: PNG IHDR/JPEG
    SOF0/WebP VP8X headers are fixed-offset parses; swapping the offsets is
    the only change.) decode_stats remains the full-fidelity path; the two
    agree on (fmt, w, h) for every valid container — pinned by
    tests/test_multimodal.py.
    """
    b = F.col(bytes_col)

    def _u8(pos: int):
        return F.conv(F.hex(F.substring(b, pos, 1)), 16, 10).cast("int")

    def _u16le(pos: int):  # little-endian: high byte second
        return F.conv(F.concat(F.hex(F.substring(b, pos + 1, 1)),
                               F.hex(F.substring(b, pos, 1))), 16, 10).cast("int")

    fmt_code = _u8(5)
    ok = ((F.length(b) >= F.lit(10))  # magic+header+>=1 payload byte
          & (F.hex(F.substring(b, 1, 4)) == F.lit("44575331"))  # b"DWS1"
          & fmt_code.isin(0, 1, 2))
    w, h = _u16le(6), _u16le(8)
    container = F.length(b).cast("bigint")
    payload = F.when(ok, container - F.lit(9)).cast("bigint")
    pixels = F.when(ok, (w.cast("bigint") * h * F.lit(3)))
    return payloads.select(
        F.col(id_col).alias("image_id"),
        ok.alias("ok"),
        F.when(ok, F.element_at(F.lit(["png", "jpeg", "webp"]), fmt_code + 1)).alias("fmt"),
        F.when(ok, w).alias("w"),
        F.when(ok, h).alias("h"),
        container.alias("container_bytes"),
        payload.alias("payload_bytes"),
        pixels.alias("pixel_bytes"),
        F.when(ok, F.round(payload / pixels, 9)).alias("compression_ratio"),
    )


LETTERBOX_SCHEMA = ("image_id string, ok boolean, w int, h int, "
                    "top int, bottom int, left int, right int, "
                    "content_w int, content_h int, letterboxed boolean")


def letterbox_margins_np(px: "np.ndarray") -> tuple[int, int, int, int]:
    """Uniform-border margins of one decoded RGB array: the count of
    leading/trailing rows (then columns, inside the row-cropped region)
    whose every pixel equals the image's top-left corner pixel. A fully
    uniform image is ALL top margin (bottom/left/right 0) so the four
    margins never double-count. Pure numpy, shared verbatim by the Spark
    decode task and the driver-side expected-table generator — what the
    oracle then gates is the Arrow/batch/schema plumbing."""
    h, w = px.shape[0], px.shape[1]
    corner = px[0, 0]
    row_uniform = (px == corner).all(axis=(1, 2))   # row equals corner color
    top = 0
    while top < h and row_uniform[top]:
        top += 1
    if top == h:
        return h, 0, 0, 0
    bottom = 0
    while row_uniform[h - 1 - bottom]:
        bottom += 1
    core = px[top:h - bottom]
    col_uniform = (core == corner).all(axis=(0, 2))
    left = 0
    while left < w and col_uniform[left]:
        left += 1
    if left == w:
        return top, bottom, w, 0
    right = 0
    while col_uniform[w - 1 - right]:
        right += 1
    return top, bottom, left, right


def letterbox_stats(payloads: DataFrame, min_margin: int = 2,
                    id_col: str = "image_id",
                    bytes_col: str = "bytes") -> DataFrame:
    """Letterbox / pillarbox detection over decoded payloads: per image,
    the uniform-border margins (top/bottom/left/right), the remaining
    content box, and a `letterboxed` flag when any margin reaches
    ``min_margin`` — the pre-training crop signal (letterboxed thumbnails
    and pillarboxed re-posts are rampant in crawled image sets, and the
    black bars poison both phash dedup and aspect-bucket packing).

    Scale shape: same decode-once discipline as decode_stats — Arrow
    batches in, metadata-width rows out, pixels never leave the task."""

    def row(iid, data):
        try:
            px, _ = codec.decode_image(bytes(data))
        except codec.CodecError:
            return [(iid, False) + (None,) * 9]
        t, b, lf, r = letterbox_margins_np(px)
        h, w = px.shape[0], px.shape[1]
        return [(iid, True, w, h, t, b, lf, r, w - lf - r, h - t - b,
                 max(t, b, lf, r) >= min_margin)]

    return map_rows(payloads.select(id_col, bytes_col), row, LETTERBOX_SCHEMA)


TRANSCODE_SCHEMA = ("image_id string, ok boolean, orig_fmt string, "
                    "orig_bytes int, new_bytes int")


def transcode_size_stats(payloads: DataFrame, to_fmt: str = "webp",
                         id_col: str = "image_id",
                         bytes_col: str = "bytes") -> DataFrame:
    """Storage-planning probe: decode each payload once and re-encode to
    ``to_fmt``, reporting original vs transcoded byte sizes — the input
    to "should we transcode the archive" (at 10^10 images a few percent
    is petabytes). Same decode-once Arrow discipline: both byte strings
    live and die inside the task; only the two integers ship."""

    def row(iid, data):
        data = bytes(data)
        try:
            px, fmt = codec.decode_image(data)
        except codec.CodecError:
            return [(iid, False, None, None, None)]
        return [(iid, True, fmt, len(data), len(codec.encode_image(px, to_fmt)))]

    return map_rows(payloads.select(id_col, bytes_col), row, TRANSCODE_SCHEMA)


COLOR_PROFILE_SCHEMA = ("image_id string, ok boolean, dom_color int, "
                        "dom_share double, gray_frac double, is_gray boolean")


def color_profile_np(px: "np.ndarray", gray_tol: int = 8) -> tuple:
    """(dom_color, dom_share, gray_frac) for one decoded RGB array.
    dom_color = the 9-bit posterized bucket (3 bits/channel) holding the
    most pixels, smallest bucket id on ties; gray_frac = fraction of
    pixels whose channel spread is <= gray_tol. Integer counts only;
    shares round to 6. Shared verbatim with the driver-side expected
    generator (the oracle gates the Spark plumbing)."""
    h, w = px.shape[0], px.shape[1]
    n = h * w
    b = (((px[:, :, 0].astype(np.int64) >> 5) << 6)
         | ((px[:, :, 1].astype(np.int64) >> 5) << 3)
         | (px[:, :, 2].astype(np.int64) >> 5)).ravel()
    counts = np.bincount(b, minlength=512)
    dom = int(counts.argmax())          # argmax takes the first (smallest) max
    spread = px.max(axis=2).astype(np.int64) - px.min(axis=2).astype(np.int64)
    gray = int((spread <= gray_tol).sum())
    return dom, round(counts[dom] / n, 6), round(gray / n, 6)


def color_profile(payloads: DataFrame, gray_tol: int = 8, gray_min: float = 0.9,
                  id_col: str = "image_id", bytes_col: str = "bytes") -> DataFrame:
    """Per-image color profile over decoded payloads: dominant posterized
    color + its pixel share, grayscale pixel fraction, and an `is_gray`
    flag — the training-set filters for monochrome thumbnails, solid
    placeholder tiles (dom_share ~ 1.0), and desaturated scans. Same
    decode-once Arrow discipline as decode_stats: pixels never leave the
    task, output is metadata-width."""

    def row(iid, data):
        try:
            px, _ = codec.decode_image(bytes(data))
        except codec.CodecError:
            return [(iid, False, None, None, None, None)]
        dom, share, gf = color_profile_np(px, gray_tol)
        return [(iid, True, dom, share, gf, gf >= gray_min)]

    return map_rows(payloads.select(id_col, bytes_col), row, COLOR_PROFILE_SCHEMA)


def channel_histogram(payloads: DataFrame, bits: int = 4,
                      bytes_col: str = "bytes") -> DataFrame:
    """Corpus-wide per-channel pixel histogram over decoded payloads
    (2^bits buckets per RGB channel) — the exposure/color-balance profile
    an image-training pipeline reads before normalization, and the
    cheapest detector for batches of black/blank/clipped crawl images.

    Scale shape: the histogram partial-aggregates INSIDE the decode task
    — each Arrow batch emits exactly 3*2^bits counter rows no matter how
    many images it decoded, so the shuffle is constant-width and pixels
    never leave the task (the decode-once discipline of decode_stats).
    Corrupt payloads are skipped (they are decode_stats' job to report).
    """
    nb = 1 << bits
    shift = 8 - bits

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            acc = np.zeros((3, nb), dtype=np.int64)
            for data in pdf[bytes_col]:
                try:
                    px, _ = codec.decode_image(bytes(data))
                except codec.CodecError:
                    continue
                for c in range(3):
                    acc[c] += np.bincount(
                        (px[:, :, c] >> shift).ravel(), minlength=nb)
            yield pd.DataFrame({
                "channel": np.repeat(np.arange(3, dtype=np.int32), nb),
                "bucket": np.tile(np.arange(nb, dtype=np.int32), 3),
                "n": acc.ravel()})

    part = payloads.select(bytes_col).mapInPandas(
        batches, schema="channel int, bucket int, n long")
    return (part.groupBy("channel", "bucket")
            .agg(F.sum("n").alias("n_pixels")))
