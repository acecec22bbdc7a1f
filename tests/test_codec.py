"""Deterministic codec: lossless round-trip, lossy PSNR >= 40 dB, junk
rejection, phash stability, determinism across calls."""

from __future__ import annotations

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributed_webcrawler_spark.sources import codec


def test_png_lossless_roundtrip():
    px = codec.synth_pixels("img-x", 40, 30)
    out, fmt = codec.decode_image(codec.encode_image(px, "png"))
    assert fmt == "png" and np.array_equal(px, out)


@pytest.mark.parametrize("fmt,min_psnr", [("jpeg", 40.0), ("webp", 45.0)])
def test_lossy_psnr(fmt, min_psnr):
    px = codec.synth_pixels(f"img-{fmt}", 64, 48)
    out, f = codec.decode_image(codec.encode_image(px, fmt))
    assert f == fmt
    assert codec.psnr(px, out) >= min_psnr


def test_junk_rejected():
    for junk in (b"", b"bogus", b"DWS1" + b"\x00" * 3, b"DWS1\x09\x01\x00\x01\x00xxxx"):
        with pytest.raises(codec.CodecError):
            codec.decode_image(junk)


def test_determinism():
    a = codec.synth_pixels("img-7", 32, 32)
    b = codec.synth_pixels("img-7", 32, 32)
    assert np.array_equal(a, b)
    assert codec.encode_image(a, "jpeg") == codec.encode_image(b, "jpeg")
    assert codec.phash64(a) == codec.phash64(b)
    assert codec.synth_pixels("img-8", 32, 32).tobytes() != a.tobytes()


def test_phash_near_duplicate_stability():
    px = codec.synth_pixels("img-9", 48, 48)
    lossy, _ = codec.decode_image(codec.encode_image(px, "jpeg"))
    h1, h2 = codec.phash64(px), codec.phash64(lossy)
    assert bin(h1 ^ h2).count("1") <= 6  # hamming distance small under quantization


# ---- real image formats ----------------------------------------------------


def test_real_png_roundtrip_bitexact():
    """encode_png -> decode_image round-trips bit-exactly for assorted
    sizes (odd widths included), and decode_image dispatches real PNG
    bytes vs DWS1 vs junk by magic."""
    from distributed_webcrawler_spark.sources import codec

    for w, h in ((1, 1), (7, 3), (64, 64), (33, 17)):
        px = codec.synth_pixels(f"img-{w}x{h}", w, h)
        blob = codec.encode_png(px)
        assert blob[:8] == codec.PNG_MAGIC
        out, fmt = codec.decode_image(blob)
        assert fmt == "png" and np.array_equal(out, px)
    # DWS1 still decodes through the same entry
    px = codec.synth_pixels("x", 8, 8)
    out, fmt = codec.decode_image(codec.encode_image(px, "png"))
    assert np.array_equal(out, px)
    with pytest.raises(codec.CodecError):
        codec.decode_image(b"\x00" * 32)


def test_png_all_filter_types_and_color_types():
    """The decoder must undo every scanline filter (0-4) and normalize
    gray/gray-alpha/RGBA to RGB. Filtered scanlines are constructed by
    applying the SPEC's filter equations forward to known pixels, so the
    decoder is checked against the public definition, not against our own
    encoder."""
    import struct
    import zlib

    from distributed_webcrawler_spark.sources import codec

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    h, w = px.shape[:2]
    stride, bpp = w * 3, 3
    flat = px.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    for y, f in enumerate([0, 1, 2, 3, 4, 1]):  # one of each, Sub twice
        prior = flat[y - 1] if y else np.zeros(stride, dtype=np.int32)
        line = flat[y]
        enc = np.empty(stride, dtype=np.int32)
        for x in range(stride):
            left = line[x - bpp] if x >= bpp else 0
            ul = prior[x - bpp] if x >= bpp else 0
            if f == 0:
                enc[x] = line[x]
            elif f == 1:
                enc[x] = line[x] - left
            elif f == 2:
                enc[x] = line[x] - prior[x]
            elif f == 3:
                enc[x] = line[x] - ((left + prior[x]) >> 1)
            else:
                enc[x] = line[x] - codec._paeth(int(left), int(prior[x]), int(ul))
        raw.append(f)
        raw.extend((enc & 0xFF).astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    blob = (codec.PNG_MAGIC + codec._png_chunk(b"IHDR", ihdr)
            + codec._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + codec._png_chunk(b"IEND", b""))
    assert np.array_equal(codec.decode_png(blob), px)

    # gray (type 0) replicates to RGB; RGBA (type 6) drops alpha
    def make(color_type, channels, pixels):
        hh, ww = pixels.shape[:2]
        rows = np.zeros((hh, 1 + ww * channels), dtype=np.uint8)
        rows[:, 1:] = pixels.reshape(hh, ww * channels)
        ihdr = struct.pack(">IIBBBBB", ww, hh, 8, color_type, 0, 0, 0)
        return (codec.PNG_MAGIC + codec._png_chunk(b"IHDR", ihdr)
                + codec._png_chunk(b"IDAT", zlib.compress(rows.tobytes()))
                + codec._png_chunk(b"IEND", b""))

    g = rng.integers(0, 256, size=(4, 4, 1), dtype=np.uint8)
    assert np.array_equal(codec.decode_png(make(0, 1, g)), np.repeat(g, 3, axis=2))
    rgba = rng.integers(0, 256, size=(4, 4, 4), dtype=np.uint8)
    assert np.array_equal(codec.decode_png(make(6, 4, rgba)), rgba[:, :, :3])


def test_real_png_flows_through_decode_stats_pipeline(spark):
    """Real PNG payload bytes through the SAME mapInPandas decode stage
    the engine uses: stats (w/h/means/phash) must equal the DWS1 twin of
    identical pixels — the pipeline is wire-format-agnostic."""
    from distributed_webcrawler_spark.operators.multimodal import decode_stats
    from distributed_webcrawler_spark.sources import codec

    rows = []
    for i in range(12):
        px = codec.synth_pixels(f"real-{i}", 24 + i, 16 + i)
        rows.append((f"real-{i}", codec.encode_png(px), codec.encode_image(px, "png")))
    df = spark.createDataFrame(rows, "image_id string, real_bytes binary, dws_bytes binary")
    a = {r.image_id: r for r in decode_stats(
        df.select("image_id", F.col("real_bytes").alias("bytes"))).collect()}
    b = {r.image_id: r for r in decode_stats(
        df.select("image_id", F.col("dws_bytes").alias("bytes"))).collect()}
    assert set(a) == set(b) and len(a) == 12
    for k in a:
        ra, rb = a[k], b[k]
        assert ra.ok and rb.ok
        assert (ra.w, ra.h, ra.phash) == (rb.w, rb.h, rb.phash)
        assert ra.fmt == "png" == rb.fmt


@pytest.mark.skipif(
    not __import__("distributed_webcrawler_spark.sources.codec",
                   fromlist=["pil_available"]).pil_available(),
    reason="Pillow not installed in this container")
def test_pil_cross_validation():
    """Where Pillow exists: PIL must decode our pure-stdlib PNG to the
    exact pixels, our decoder must decode PIL's PNG output, and the real
    jpeg/webp adapters must hold the PSNR>=40dB lossy invariant."""
    import io

    from PIL import Image

    from distributed_webcrawler_spark.sources import codec

    px = codec.synth_pixels("pilx", 37, 23)
    with Image.open(io.BytesIO(codec.encode_png(px))) as im:
        assert np.array_equal(np.asarray(im.convert("RGB")), px)
    buf = io.BytesIO()
    Image.fromarray(px, "RGB").save(buf, format="PNG")
    assert np.array_equal(codec.decode_png(buf.getvalue()), px)
    for fmt in ("jpeg", "webp"):
        blob = codec.encode_image_real(px, fmt)
        out, ofmt = codec.decode_image(blob)
        assert ofmt == fmt and codec.psnr(px, out) >= 40.0


def test_png_all_filters_round_trip_and_wavefront_matches_spec_scalar():
    """encode_png(filter_type=0..4, and MIXED per-row) -> decode_png is
    bit-exact, and the diagonal-wavefront unfilter is byte-identical to
    the spec-literal per-byte reconstruction on random scanlines across
    shapes and bpp (PNG spec §9 Recon rules)."""
    import numpy as np

    from distributed_webcrawler_spark.sources import codec as C

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(64, 53, 3), dtype=np.uint8)
    for ft in range(5):
        assert np.array_equal(C.decode_png(C.encode_png(px, filter_type=ft)), px)
    mixed = rng.integers(0, 5, size=64).astype(np.uint8)
    assert np.array_equal(C.decode_png(C.encode_png(px, filter_type=mixed)), px)
    for _ in range(25):
        h = int(rng.integers(1, 24))
        w = int(rng.integers(1, 24))
        bpp = int(rng.choice([1, 2, 3, 4]))
        raw = rng.integers(0, 256, size=(h, w * bpp), dtype=np.uint8)
        fts = rng.integers(0, 5, size=h).astype(np.uint8)
        assert np.array_equal(
            C._unfilter_rows_scalar(fts, raw, w * bpp, bpp),
            C._unfilter_wavefront(fts, raw, w, bpp)), (h, w, bpp)


def test_png_paeth_unfilter_speedup_10x():
    """Round-3 verdict #3 done-criterion: the wavefront unfilter is >=10x
    the per-pixel spec-scalar loop on a Paeth-filtered 512x512 RGB image,
    byte-identical output. (Measured ~20x idle; 10x leaves headroom for a
    loaded test host.)"""
    import time

    import numpy as np

    from distributed_webcrawler_spark.sources import codec as C

    rng = np.random.default_rng(5)
    raw = rng.integers(0, 256, size=(512, 512 * 3), dtype=np.uint8)
    f4 = np.full(512, 4, dtype=np.uint8)
    t0 = time.perf_counter()
    want = C._unfilter_rows_scalar(f4, raw, 512 * 3, 3)
    t_scalar = time.perf_counter() - t0
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        got = C._unfilter_wavefront(f4, raw, 512, 3)
        best = min(best, time.perf_counter() - t0)
    assert np.array_equal(want, got)
    assert t_scalar / best >= 10.0, (t_scalar, best)


def test_png_adaptive_filter_round_trips_and_compresses():
    """filter_type='adaptive' (libpng's per-row MSAD heuristic): still
    bit-exact lossless, smaller than filter-0 on photo-spectrum content,
    and picks the sequential filters (Sub/Avg/Paeth) real-web PNGs are
    made of — so the decoder's wavefront path is what our own adaptive
    output exercises."""
    import struct
    import zlib

    import numpy as np

    from distributed_webcrawler_spark.sources import codec as C

    px = C.synth_pixels_photo("adaptive-fixture", 96, 72)
    enc_a = C.encode_png(px, filter_type="adaptive")
    assert np.array_equal(C.decode_png(enc_a), px)
    assert len(enc_a) < len(C.encode_png(px, filter_type=0))
    # extract the chosen per-row filters from the wire bytes
    off, idat = 8, b""
    while off + 8 <= len(enc_a):
        (ln,), typ = struct.unpack(">I", enc_a[off:off + 4]), enc_a[off + 4:off + 8]
        if typ == b"IDAT":
            idat += enc_a[off + 8:off + 8 + ln]
        off += 12 + ln
    fts = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(72, -1)[:, 0]
    assert (fts >= 1).any()          # not all filter 0
    # noise still round-trips
    rng = np.random.default_rng(0)
    nz = rng.integers(0, 256, size=(21, 35, 3), dtype=np.uint8)
    assert np.array_equal(C.decode_png(C.encode_png(nz, "adaptive")), nz)


def test_avi_mjpeg_container_round_trip_and_structure():
    """REAL RIFF-AVI Motion-JPEG: container fields match the public AVI
    spec (avih fps, MJPG stream fourcc, word-aligned 00dc chunks, idx1),
    frames round-trip at the JPEG codec's q95 fidelity, DWSV still
    decodes through the same decode_video sniff, and truncation fails
    loudly."""
    import struct

    import numpy as np

    from distributed_webcrawler_spark.sources import codec as C

    frames = [np.roll(C.synth_pixels_photo("avi-fix", 36, 28), 3 * i, axis=1)
              for i in range(5)]
    data = C.encode_avi_mjpeg(frames, fps=10)
    assert data[:4] == b"RIFF" and data[8:12] == b"AVI "
    assert b"MJPG" in data[:300] and b"00dc" in data and b"idx1" in data
    (riff_len,) = struct.unpack("<I", data[4:8])
    assert riff_len == len(data) - 8
    dec, fmt, fps = C.decode_video(data)
    assert fmt == "mjpeg" and fps == 10 and len(dec) == 5
    assert min(C.psnr(a, b) for a, b in zip(frames, dec)) >= 40.0
    # the DWSV stand-in still routes through the same function
    f2, fmt2, _ = C.decode_video(C.encode_video(frames, "png", fps=8))
    assert fmt2 == "png" and np.array_equal(f2[0], frames[0])
    import pytest as _pytest

    with _pytest.raises(C.CodecError):
        C.decode_video(data[:40])


def test_error_contract_untrusted_bytes_always_codec_error():
    """Round-4 advice (all four findings): every decoder failure on
    malformed/untrusted crawled bytes is a CodecError subclass, so the
    pipeline's `except codec.CodecError` handlers turn bad payloads into
    ok=false rows instead of killing the Spark task.

    - JpegError subclasses CodecError (advice #1: it escaped every
      handler when Pillow is absent),
    - decode_jpeg wraps raw struct.error/ValueError/StopIteration
      (advice #2: StopIteration inside generator-based mapInPandas
      bodies silently corrupts iteration),
    - decode_wav bounds-checks chunk lengths and the fmt chunk
      (advice #3: short fmt chunk raised struct.error)."""
    import struct

    import numpy as np
    import pytest

    from distributed_webcrawler_spark.sources import codec as C
    from distributed_webcrawler_spark.sources import jpeg as J

    assert issubclass(J.JpegError, C.CodecError)

    bad_jpegs = [
        b"\xff\xd8\xff\xe0" + b"junk" * 16,                  # garbage body
        b"\xff\xd8\xff\xdb\x00\x05\x00\x01\x02",             # truncated DQT
        b"\xff\xd8\xff\xc0\x00\x05\x08\x00",                 # truncated SOF
    ]
    for bad in bad_jpegs:
        with pytest.raises(C.CodecError):
            C.decode_image(bad)

    # unknown SOS component id: dict miss -> JpegError, never StopIteration
    rng = np.random.default_rng(0)
    px = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    enc = bytearray(J.encode_jpeg(px, quality=90))
    i = bytes(enc).find(b"\xff\xda")
    enc[i + 5] = 99
    with pytest.raises(J.JpegError, match="unknown component"):
        J.decode_jpeg(bytes(enc))

    # wav: short fmt chunk / chunk length lying past the buffer
    body = (b"WAVE" + b"fmt " + struct.pack("<I", 8) + b"\x01\x00\x01\x00\x44\xac\x00\x00"
            + b"data" + struct.pack("<I", 4) + b"\x00" * 4)
    with pytest.raises(C.CodecError, match="short wav fmt"):
        C.decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    body2 = b"WAVE" + b"fmt " + struct.pack("<I", 9999) + b"\x01\x00"
    with pytest.raises(C.CodecError, match="truncated wav chunk"):
        C.decode_wav(b"RIFF" + struct.pack("<I", len(body2)) + body2)


def test_png_wavefront_banded_tall_narrow_bounded_memory():
    """Round-4 advice #4: the single-sweep wavefront buffers are
    O((h+w)*h) — ~1.2 GB for a 10000x100 RGB PNG. The banded driver
    sweeps in ~64 MB row bands seeded with the previous band's last
    reconstructed row; output must stay bit-exact for uniform Paeth AND
    mixed per-row filters across band boundaries."""
    import numpy as np

    from distributed_webcrawler_spark.sources import codec as C

    rng = np.random.default_rng(7)
    h, w = 4000, 50
    px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    # banding must actually engage for this shape
    budget = 32 << 20
    import math as _m
    band = max(64, (_m.isqrt(w * w + 4 * (budget // 3)) - w) // 2)
    assert band < h, "test shape no longer exercises the banded path"
    for ft in (np.full(h, 4, np.uint8), (np.arange(h) % 5).astype(np.uint8)):
        dec = C.decode_png(C.encode_png(px, filter_type=ft))
        assert np.array_equal(dec, px)
    # banded output == single-sweep output on raw scanlines too
    raw = rng.integers(0, 256, size=(h, w * 3), dtype=np.uint8)
    fts = rng.integers(3, 5, size=h).astype(np.uint8)
    assert np.array_equal(
        C._unfilter_wavefront_banded(fts, raw, w, 3),
        C._unfilter_wavefront(fts, raw, w, 3))


def _corruptions(blob: bytes, seed: int, n: int = 200):
    """n seeded single-byte flips and n seeded truncations of blob."""
    rng = np.random.default_rng(seed)
    for _ in range(n):
        flipped = bytearray(blob)
        flipped[int(rng.integers(0, len(blob)))] ^= int(rng.integers(1, 256))
        yield bytes(flipped)
        yield blob[: int(rng.integers(0, len(blob)))]


@pytest.mark.parametrize("fmt", ["dws1", "png", "jpeg", "webp", "dwsa", "wav"])
def test_seeded_corruptions_fail_only_as_codec_error(fmt):
    """Every failure to decode corrupted bytes is a CodecError — a zlib.error
    (or any other exception) escaping the decoder fails a whole Spark task.
    200 flips + 200 truncations per format. No DeprecationWarning either:
    NumPy only warns when an out-of-range int is stored in an int array,
    so a decoder that merely warns went on with a wrapped value."""
    from distributed_webcrawler_spark.sources import jpeg, webp

    px = codec.synth_pixels_photo(f"fuzz-{fmt}", 24, 20)
    pcm = codec.synth_pcm(f"fuzz-{fmt}", 800, 8000)
    blob, decode = {
        "dws1": (codec.encode_image(px, "png"), codec.decode_image),
        "png": (codec.encode_png(px), codec.decode_image),
        "jpeg": (jpeg.encode_jpeg(px, quality=90), codec.decode_image),
        "webp": (webp.encode_webp_lossless(px), codec.decode_image),
        "dwsa": (codec.encode_audio(pcm, 8000, "wav"), codec.decode_audio),
        "wav": (codec.encode_wav(pcm, 8000), codec.decode_audio),
    }[fmt]
    escaped = []
    with warnings.catch_warnings(record=True) as warned:
        warnings.simplefilter("always", DeprecationWarning)
        for bad in _corruptions(blob, seed=sum(map(ord, fmt))):
            try:
                decode(bad)
            except codec.CodecError:
                pass
            except Exception as e:  # noqa: BLE001 - any other class is the failure
                escaped.append(type(e).__name__)
    assert escaped == []
    assert [str(w.message) for w in warned if w.category is DeprecationWarning] == []
