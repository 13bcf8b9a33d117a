"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schemas, Arrow batch shapes,
partition-friendly transforms. The CODEC is an injection seam: every
operator takes a ``decoder=`` callable; the default is resolved by
:func:`default_image_decoder` / :func:`default_audio_decoder`, which pick
the real library-backed decoder (PIL / soundfile) when the library is
importable. Without those libraries the default is the AUTO decoder
(:func:`decode_image_auto` / :func:`decode_audio_auto`): a REAL
stdlib+numpy parser for the formats it recognizes by magic bytes —
binary PPM/PGM (P6/P5), uncompressed 24/32-bit BI_RGB BMP, and PCM WAV
via the stdlib ``wave`` module — falling back to the deterministic stub
only for unrecognized payloads (so synthetic fixtures keep their stable
values while real media decodes for real). Recognized-but-corrupt
payloads return None — the same error contract a library codec has.
Swapping in a production codec is therefore a zero-plan-change
operation: pass the callable, or install the library. The seam is
proven both by contract tests that inject a fake "real" decoder
(``tests/test_multimodal.py``) and by end-to-end Spark runs over
genuine PPM/BMP/WAV bytes (``tests/test_multimodal_codecs.py``).

Design rules for 100 TB of media:
* media bytes travel in their own column; metadata predicates (mime, width,
  duration) are plain columns so pruning/pushdown never touches the blob.
* feature extraction is mapInPandas over (key, bytes) only — never ship
  unused columns through Python.
* frame/window sampling happens inside the UDF batch (one Arrow transfer).
* the decoder callable is captured in the UDF closure, so it must be
  picklable (module-level functions are); library imports live INSIDE the
  decoder body so executors resolve them at first batch, not at ship time.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

__all__ = ["decode_image_stub", "decode_image_pil", "decode_image_ppm",
           "decode_image_bmp", "decode_image_auto", "default_image_decoder",
           "image_features", "frame_sample", "decode_frame_stub",
           "resize_stub", "resize_images", "decode_audio_stub",
           "decode_audio_soundfile", "decode_audio_wav", "decode_audio_auto",
           "default_audio_decoder", "audio_features"]

FEATURE_DIM = 16

try:  # gated import: the container has no PIL — the stub path is the
    import PIL.Image  # noqa: F401  # one exercised by this repo's tests
    _HAVE_PIL = True
except ImportError:  # pragma: no cover — no PIL in this container
    _HAVE_PIL = False

try:  # gated import: soundfile, the audio twin
    import soundfile  # noqa: F401
    _HAVE_SOUNDFILE = True
except ImportError:  # pragma: no cover
    _HAVE_SOUNDFILE = False


def decode_image_stub(data: bytes) -> np.ndarray | None:
    """STUB decoder: a real deployment replaces this with PIL/libjpeg.

    Deterministic fake: derives an (8, 8, 3) uint8 'image' from a blake2b
    stream of the bytes, so downstream feature math is exercised with
    stable values. Returns None for empty payloads (the error path real
    codecs need)."""
    if not data:
        return None
    digest = hashlib.shake_256(data).digest(8 * 8 * 3)
    return np.frombuffer(digest, dtype=np.uint8).reshape(8, 8, 3)


def decode_image_pil(data: bytes) -> np.ndarray | None:
    """REAL decoder (used when PIL is importable): any format PIL reads
    → (h, w, 3) uint8 RGB array; None on empty/corrupt payloads (the
    same error contract as the stub). PIL is imported inside the body so
    the function pickles into executor closures cleanly."""
    if not data:
        return None
    import io

    from PIL import Image
    try:
        with Image.open(io.BytesIO(data)) as img:
            return np.asarray(img.convert("RGB"), dtype=np.uint8)
    except Exception:
        return None


def decode_image_ppm(data: bytes) -> np.ndarray | None:
    """REAL pure-stdlib decoder for binary Netpbm images — P6 (PPM, RGB)
    and P5 (PGM, grayscale replicated to 3 channels), 8-bit maxval.
    Header tokens may be separated by any whitespace and ``#`` comments
    per the Netpbm spec; exactly one whitespace byte separates the maxval
    token from the raster. Returns (h, w, 3) uint8 RGB, or None for
    empty / truncated / >8-bit payloads (the corrupt-payload contract)."""
    if not data or data[:2] not in (b"P6", b"P5"):
        return None
    channels = 3 if data[:2] == b"P6" else 1
    pos, tokens = 2, []
    n = len(data)
    while len(tokens) < 3:
        while pos < n and data[pos:pos + 1].isspace():
            pos += 1
        if pos < n and data[pos:pos + 1] == b"#":  # comment to end of line
            while pos < n and data[pos] not in (0x0A, 0x0D):
                pos += 1
            continue
        start = pos
        while pos < n and not data[pos:pos + 1].isspace():
            pos += 1
        if pos == start:
            return None  # ran off the end mid-header
        tokens.append(data[start:pos])
    pos += 1  # single whitespace byte after maxval, then raw raster
    try:
        w, h, maxval = (int(t) for t in tokens)
    except ValueError:
        return None
    if w <= 0 or h <= 0 or not 0 < maxval < 256:  # 16-bit Netpbm: corrupt
        return None
    need = w * h * channels
    raster = data[pos:pos + need]
    if len(raster) != need:
        return None
    img = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, channels)
    if channels == 1:
        img = np.repeat(img, 3, axis=2)
    return img


def decode_image_bmp(data: bytes) -> np.ndarray | None:
    """REAL pure-stdlib decoder for uncompressed (BI_RGB) 24/32-bit BMP
    with a BITMAPINFOHEADER-family DIB header. Handles 4-byte row padding
    and both bottom-up (height > 0) and top-down (height < 0) rasters;
    pixel order in the file is BGR(A) — output is (h, w, 3) uint8 RGB.
    None for anything else (paletted, RLE, core-header) — corrupt/
    unsupported payloads share one error contract."""
    if not data or data[:2] != b"BM" or len(data) < 54:
        return None

    def _u32(o: int) -> int:
        return int.from_bytes(data[o:o + 4], "little")

    def _i32(o: int) -> int:
        return int.from_bytes(data[o:o + 4], "little", signed=True)

    pixel_off = _u32(10)
    dib_size = _u32(14)
    if dib_size < 40:  # BITMAPCOREHEADER etc. — unsupported
        return None
    w, h_raw = _i32(18), _i32(22)
    bitcount = int.from_bytes(data[28:30], "little")
    compression = _u32(30)
    if w <= 0 or h_raw == 0 or bitcount not in (24, 32) or compression != 0:
        return None
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    bpp = bitcount // 8
    stride = (bitcount * w + 31) // 32 * 4  # rows pad to 4-byte boundary
    raster = data[pixel_off:pixel_off + stride * h]
    if pixel_off < 14 + dib_size or len(raster) != stride * h:
        return None
    rows = np.frombuffer(raster, dtype=np.uint8).reshape(h, stride)
    px = rows[:, :w * bpp].reshape(h, w, bpp)
    rgb = px[:, :, 2::-1]  # BGR(A) -> RGB, alpha dropped
    if not top_down:
        rgb = rgb[::-1]
    return np.ascontiguousarray(rgb)


def decode_image_auto(data: bytes) -> np.ndarray | None:
    """The no-library default: magic-byte dispatch to the REAL stdlib
    decoders (P6/P5 → :func:`decode_image_ppm`, ``BM`` →
    :func:`decode_image_bmp`), stub fallback for unrecognized payloads
    (keeps synthetic fixtures' deterministic values), None for empty or
    recognized-but-corrupt bytes."""
    if not data:
        return None
    if data[:2] in (b"P6", b"P5"):
        return decode_image_ppm(data)
    if data[:2] == b"BM":
        return decode_image_bmp(data)
    return decode_image_stub(data)


def default_image_decoder() -> Callable[[bytes], np.ndarray | None]:
    """The codec seam's default: PIL-backed when PIL is importable, the
    AUTO decoder (real stdlib PPM/BMP, stub fallback) otherwise. Resolved
    once on the driver; the chosen module-level function ships in the UDF
    closure."""
    return decode_image_pil if _HAVE_PIL else decode_image_auto


def image_features(df: DataFrame, bytes_col: str = "data",
                   key_col: str = "media_id",
                   decoder: Callable[[bytes], np.ndarray | None]
                   | None = None) -> DataFrame:
    """(key, bytes) -> (key, ok, feature array<float>): decode + mean-pool
    color histogram features. One Arrow batch in, one out. ``decoder``
    overrides the codec (default: :func:`default_image_decoder`)."""
    decode = decoder or default_image_decoder()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, oks, feats = [], [], []
            for k, b in zip(pdf[key_col].values, pdf[bytes_col].values):
                img = decode(b)
                keys.append(k)
                if img is None:
                    oks.append(False)
                    feats.append([0.0] * FEATURE_DIM)
                    continue
                hist, _ = np.histogram(img, bins=FEATURE_DIM, range=(0, 256))
                total = float(hist.sum()) or 1.0
                oks.append(True)
                feats.append([float(h) / total for h in hist])
            yield pd.DataFrame({key_col: keys, "ok": oks, "feature": feats})

    return df.select(key_col, bytes_col).mapInPandas(
        gen, f"{key_col} long, ok boolean, feature array<float>")


def decode_frame_stub(data: bytes, frame_index: int) -> np.ndarray | None:
    """STUB frame decoder (swap for an ffmpeg/pyav seek-and-decode): a
    deterministic per-frame image derived from the payload + frame index."""
    if not data:
        return None
    return decode_image_stub(data + frame_index.to_bytes(2, "big"))


def frame_sample(df: DataFrame, bytes_col: str = "data",
                 key_col: str = "media_id", every: int = 4,
                 n_frames: int = 16,
                 frame_decoder: Callable[[bytes, int], np.ndarray | None]
                 | None = None) -> DataFrame:
    """Video-style frame sampling: emit one row per sampled frame index
    with its feature vector. Demonstrates the one-to-many batch shape
    (explode inside the UDF, not after). ``frame_decoder(data, index)``
    overrides the codec (default: the stub — no video library ships in
    any container we target, so there is no auto-detected real default;
    the seam is the parameter)."""
    decode = frame_decoder or decode_frame_stub

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, idxs, feats = [], [], []
            for k, b in zip(pdf[key_col].values, pdf[bytes_col].values):
                if not b:
                    continue
                for fi in range(0, n_frames, every):
                    frame = decode(b, fi)
                    if frame is None:
                        continue
                    hist, _ = np.histogram(frame, bins=FEATURE_DIM,
                                           range=(0, 256))
                    total = float(hist.sum()) or 1.0
                    keys.append(k)
                    idxs.append(fi)
                    feats.append([float(h) / total for h in hist])
            # explicit dtypes: this is the one kernel that SKIPS rows, so a
            # partition of all-undecodable media yields empty lists — pandas
            # would infer float64 columns, which Arrow cannot cast to
            # list<float> (worker crash). Object dtype keeps the cast valid
            # for empty and non-empty batches alike.
            yield pd.DataFrame({key_col: pd.Series(keys, dtype="int64"),
                                "frame": pd.Series(idxs, dtype="int32"),
                                "feature": pd.Series(feats, dtype=object)})

    return df.select(key_col, bytes_col).mapInPandas(
        gen, f"{key_col} long, frame int, feature array<float>")


def resize_stub(img: np.ndarray, height: int, width: int) -> np.ndarray:
    """Nearest-neighbor resize in pure numpy — real math over the stub
    decode; a deployment swaps in PIL's resampling, same shape contract."""
    h, w = img.shape[:2]
    rows = (np.arange(height) * h // height).clip(0, h - 1)
    cols = (np.arange(width) * w // width).clip(0, w - 1)
    return img[rows][:, cols]


def resize_images(df: DataFrame, height: int = 4, width: int = 4,
                  bytes_col: str = "data",
                  key_col: str = "media_id",
                  decoder: Callable[[bytes], np.ndarray | None]
                  | None = None) -> DataFrame:
    """(key, bytes) -> (key, ok, height, width, pixels binary): decode +
    resize, re-emitting raw pixel bytes as an opaque binary column (the
    blob-stays-binary rule holds on output too — downstream predicates get
    the typed height/width columns, never the pixels). The nearest-
    neighbor resize is real math over whatever array the ``decoder``
    yields — it works unchanged under the stub and under PIL."""
    decode = decoder or default_image_decoder()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, oks, hs, ws, px = [], [], [], [], []
            for k, b in zip(pdf[key_col].values, pdf[bytes_col].values):
                img = decode(b)
                keys.append(k)
                if img is None:
                    oks.append(False); hs.append(0); ws.append(0)
                    px.append(b"")
                    continue
                r = resize_stub(img, height, width)
                oks.append(True); hs.append(height); ws.append(width)
                px.append(r.tobytes())
            yield pd.DataFrame({key_col: keys, "ok": oks, "height": hs,
                                "width": ws, "pixels": px})

    return df.select(key_col, bytes_col).mapInPandas(
        gen, f"{key_col} long, ok boolean, height int, width int, "
             "pixels binary")


def decode_audio_stub(data: bytes, n_samples: int = 256) -> np.ndarray | None:
    """STUB audio decoder (swap for torchaudio/ffmpeg): deterministic
    float32 waveform in [-1, 1) derived from a shake_256 stream."""
    if not data:
        return None
    raw = hashlib.shake_256(b"audio" + data).digest(n_samples)
    return (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0


def decode_audio_soundfile(data: bytes) -> np.ndarray | None:
    """REAL decoder (used when soundfile is importable): WAV/FLAC/OGG →
    mono float32 waveform; None on empty/corrupt payloads. Import inside
    the body, same closure-pickling rule as :func:`decode_image_pil`."""
    if not data:
        return None
    import io

    import soundfile as sf
    try:
        wave, _sr = sf.read(io.BytesIO(data), dtype="float32")
    except Exception:
        return None
    wave = np.asarray(wave, dtype=np.float32)
    if wave.ndim > 1:  # downmix channels — features below are mono
        wave = wave.mean(axis=1)
    return wave


def decode_audio_wav(data: bytes) -> np.ndarray | None:
    """REAL pure-stdlib decoder for PCM WAV via the ``wave`` module:
    8-bit unsigned, 16/32-bit signed, and 24-bit packed LE samples →
    mono float32 waveform in [-1, 1) (channels downmixed by mean). None
    for corrupt / non-PCM payloads — ``wave`` raises on compressed
    formats, which folds into the same error contract."""
    if not data:
        return None
    import io
    import wave as wave_mod
    try:
        with wave_mod.open(io.BytesIO(data), "rb") as wf:
            n_ch = wf.getnchannels()
            width = wf.getsampwidth()
            frames = wf.readframes(wf.getnframes())
    except Exception:
        return None
    if n_ch < 1 or not frames:
        return None
    if width == 1:  # 8-bit WAV is unsigned with a 128 midpoint
        samples = (np.frombuffer(frames, dtype=np.uint8)
                   .astype(np.float32) - 128.0) / 128.0
    elif width == 2:
        samples = np.frombuffer(frames, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 3:  # 24-bit packed: widen to int32 via a zero LSB byte
        raw = np.frombuffer(frames, dtype=np.uint8).reshape(-1, 3)
        padded = np.zeros((raw.shape[0], 4), dtype=np.uint8)
        padded[:, 1:] = raw
        samples = (padded.view("<i4").ravel().astype(np.float32)
                   / 2147483648.0)
    elif width == 4:
        samples = (np.frombuffer(frames, dtype="<i4").astype(np.float32)
                   / 2147483648.0)
    else:
        return None
    if n_ch > 1:
        samples = samples[:len(samples) // n_ch * n_ch]
        samples = samples.reshape(-1, n_ch).mean(axis=1)
    return samples.astype(np.float32)


def decode_audio_auto(data: bytes) -> np.ndarray | None:
    """The no-library default: ``RIFF....WAVE`` magic →
    :func:`decode_audio_wav`, stub fallback for unrecognized payloads,
    None for empty or recognized-but-corrupt bytes."""
    if not data:
        return None
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return decode_audio_wav(data)
    return decode_audio_stub(data)


def default_audio_decoder() -> Callable[[bytes], np.ndarray | None]:
    """soundfile-backed when importable, the AUTO decoder (real stdlib
    PCM WAV, stub fallback) otherwise."""
    return decode_audio_soundfile if _HAVE_SOUNDFILE else decode_audio_auto


def audio_features(df: DataFrame, bytes_col: str = "data",
                   key_col: str = "media_id", n_windows: int = 8,
                   decoder: Callable[[bytes], np.ndarray | None]
                   | None = None) -> DataFrame:
    """(key, bytes) -> (key, ok, rms array<float>, zero_crossings int):
    windowed RMS energy + zero-crossing count over the decoded waveform —
    the audio twin of image_features, same Arrow batch shape. ``decoder``
    overrides the codec (default: :func:`default_audio_decoder`)."""
    decode = decoder or default_audio_decoder()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, oks, rms, zc = [], [], [], []
            for k, b in zip(pdf[key_col].values, pdf[bytes_col].values):
                wave = decode(b)
                keys.append(k)
                if wave is None:
                    oks.append(False); rms.append([0.0] * n_windows)
                    zc.append(0)
                    continue
                wins = np.array_split(wave, n_windows)
                oks.append(True)
                rms.append([float(np.sqrt(np.mean(w * w))) for w in wins])
                zc.append(int(np.sum(np.signbit(wave[1:]) !=
                                     np.signbit(wave[:-1]))))
            yield pd.DataFrame({key_col: keys, "ok": oks, "rms": rms,
                                "zero_crossings": zc})

    return df.select(key_col, bytes_col).mapInPandas(
        gen, f"{key_col} long, ok boolean, rms array<float>, "
             "zero_crossings int")
