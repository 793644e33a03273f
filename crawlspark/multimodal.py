"""Multimodal columns: opaque binary payloads + typed metadata, with
REAL decode / feature-extract / resize / frame-sample stages as
Arrow-batched mapInPandas (task brief: multimodal ops are first-class
alongside the crawl surface).

No third-party codecs exist in this container, so the codecs here are
self-contained stdlib+numpy implementations of real formats:

- **WAV / PCM16** — encode+decode via the stdlib ``wave`` module;
  features = RMS, zero-crossing rate, 8-band FFT log-energies.
- **PNG (8-bit gray/RGB)** — full encoder (zlib deflate, CRC chunks)
  and decoder (inflate + scanline unfilter, filter types 0-4 per the
  PNG spec). Features = per-channel mean/std + 8-bin luma histogram;
  resize = nearest-neighbor to a thumbnail before featurizing.
- **video** — a deterministic length-prefixed PNG-frame container
  (``CSV1``); the decode stage frame-samples every k-th frame and
  averages frame features (the mapInPandas shape a pyav-backed
  decoder would keep identical).

- **JPEG (baseline sequential)** — real encoder+decoder in jpegc.py
  (DCT, canonical Huffman, spec-valid JFIF; grayscale and 4:4:4).
  Progressive, chroma-subsampled and restart-interval streams raise
  NotImplementedError in the decoder.

Anything else (mp3, ...) raises
NotImplementedError at the same seam — swapping PIL/torchaudio/pyav in is a per-mime dispatch entry,
not a pipeline change. Partitioning spreads fat payloads before the
Python stage; nothing payload-bearing survives past featurization.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave as _wave
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),        # image|audio|video
    T.StructField("payload", T.BinaryType(), True),      # opaque bytes
    T.StructField("mime", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.IntegerType(), True),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
    T.StructField("n_frames", T.IntegerType(), True),
])

FEATURE_DIM = 14  # images: 6 stats + 8 histogram bins; audio padded


# ---------------------------------------------------------------------------
# PNG codec (8-bit grayscale / RGB, filters 0-4)
# ---------------------------------------------------------------------------
def _png_chunk(tag: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(tag + body) & 0xFFFFFFFF
    return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)


def encode_png(pixels: np.ndarray) -> bytes:
    """Encode HxW (gray) or HxWx3 (RGB) uint8 to a spec-valid PNG
    (color types 0/2, bit depth 8, filter 0 scanlines)."""
    if pixels.ndim == 2:
        color_type, channels = 0, 1
        h, w = pixels.shape
    else:
        color_type, channels = 2, 3
        h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))
    return (b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw, 6))
            + _png_chunk(b"IEND", b""))


def decode_png(data: bytes) -> np.ndarray:
    """Decode an 8-bit gray/RGB PNG: chunk walk, inflate, unfilter
    (paeth and friends, PNG spec §6)."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, w = 8, [], None
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", body)
            if depth != 8 or ctype not in (0, 2) or interlace:
                raise NotImplementedError("only 8-bit gray/RGB non-interlaced")
            channels = 1 if ctype == 0 else 3
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    p = 0
    for y in range(h):
        f = raw[p]
        line = np.frombuffer(raw[p + 1:p + 1 + stride], dtype=np.uint8).copy()
        p += 1 + stride
        if f == 0:
            cur = line
        elif f == 2:  # Up
            cur = (line + prev).astype(np.uint8)
        else:  # Sub / Average / Paeth need left-neighbor recurrence
            cur = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                a = int(cur[x - channels]) if x >= channels else 0
                b = int(prev[x])
                if f == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif f == 3:
                    cur[x] = (line[x] + (a + b) // 2) & 0xFF
                elif f == 4:
                    c = int(prev[x - channels]) if x >= channels else 0
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (line[x] + pred) & 0xFF
                else:
                    raise ValueError(f"bad filter {f}")
        out[y] = cur
        prev = cur
    return out.reshape(h, w) if channels == 1 else out.reshape(h, w, 3)


def resize_nearest(pixels: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize (the thumbnail step before featurize)."""
    h, w = pixels.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return pixels[ys][:, xs]


# ---------------------------------------------------------------------------
# WAV codec (PCM16 mono) — stdlib `wave`
# ---------------------------------------------------------------------------
def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    with _wave.open(io.BytesIO(data), "rb") as w:
        rate = w.getframerate()
        n = w.getnframes()
        samples = np.frombuffer(w.readframes(n), dtype="<i2")
    return samples, rate


# ---------------------------------------------------------------------------
# Video container: b"CSV1" + u32 n_frames + [u32 len + png]...
# ---------------------------------------------------------------------------
def encode_video(frames: list[np.ndarray]) -> bytes:
    out = [b"CSV1", struct.pack("<I", len(frames))]
    for fr in frames:
        png = encode_png(fr)
        out.append(struct.pack("<I", len(png)))
        out.append(png)
    return b"".join(out)


def iter_video_frames(data: bytes) -> Iterator[bytes]:
    if data[:4] != b"CSV1":
        raise ValueError("not a CSV1 container")
    (n,) = struct.unpack("<I", data[4:8])
    pos = 8
    for _ in range(n):
        (ln,) = struct.unpack("<I", data[pos:pos + 4])
        yield data[pos + 4:pos + 4 + ln]
        pos += 4 + ln


# ---------------------------------------------------------------------------
# Feature kernels
# ---------------------------------------------------------------------------
def image_feature(pixels: np.ndarray) -> list[float]:
    """Per-channel mean/std (of a 16x16 nearest-neighbor thumbnail —
    the resize stage) + 8-bin luminance histogram, all in [0,1]."""
    t = resize_nearest(pixels, 16, 16).astype(np.float64) / 255.0
    if t.ndim == 2:
        t = np.stack([t, t, t], axis=-1)
    means = t.mean(axis=(0, 1))
    stds = t.std(axis=(0, 1))
    luma = 0.299 * t[..., 0] + 0.587 * t[..., 1] + 0.114 * t[..., 2]
    hist, _ = np.histogram(luma, bins=8, range=(0.0, 1.0))
    hist = hist / max(luma.size, 1)
    return [round(float(x), 6) for x in np.concatenate([means, stds, hist])]


def audio_feature(samples: np.ndarray, rate: int) -> list[float]:
    """RMS + zero-crossing rate + log-energy in 8 linear FFT bands,
    zero-padded to FEATURE_DIM."""
    x = samples.astype(np.float64) / 32768.0
    if x.size == 0:
        return [0.0] * FEATURE_DIM
    rms = float(np.sqrt(np.mean(x * x)))
    zcr = float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8)))))
    spec = np.abs(np.fft.rfft(x)) ** 2
    bounds = np.linspace(0, spec.size, 9).astype(int)  # 8 equal bands
    energies = [float(np.log1p(spec[bounds[i]:bounds[i + 1]].sum()))
                for i in range(8)]
    feat = [rms, zcr] + energies
    feat += [0.0] * (FEATURE_DIM - len(feat))
    return [round(f, 6) for f in feat]


# a video contributes every FRAME_STRIDE-th frame to its feature
FRAME_STRIDE = 10


def decode_and_featurize(payload: bytes, kind: str, mime: str,
                         frame_stride: int = FRAME_STRIDE
                         ) -> tuple[list[float], int]:
    """The per-item decode seam: real codecs for png/jpeg/wav/CSV1;
    other mimes raise (swap PIL/torchaudio/pyav per mime here)."""
    if kind == "image":
        if mime == "image/png":
            return image_feature(decode_png(payload)), 1
        if mime == "image/jpeg":
            from .jpegc import decode_jpeg

            return image_feature(decode_jpeg(payload)), 1
    elif kind == "audio":
        if mime == "audio/wav":
            return audio_feature(*decode_wav(payload)), 1
    elif kind == "video":
        if mime == "video/x-csv1":
            frames = list(iter_video_frames(payload))
            sampled = frames[::frame_stride] or frames[:1]
            feats = np.array([image_feature(decode_png(p)) for p in sampled])
            return ([round(float(x), 6) for x in feats.mean(axis=0)],
                    len(sampled))
    raise NotImplementedError(f"no codec for {kind}/{mime} in this sandbox")


def extract_features(media: DataFrame) -> DataFrame:
    """Decode + resize + featurize (+ video frame-sampling) via
    mapInPandas: Arrow batches in, one FEATURE_DIM row per item out;
    payloads never survive past this stage."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, frames = [], []
            for payload, kind, mime in zip(pdf["payload"], pdf["kind"],
                                           pdf["mime"]):
                raw = bytes(payload) if payload is not None else b""
                f, n = decode_and_featurize(raw, kind, mime, FRAME_STRIDE)
                feats.append(f)
                frames.append(n)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "feature": feats,
                "n_frames": pd.array(frames, dtype="int32"),
            })

    return (media.repartition(F.col("media_id"))  # spread fat payloads
            .mapInPandas(run, schema=FEATURE_SCHEMA))


def gen_media_rows(n: int) -> list:
    """Deterministic synthetic media table with REAL payloads: PNG
    images (gradient+noise), PCM16 WAV tones, CSV1 video clips.

    Returns raw row tuples of Python ints / bytes / None, matching
    MEDIA_SCHEMA column order. Feed these straight to
    ``spark.createDataFrame(rows, MEDIA_SCHEMA)`` — a pandas
    round-trip upcasts the nullable int columns to float64 on the
    non-Arrow conversion path and the schema verifier rejects
    ``32.0`` for IntegerType, so the tuple form is the only one
    that is session-config-independent."""
    rows = []
    for i in range(n):
        rng = np.random.default_rng(42 * 1_000_003 + i)
        kind = ("image", "audio", "video")[i % 3]
        if kind == "image":
            h, w = 24 + i % 3 * 8, 32 + i % 5 * 8
            grad = np.linspace(0, 255, w, dtype=np.uint8)
            px = np.stack([np.tile(grad, (h, 1)),
                           rng.integers(0, 256, (h, w), dtype=np.uint8),
                           np.full((h, w), (i * 37) % 256, dtype=np.uint8)],
                          axis=-1)
            if i % 2 == 0:
                payload, mime = encode_png(px), "image/png"
            else:
                from .jpegc import encode_jpeg

                payload, mime = encode_jpeg(px), "image/jpeg"
            dur = None
        elif kind == "audio":
            rate = 16000
            t = np.arange(rate // 4)
            freq = 200 + (i % 10) * 60
            samples = (10000 * np.sin(2 * np.pi * freq * t / rate)
                       + rng.normal(0, 500, t.size)).astype(np.int16)
            payload, mime, dur = encode_wav(samples, rate), "audio/wav", 250
            h = w = None
        else:
            h, w = 16, 16
            frames = [np.full((h, w, 3), (i + k * 11) % 256, dtype=np.uint8)
                      for k in range(12 + i % 9)]
            payload, mime, dur = encode_video(frames), "video/x-csv1", 1000
        rows.append((i, kind, payload, mime, w, h, dur))
    return rows


def gen_media_pandas(n: int) -> pd.DataFrame:
    """Pandas view of gen_media_rows for local inspection. Do NOT feed
    this to createDataFrame: without Arrow the fallback path runs
    to_records(), which coerces nullable Int32 back to float64 and the
    schema verifier throws. Use gen_media_rows + MEDIA_SCHEMA."""
    pdf = pd.DataFrame(gen_media_rows(n),
                       columns=["media_id", "kind", "payload", "mime",
                                "width", "height", "duration_ms"])
    for col in ("width", "height", "duration_ms"):
        pdf[col] = pd.array(pdf[col].tolist(), dtype="Int32")
    return pdf
