"""Pure NumPy/stdlib image codecs for the image+caption input table.

The sandbox has no Pillow (SURVEY.md §7.0), so the fixture formats are
codecs implemented here from first principles:

  fmt     body encoding                               lossless?
  ------  ------------------------------------------  ---------
  'ppm'   P6 header + raw RGB, row-major top-down     yes
  'bmp'   BMP-convention pixel array: bottom-up BGR   yes
          rows, 4-byte row padding
  'pngz'  zlib(DEFLATE)-compressed raw RGB            yes
  'dctq'  8x8 block DCT, uniform quantization,        no (PSNR >= ~46 dB)
          int16 coefficients, zlib-compressed

Every payload starts with a fixed 26-byte geotag header (an EXIF
analogue) carrying the embedded (lat, lon) — the geotag-extraction UDF
parses only this header on the fast path; the full pixel decode is used
by the PSNR invariant tests and the mosaic/feature operators.

Header layout (little-endian):
  magic   4s  = b'WBIM'
  version u8  = 1
  fmt     u8  (1=ppm 2=bmp 3=pngz 4=dctq)
  w, h    u16 each
  lat,lon f64 each

Reference parity: the reference engine has no image handling; this module
implements BASELINE.json's input_hint (bytes:binary + fmt + w/h) and the
PSNR>=40dB per-row invariant.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

MAGIC = b"WBIM"
VERSION = 1
HEADER_FMT = "<4sBBHHdd"
HEADER_SIZE = struct.calcsize(HEADER_FMT)  # 26
LAT_OFFSET = struct.calcsize(HEADER_FMT[:-2])  # 10, 0-based: lat, lon end the header
LON_OFFSET = LAT_OFFSET + 8  # 18

FMT_CODES = {"ppm": 1, "bmp": 2, "pngz": 3, "dctq": 4}
CODE_FMTS = {v: k for k, v in FMT_CODES.items()}
LOSSLESS = {"ppm", "bmp", "pngz"}

_DCT_Q = 3.0  # uniform quantization step; error ~ q/sqrt(12) -> PSNR ~ 48 dB


# ---------------------------------------------------------------- header

def pack_header(fmt: str, w: int, h: int, lat: float, lon: float) -> bytes:
    return struct.pack(HEADER_FMT, MAGIC, VERSION, FMT_CODES[fmt], w, h, lat, lon)


def parse_header(payload: bytes) -> tuple[str, int, int, float, float]:
    magic, ver, code, w, h, lat, lon = struct.unpack_from(HEADER_FMT, payload, 0)
    if magic != MAGIC or ver != VERSION:
        raise ValueError("not a WBIM payload")
    return CODE_FMTS[code], w, h, lat, lon


def extract_geotag(payload: bytes) -> tuple[float, float]:
    """Header-only fast path: (lat, lon) without decoding pixels."""
    lat, lon = struct.unpack_from("<dd", payload, LAT_OFFSET)
    return lat, lon


def extract_geotags_batch(payloads) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized geotag extraction over a sequence of payload bytes: the
    NumPy reference the compiled header parse (binparse.geotag_cols) is
    tested against.

    The fixed-size headers are concatenated into one buffer and parsed with
    a single NumPy view — no per-row struct.unpack (the only Python-level
    loop is the 26-byte slice per row, skipped when payloads are
    pre-sliced headers).
    """
    n = len(payloads)
    if n == 0:
        return np.empty(0), np.empty(0)
    if len(payloads[0]) == HEADER_SIZE:
        blob = b"".join(payloads)
    else:
        blob = b"".join(p[:HEADER_SIZE] for p in payloads)
    buf = np.frombuffer(blob, dtype=np.uint8).reshape(n, HEADER_SIZE)
    lat = np.ascontiguousarray(buf[:, LAT_OFFSET:LON_OFFSET]).view(np.float64).ravel()
    lon = np.ascontiguousarray(buf[:, LON_OFFSET:HEADER_SIZE]).view(np.float64).ravel()
    return lat, lon


# ---------------------------------------------------------------- lossless

def _encode_ppm(arr: np.ndarray) -> bytes:
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def _decode_ppm(body: bytes, w: int, h: int) -> np.ndarray:
    # header is "P6\n{w} {h}\n255\n"; pixel data is the trailing w*h*3 bytes
    raw = body[-w * h * 3:]
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3).copy()


def _encode_bmp(arr: np.ndarray) -> bytes:
    h, w = arr.shape[:2]
    bgr = arr[::-1, :, ::-1]  # bottom-up rows, BGR channel order
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    if pad:
        padded = np.zeros((h, row_bytes + pad), dtype=np.uint8)
        padded[:, :row_bytes] = bgr.reshape(h, row_bytes)
        return padded.tobytes()
    return np.ascontiguousarray(bgr).tobytes()


def _decode_bmp(body: bytes, w: int, h: int) -> np.ndarray:
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    rows = np.frombuffer(body, dtype=np.uint8).reshape(h, stride)[:, :row_bytes]
    bgr = rows.reshape(h, w, 3)
    return bgr[::-1, :, ::-1].copy()


def _encode_pngz(arr: np.ndarray) -> bytes:
    return zlib.compress(arr.astype(np.uint8).tobytes(), 6)


def _decode_pngz(body: bytes, w: int, h: int) -> np.ndarray:
    raw = zlib.decompress(body)
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3).copy()


# ---------------------------------------------------------------- dctq (lossy)

def _dct_matrix(n: int = 8) -> np.ndarray:
    k = np.arange(n)
    m = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    m[0] *= 1 / np.sqrt(2)
    return m * np.sqrt(2 / n)


_D8 = _dct_matrix(8)


def _to_blocks(chan: np.ndarray) -> tuple[np.ndarray, int, int]:
    h, w = chan.shape
    ph, pw = (-h) % 8, (-w) % 8
    if ph or pw:
        chan = np.pad(chan, ((0, ph), (0, pw)), mode="edge")
    hb, wb = chan.shape[0] // 8, chan.shape[1] // 8
    blocks = chan.reshape(hb, 8, wb, 8).transpose(0, 2, 1, 3)
    return blocks, hb, wb


def _encode_dctq(arr: np.ndarray) -> bytes:
    h, w = arr.shape[:2]
    out = []
    for c in range(3):
        blocks, hb, wb = _to_blocks(arr[:, :, c].astype(np.float64) - 128.0)
        coeffs = np.einsum("ij,bcjk,lk->bcil", _D8, blocks, _D8)
        q = np.round(coeffs / _DCT_Q).astype(np.int16)
        out.append(q.tobytes())
    return zlib.compress(b"".join(out), 6)


def _decode_dctq(body: bytes, w: int, h: int) -> np.ndarray:
    raw = zlib.decompress(body)
    hb, wb = (h + 7) // 8, (w + 7) // 8
    per_chan = hb * wb * 64
    qs = np.frombuffer(raw, dtype=np.int16).reshape(3, hb, wb, 8, 8)
    chans = []
    for c in range(3):
        coeffs = qs[c].astype(np.float64) * _DCT_Q
        blocks = np.einsum("ji,bcjk,kl->bcil", _D8, coeffs, _D8)
        chan = blocks.transpose(0, 2, 1, 3).reshape(hb * 8, wb * 8)[:h, :w]
        chans.append(np.clip(np.round(chan + 128.0), 0, 255).astype(np.uint8))
    return np.stack(chans, axis=-1)


# ---------------------------------------------------------------- public API

_ENCODERS = {"ppm": _encode_ppm, "bmp": _encode_bmp, "pngz": _encode_pngz, "dctq": _encode_dctq}
_DECODERS = {"ppm": _decode_ppm, "bmp": _decode_bmp, "pngz": _decode_pngz, "dctq": _decode_dctq}


def encode_image(arr: np.ndarray, fmt: str, lat: float, lon: float) -> bytes:
    """arr: uint8 (h, w, 3) RGB -> geotagged payload bytes."""
    h, w = arr.shape[:2]
    return pack_header(fmt, w, h, lat, lon) + _ENCODERS[fmt](arr)


def decode_image(payload: bytes) -> tuple[np.ndarray, dict]:
    """payload -> (uint8 (h,w,3) RGB, meta dict with fmt/w/h/lat/lon)."""
    fmt, w, h, lat, lon = parse_header(payload)
    arr = _DECODERS[fmt](payload[HEADER_SIZE:], w, h)
    return arr, {"fmt": fmt, "w": w, "h": h, "lat": lat, "lon": lon}


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 20.0 * np.log10(255.0) - 10.0 * np.log10(mse)


def phash64(arr: np.ndarray) -> int:
    """64-bit perceptual hash: mean-pool luma to 8x8, threshold at median.

    Signed int64 (Spark/parquet LongType has no unsigned 64-bit).
    """
    luma = arr.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = luma.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    pooled = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            pooled[i, j] = luma[ys[i]:max(ys[i + 1], ys[i] + 1),
                                xs[j]:max(xs[j + 1], xs[j] + 1)].mean()
    bits = (pooled > np.median(pooled)).flatten()
    val = 0
    for bit in bits:
        val = (val << 1) | int(bit)
    return val - (1 << 64) if val >= (1 << 63) else val


def mean_pool_resize(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic box-filter downsample (the 'resize' multimodal op)."""
    h, w = arr.shape[:2]
    ys = (np.arange(out_h + 1) * h) // out_h
    xs = (np.arange(out_w + 1) * w) // out_w
    out = np.empty((out_h, out_w, 3), dtype=np.float64)
    for i in range(out_h):
        for j in range(out_w):
            out[i, j] = arr[ys[i]:max(ys[i + 1], ys[i] + 1),
                            xs[j]:max(xs[j + 1], xs[j] + 1)].mean(axis=(0, 1))
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------- video

VIDEO_MAGIC = b"WBVD"
VIDEO_HEADER_FMT = "<4sBBHHIHdd"  # magic ver fmt w h n_frames fps lat lon
VIDEO_HEADER_SIZE = struct.calcsize(VIDEO_HEADER_FMT)


def encode_video(frames: list[np.ndarray], fmt: str, fps: int = 30,
                 lat: float = 0.0, lon: float = 0.0) -> bytes:
    """Deterministic synthetic video container: a header + length-prefixed
    per-frame bodies in one of the image codecs. Stands in for a real
    container format (this sandbox ships no video libraries); the Spark-side
    plumbing over it — schema, batch shape, seekable frame offsets — is the
    real engineering."""
    h, w = frames[0].shape[:2]
    enc = _ENCODERS[fmt]
    parts = [struct.pack(VIDEO_HEADER_FMT, VIDEO_MAGIC, VERSION, FMT_CODES[fmt],
                         w, h, len(frames), fps, lat, lon)]
    for fr in frames:
        body = enc(fr)
        parts.append(struct.pack("<I", len(body)))
        parts.append(body)
    return b"".join(parts)


def parse_video_header(payload: bytes) -> dict:
    magic, ver, fmt_code, w, h, n_frames, fps, lat, lon = struct.unpack(
        VIDEO_HEADER_FMT, payload[:VIDEO_HEADER_SIZE]
    )
    if magic != VIDEO_MAGIC or ver != VERSION:
        raise ValueError("not a WBVD payload")
    return {"fmt": CODE_FMTS[fmt_code], "w": w, "h": h,
            "n_frames": n_frames, "fps": fps, "lat": lat, "lon": lon}


def sample_video_frames(payload: bytes, every_n: int) -> list[tuple[int, bytes]]:
    """(frame_no, image_payload) for frames 0, every_n, 2*every_n, ... —
    each returned as a standalone WBIM image payload (header + body) so every
    downstream image operator (decode, features, geotag) composes directly."""
    hdr = parse_video_header(payload)
    img_hdr = pack_header(hdr["fmt"], hdr["w"], hdr["h"], hdr["lat"], hdr["lon"])
    out = []
    off = VIDEO_HEADER_SIZE
    for i in range(hdr["n_frames"]):
        (blen,) = struct.unpack("<I", payload[off:off + 4])
        body_off = off + 4
        if i % every_n == 0:
            out.append((i, img_hdr + payload[body_off:body_off + blen]))
        off = body_off + blen
    return out
