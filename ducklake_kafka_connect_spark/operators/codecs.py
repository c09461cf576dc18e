"""Real media codecs with zero third-party codec dependencies.

The container ships no Pillow/soundfile, but three standard formats are
decodable with numpy + the stdlib alone, which upgrades the multimodal
pipeline's codec slot from "deterministic stand-in" to a REAL decode for
uncompressed media:

- **PPM/PGM** (netpbm P6/P5 binary): header parse + frombuffer reshape.
- **BMP** (24/32-bit uncompressed BITMAPINFOHEADER): struct header,
  bottom-up row order, 4-byte row padding.
- **WAV** (PCM): stdlib ``wave`` for framing, numpy for samples.
- **PNG** (8-bit gray/gray+alpha/RGB/RGBA/palette, non-interlaced):
  stdlib ``zlib`` inflate + numpy row unfiltering (all five filter
  types) — a real COMPRESSED format with zero third-party deps.

Remaining formats (JPEG, 16-bit or Adam7 PNG, FLAC/…) still require Pillow/soundfile and stay behind the
import-try gate in ``multimodal.py`` — ``sniff_format`` tells callers
which path a payload needs. Resize is nearest-neighbor
index sampling (the deterministic choice: no filter kernels to disagree
about).
"""

from __future__ import annotations

import io
import struct
import wave

import numpy as np


class CodecError(ValueError):
    pass


def sniff_format(payload: bytes) -> str | None:
    """Best-effort container sniff from magic bytes; None = unknown."""
    if payload.startswith(b"P6") or payload.startswith(b"P5"):
        return "ppm"
    if payload.startswith(b"BM"):
        return "bmp"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:2] == b"\xff\xd8":
        return "jpeg"
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    return None


# ---------------------------------------------------------------------------
# netpbm (P5 grayscale / P6 RGB, binary)
# ---------------------------------------------------------------------------


def _pnm_header(payload: bytes):
    """Parse 'P5|P6 <w> <h> <maxval>' allowing comments/whitespace; returns
    (magic, width, height, maxval, data_offset)."""
    pos = 2
    fields: list[int] = []
    n = len(payload)
    while len(fields) < 3:
        while pos < n and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < n and payload[pos : pos + 1] == b"#":  # comment to EOL
            while pos < n and payload[pos] not in (0x0A, 0x0D):
                pos += 1
            continue
        start = pos
        while pos < n and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise CodecError("truncated PNM header")
        try:
            fields.append(int(payload[start:pos]))
        except ValueError as e:
            raise CodecError(f"bad PNM header token {payload[start:pos]!r}") from e
    return payload[:2], fields[0], fields[1], fields[2], pos + 1


def decode_ppm(payload: bytes) -> np.ndarray:
    """P6 → (h, w, 3) uint8; P5 → (h, w, 1) uint8."""
    magic = payload[:2]
    if magic not in (b"P5", b"P6"):
        raise CodecError(f"not a binary PNM payload: {magic!r}")
    _, w, h, maxval, off = _pnm_header(payload)
    if maxval > 255:
        raise CodecError("16-bit PNM not supported")
    ch = 3 if magic == b"P6" else 1
    need = w * h * ch
    body = payload[off : off + need]
    if len(body) < need:
        raise CodecError(f"PNM body truncated: {len(body)} < {need}")
    return np.frombuffer(body, dtype=np.uint8).reshape(h, w, ch)


def encode_ppm(arr: np.ndarray) -> bytes:
    """(h, w, 1|3) uint8 → binary PGM/PPM (the test-fixture writer)."""
    h, w, ch = arr.shape
    magic = b"P6" if ch == 3 else b"P5"
    return magic + f" {w} {h} 255\n".encode() + arr.astype(np.uint8).tobytes()


# ---------------------------------------------------------------------------
# BMP (uncompressed 24/32-bit, BITMAPINFOHEADER)
# ---------------------------------------------------------------------------


def decode_bmp(payload: bytes) -> np.ndarray:
    """24/32-bit uncompressed BMP → (h, w, 3) uint8 RGB (alpha dropped).
    Handles bottom-up (positive height) and top-down rows, and the
    4-byte row padding the format requires."""
    if payload[:2] != b"BM":
        raise CodecError("not a BMP payload")
    if len(payload) < 54:
        raise CodecError("BMP header truncated")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise CodecError(f"unsupported BMP header size {hdr_size}")
    w, h = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression not in (0, 3) or bpp not in (24, 32):
        raise CodecError(f"unsupported BMP: bpp={bpp} compression={compression}")
    top_down = h < 0
    h = abs(h)
    bytes_px = bpp // 8
    stride = (w * bytes_px + 3) & ~3
    need = stride * h
    body = payload[data_off : data_off + need]
    if len(body) < need:
        raise CodecError(f"BMP body truncated: {len(body)} < {need}")
    rows = np.frombuffer(body, dtype=np.uint8).reshape(h, stride)
    px = rows[:, : w * bytes_px].reshape(h, w, bytes_px)
    if not top_down:
        px = px[::-1]
    # BGR(A) storage → RGB
    return np.ascontiguousarray(px[:, :, 2::-1])


def encode_bmp(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit bottom-up BMP (test-fixture writer)."""
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    bgr = arr[:, :, ::-1]
    pad = b"\x00" * (stride - w * 3)
    for row in bgr[::-1]:
        body += row.astype(np.uint8).tobytes() + pad
    off = 14 + 40
    header = (
        b"BM"
        + struct.pack("<IHHI", off + len(body), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    )
    return header + bytes(body)


# ---------------------------------------------------------------------------
# WAV (PCM via stdlib wave)
# ---------------------------------------------------------------------------


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV → ((n_frames, n_channels) int array, sample_rate)."""
    try:
        with wave.open(io.BytesIO(payload), "rb") as f:
            rate = f.getframerate()
            nch = f.getnchannels()
            width = f.getsampwidth()
            frames = f.readframes(f.getnframes())
    # wave raises EOFError (not wave.Error) on empty/truncated chunks
    except (wave.Error, EOFError, struct.error) as e:
        raise CodecError(f"bad WAV payload: {e}") from e
    if width == 2:
        arr = np.frombuffer(frames, dtype="<i2")
    elif width == 1:
        arr = np.frombuffer(frames, dtype=np.uint8).astype(np.int16) - 128
    else:
        raise CodecError(f"unsupported WAV sample width {width}")
    return arr.reshape(-1, nch), rate


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """(n, ch) int16 → PCM WAV bytes (test-fixture writer)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(samples.shape[1])
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


# ---------------------------------------------------------------------------
# transforms
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# PNG (non-interlaced, 8-bit depth; gray / gray+alpha / RGB / RGBA /
# palette) — stdlib zlib inflate + numpy row unfiltering. The first
# COMPRESSED format the engine decodes with zero third-party deps.
# ---------------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunks(payload: bytes):
    pos = 8
    n = len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise CodecError("truncated PNG chunk")
        yield ctype, data
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IEND":
            return
    raise CodecError("PNG missing IEND")


def decode_png(payload: bytes) -> np.ndarray:
    """PNG → (h, w, ch) uint8. Supports bit depth 8, color types
    0/2/3/4/6, non-interlaced (Adam7 → CodecError). Palette images
    expand through PLTE to RGB.

    Every corrupt-payload failure surfaces as CodecError: the per-row
    handler in decode_image catches only CodecError, so a raw
    zlib.error / IndexError / ValueError from a malformed payload would
    otherwise kill the whole mapInPandas task — one bad PNG must never
    abort a scan."""
    import zlib

    try:
        return _decode_png_impl(payload)
    except CodecError:
        raise
    except (zlib.error, ValueError, IndexError, struct.error, OverflowError) as e:
        raise CodecError(f"corrupt PNG payload: {type(e).__name__}: {e}") from e


def _decode_png_impl(payload: bytes) -> np.ndarray:
    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise CodecError("not a PNG payload")
    w = h = None
    ctype_code = depth = interlace = None
    plte = None
    idat = bytearray()
    for ctype, data in _png_chunks(payload):
        if ctype == b"IHDR":
            w, h, depth, ctype_code, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
    if w is None:
        raise CodecError("PNG missing IHDR")
    if depth != 8:
        raise CodecError(f"unsupported PNG bit depth {depth}")
    if interlace:
        raise CodecError("interlaced (Adam7) PNG not supported")
    if ctype_code not in _PNG_CHANNELS:
        raise CodecError(f"unsupported PNG color type {ctype_code}")
    ch = _PNG_CHANNELS[ctype_code]
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise CodecError(
            f"PNG data size mismatch: {len(raw)} != {h * (stride + 1)}"
        )
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters = raw[:, 0]
    data = raw[:, 1:].astype(np.int16)  # headroom for filter arithmetic
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        f = filters[y]
        row = data[y]
        prev = out[y - 1].astype(np.int16) if y else np.zeros(stride, np.int16)
        if f == 0:  # None
            cur = row
        elif f == 1:  # Sub — sequential in x, vectorize per pixel column
            cur = row.copy()
            for x in range(ch, stride):
                cur[x] = (cur[x] + cur[x - ch]) & 0xFF
        elif f == 2:  # Up
            cur = (row + prev) & 0xFF
        elif f == 3:  # Average
            cur = row.copy()
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                cur[x] = (cur[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            cur = row.copy()
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise CodecError(f"unknown PNG filter {f}")
        out[y] = cur.astype(np.uint8)
    img = out.reshape(h, w, ch)
    if ctype_code == 3:
        if plte is None:
            raise CodecError("palette PNG missing PLTE")
        idx = img[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise CodecError(
                f"palette index {int(idx.max())} >= PLTE size {len(plte)}"
            )
        img = plte[idx]
    return img


def encode_png(arr: np.ndarray) -> bytes:
    """(h, w, 1|2|3|4) uint8 → PNG (filter 0 rows, one zlib stream)."""
    import zlib

    h, w, ch = arr.shape
    ctype_code = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    body = np.concatenate(
        [np.zeros((h, 1), np.uint8), arr.reshape(h, w * ch)], axis=1
    ).tobytes()

    def chunk(ctype: bytes, data: bytes) -> bytes:
        import binascii

        crc = binascii.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype_code, 0, 0, 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(body))
        + chunk(b"IEND", b"")
    )


def resize_nearest(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize: deterministic (no kernel choices), pure
    index arithmetic — identical on every platform."""
    h, w = arr.shape[:2]
    yi = (np.arange(height) * h // height).clip(0, h - 1)
    xi = (np.arange(width) * w // width).clip(0, w - 1)
    return arr[yi][:, xi]


def decode_image_array(payload: bytes) -> np.ndarray:
    """Dispatch decode by sniffed format; CodecError for unsupported
    variants or unknown formats (those fall to the Pillow-gated path)."""
    fmt = sniff_format(payload)
    if fmt == "ppm":
        return decode_ppm(payload)
    if fmt == "bmp":
        return decode_bmp(payload)
    if fmt == "png":
        return decode_png(payload)
    raise CodecError(f"no built-in decoder for format {fmt!r}")
