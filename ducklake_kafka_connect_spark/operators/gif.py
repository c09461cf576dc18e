"""GIF codec (87a/89a) — stdlib + numpy only.

Gives the multimodal "video" slot a REAL animated container: frames
decode to (n, h, w, 3) uint8 plus per-frame delays, so frame sampling
(`multimodal.sample_frames`) can run against actual pixel data instead
of metadata arithmetic. Both directions:

- :func:`decode_gif` — variable-width LSB-first LZW, global/local
  palettes, interlaced images, transparency + disposal compositing,
  animation loops (NETSCAPE app extension skipped as opaque).
- :func:`encode_gif` — palette-exact encoder (≤256 distinct colors —
  the deterministic choice: no quantizer to disagree about), proper
  growing-dictionary LZW with clear-code resets, optional per-frame
  delays; output is standard GIF89a any decoder reads.

Corrupt payloads raise CodecError only (same mapInPandas-safety
contract as decode_png). Reference scope: beyond-parity
multimodal surface (the Kafka connector has no media codecs).
"""

from __future__ import annotations

import struct

import numpy as np

from .codecs import CodecError

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(payload: bytes) -> tuple[np.ndarray, list[int]]:
    """GIF bytes → ((n_frames, h, w, 3) uint8, [delay_ms per frame])."""
    try:
        return _decode_gif_impl(payload)
    except CodecError:
        raise
    except (IndexError, ValueError, KeyError, struct.error, OverflowError) as e:
        raise CodecError(f"corrupt GIF payload: {type(e).__name__}: {e}") from e


def _decode_gif_impl(payload: bytes):
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise CodecError("not a GIF payload")
    w, h, flags, _bg, _aspect = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 ** ((flags & 0x07) + 1)
        gct = np.frombuffer(payload[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
        pos += 3 * n
    if w == 0 or h == 0:
        raise CodecError("zero-dimension GIF")

    frames: list[np.ndarray] = []
    delays: list[int] = []
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    # "Restore to background" (disposal 2) fills the frame region with the
    # logical screen's declared background color; black when the header
    # names no usable palette entry.
    if gct is not None and _bg < len(gct):
        bg_rgb = gct[_bg]
    else:
        bg_rgb = np.zeros(3, dtype=np.uint8)
    transparent = None
    delay_ms = 0
    disposal = 0

    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = payload[pos]
            pos += 1
            if label == 0xF9:  # graphics control
                size = payload[pos]
                gflags = payload[pos + 1]
                delay_ms = struct.unpack("<H", payload[pos + 2 : pos + 4])[0] * 10
                tidx = payload[pos + 4]
                transparent = tidx if gflags & 0x01 else None
                disposal = (gflags >> 2) & 0x07
                pos += 1 + size
            else:  # app / comment / plain text: skip sub-blocks
                while True:
                    size = payload[pos]
                    pos += 1
                    if size == 0:
                        break
                    pos += size
            # skip the block terminator for GCE (it has sub-block form)
            if label == 0xF9:
                if payload[pos] != 0:
                    raise CodecError("malformed graphics control extension")
                pos += 1
        elif block == 0x2C:  # image descriptor
            il, it, iw, ih, iflags = struct.unpack("<HHHHB", payload[pos : pos + 9])
            pos += 9
            table = gct
            if iflags & 0x80:
                n = 2 ** ((iflags & 0x07) + 1)
                table = np.frombuffer(
                    payload[pos : pos + 3 * n], dtype=np.uint8
                ).reshape(-1, 3)
                pos += 3 * n
            if table is None:
                raise CodecError("GIF image without a color table")
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while True:
                size = payload[pos]
                pos += 1
                if size == 0:
                    break
                data += payload[pos : pos + size]
                pos += size
            idx = _lzw_decode(bytes(data), min_code, iw * ih)
            idx = np.array(idx, dtype=np.int32).reshape(ih, iw)
            if iflags & 0x40:  # interlaced
                out = np.empty_like(idx)
                src = 0
                for start, step in _INTERLACE_PASSES:
                    rows = range(start, ih, step)
                    for r in rows:
                        out[r] = idx[src]
                        src += 1
                idx = out
            if int(idx.max(initial=0)) >= len(table):
                raise CodecError("GIF pixel index beyond palette")
            # Disposal applies AFTER the frame carrying the GCE is shown
            # (GIF89a spec 23.c): render onto the live canvas, emit the
            # composite, THEN dispose to prepare the next frame's base.
            before = canvas.copy()
            region = canvas[it : it + ih, il : il + iw]
            if region.shape[:2] != (ih, iw):
                raise CodecError("GIF frame region outside canvas")
            rgb = table[idx]
            if transparent is not None:
                mask = idx != transparent
                region[mask] = rgb[mask]
            else:
                region[:] = rgb
            frames.append(canvas.copy())
            delays.append(delay_ms)
            if disposal == 2:  # restore to background color
                canvas[it : it + ih, il : il + iw] = bg_rgb
            elif disposal == 3:  # restore to previous: pre-frame canvas
                canvas = before
            transparent = None
            delay_ms = 0
            disposal = 0
        else:
            raise CodecError(f"unknown GIF block 0x{block:02x}")
    if not frames:
        raise CodecError("GIF with no image data")
    return np.stack(frames), delays


def _lzw_decode(data: bytes, min_code: int, expected: int) -> list[int]:
    if not (2 <= min_code <= 8):
        raise CodecError(f"bad LZW min code size {min_code}")
    clear = 1 << min_code
    eoi = clear + 1
    out: list[int] = []
    # bit reader, LSB first
    acc = 0
    nbits = 0
    di = 0
    code_size = min_code + 1
    table: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    prev: list[int] | None = None

    def read_code():
        nonlocal acc, nbits, di
        while nbits < code_size:
            if di >= len(data):
                return None
            acc |= data[di] << nbits
            nbits += 8
            di += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        return code

    while len(out) < expected:
        code = read_code()
        if code is None or code == eoi:
            break
        if code == clear:
            table = [[i] for i in range(clear)] + [[], []]
            code_size = min_code + 1
            prev = None
            continue
        if prev is None:
            if code >= len(table) or not table[code]:
                raise CodecError("bad first LZW code")
            entry = table[code]
        elif code < len(table) and table[code]:
            entry = table[code]
            table.append(prev + [entry[0]])
        elif code == len(table):
            entry = prev + [prev[0]]
            table.append(entry)
        else:
            raise CodecError("LZW code out of range")
        out.extend(entry)
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
    if len(out) < expected:
        raise CodecError(f"LZW stream short: {len(out)} < {expected}")
    return out[:expected]


def _lzw_encode(indices: np.ndarray, min_code: int) -> bytes:
    clear = 1 << min_code
    eoi = clear + 1
    code_size = min_code + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    buf = b""
    for v in indices.ravel().tolist():
        nxt = buf + bytes([v])
        if nxt in table:
            buf = nxt
            continue
        emit(table[buf])
        table[nxt] = next_code
        next_code += 1
        if next_code > (1 << code_size) and code_size < 12:
            code_size += 1
        if next_code >= 4096:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            code_size = min_code + 1
        buf = bytes([v])
    if buf:
        emit(table[buf])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(
    frames: np.ndarray, delays_ms: list[int] | int = 100
) -> bytes:
    """(n, h, w, 3) or (h, w, 3) uint8 → GIF89a bytes. All frames
    together must use ≤256 distinct colors (palette-exact — callers
    quantize upstream if needed). ``delays_ms`` is one int or a
    per-frame list (rounded down to 10 ms GIF ticks)."""
    if frames.ndim == 3:
        frames = frames[None]
    if frames.ndim != 4 or frames.shape[3] != 3:
        raise CodecError(f"encode_gif expects (n,h,w,3), got {frames.shape}")
    n, h, w, _ = frames.shape
    if n == 0 or h == 0 or w == 0:
        raise CodecError("empty GIF input")
    flat = frames.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise CodecError(
            f"encode_gif is palette-exact: {len(palette)} colors > 256"
        )
    # pad palette to a power of two ≥ 4
    depth = max(2, int(np.ceil(np.log2(max(2, len(palette))))))
    size = 1 << depth
    pal = np.zeros((size, 3), dtype=np.uint8)
    pal[: len(palette)] = palette
    idx_frames = inverse.reshape(n, h, w).astype(np.int32)
    if isinstance(delays_ms, int):
        delays_ms = [delays_ms] * n
    if len(delays_ms) != n:
        raise CodecError("delays_ms length != frame count")

    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0x80 | ((depth - 1) & 0x07), 0, 0)
    out += pal.tobytes()
    for fi in range(n):
        out += b"\x21\xf9\x04"
        out += bytes([0x00])  # no transparency, disposal 0
        out += struct.pack("<H", max(0, delays_ms[fi] // 10))
        out += b"\x00\x00"  # transparent idx, terminator
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        min_code = max(2, depth)
        out += bytes([min_code])
        lzw = _lzw_encode(idx_frames[fi], min_code)
        for off in range(0, len(lzw), 255):
            chunk = lzw[off : off + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)
