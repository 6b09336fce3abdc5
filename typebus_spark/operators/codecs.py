"""Pure-stdlib media codecs — the REAL decode path for
``operators.multimodal`` (``decoder="real"``).

This container has no PIL/ffmpeg/librosa, but PNG and WAV need none:
PNG is zlib (stdlib) + per-scanline unfiltering (RFC 2083 filters 0-4,
all implemented), WAV is RIFF framing (stdlib ``wave``). These decoders
run INSIDE the Arrow-batched ``mapInPandas`` stages on executors — the
same data flow a production PIL/ffmpeg decoder would use; only the
per-item codec call swaps. They are written for correctness and
auditability, not speed: production swaps in a native codec callable
through the same ``decoder=`` seam.

Unsupported formats raise ``NotImplementedError`` (captured per-row by
the decode stage's never-stop supervision — C2 parity,
reference typebus/src/main/scala/io/surfkit/typebus/bus/Publisher.scala
style error envelopes), so a mixed-modality 100 TB table degrades to
per-row decode_error strings, never a task failure.

Parity note: the reference event bus treats payloads as opaque Avro
bytes (event/package.scala:166-169); decoding media payloads is a
north-star extension, not reference behavior.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 6: 4}  # grayscale, RGB, RGBA (bit depth 8)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(
    pixels: bytes,
    width: int,
    height: int,
    color_type: int = 2,
    filters: list[int] | None = None,
) -> bytes:
    """Minimal PNG writer (bit depth 8, no interlace) — exists so tests
    and fixtures can round-trip the decoder against known pixel arrays.
    ``filters`` optionally pins the per-scanline filter type (0-4) so
    every unfilter branch is exercised; default cycles through all 5.
    """
    ch = _CHANNELS[color_type]
    stride = width * ch
    if len(pixels) != stride * height:
        raise ValueError(f"need {stride * height} pixel bytes, got {len(pixels)}")
    if filters is None:
        filters = [y % 5 for y in range(height)]
    raw = bytearray()
    prior = bytes(stride)
    for y in range(height):
        line = pixels[y * stride : (y + 1) * stride]
        f = filters[y]
        raw.append(f)
        for i in range(stride):
            a = line[i - ch] if i >= ch else 0
            b = prior[i]
            c = prior[i - ch] if i >= ch else 0
            if f == 0:
                v = line[i]
            elif f == 1:
                v = line[i] - a
            elif f == 2:
                v = line[i] - b
            elif f == 3:
                v = line[i] - (a + b) // 2
            elif f == 4:
                v = line[i] - _paeth(a, b, c)
            else:
                raise ValueError(f"bad filter {f}")
            raw.append(v & 0xFF)
        prior = line

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 9))
        + chunk(b"IEND", b"")
    )


def decode_png(blob: bytes) -> dict:
    """Decode a PNG to raw pixel bytes: ``{width, height, channels,
    pixels}`` with ``pixels`` the unfiltered scanline bytes
    (row-major, ``channels`` bytes per pixel).

    Supports the common subset: bit depth 8, color types 0/2/6, no
    interlace — anything else raises ``NotImplementedError`` with the
    variant named (the decode stage captures it per-row).
    """
    if blob is None or len(blob) < 8 or blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(blob):
        (length,) = struct.unpack_from(">I", blob, pos)
        tag = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", blob, pos + 8 + length)
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat.extend(data)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or color_type not in _CHANNELS:
        raise NotImplementedError(
            f"unsupported PNG variant: bit depth {depth}, color type {color_type}"
        )
    if comp != 0 or filt != 0 or interlace != 0:
        raise NotImplementedError(
            f"unsupported PNG variant: compression={comp} filter={filt} "
            f"interlace={interlace}"
        )
    ch = _CHANNELS[color_type]
    stride = width * ch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG pixel data length mismatch")
    out = bytearray(stride * height)
    prior = bytes(stride)
    for y in range(height):
        f = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        rec = out  # reconstruct in place
        base = y * stride
        for i in range(stride):
            a = rec[base + i - ch] if i >= ch else 0
            b = prior[i]
            c = prior[i - ch] if i >= ch else 0
            if f == 0:
                v = line[i]
            elif f == 1:
                v = line[i] + a
            elif f == 2:
                v = line[i] + b
            elif f == 3:
                v = line[i] + (a + b) // 2
            elif f == 4:
                v = line[i] + _paeth(a, b, c)
            else:
                raise ValueError(f"bad PNG filter type {f}")
            rec[base + i] = v & 0xFF
        prior = bytes(out[base : base + stride])
    return {
        "width": width,
        "height": height,
        "channels": ch,
        "pixels": bytes(out),
    }


def encode_wav(
    samples: list[int],
    sample_rate: int = 8000,
    n_channels: int = 1,
    sampwidth: int = 2,
) -> bytes:
    """Minimal WAV writer (PCM int) for tests/fixtures; ``samples`` is
    interleaved."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(sampwidth)
        w.setframerate(sample_rate)
        fmt = {1: "b", 2: "h", 4: "i"}[sampwidth]
        w.writeframes(struct.pack(f"<{len(samples)}{fmt}", *samples))
    return buf.getvalue()


def decode_wav(blob: bytes) -> dict:
    """Decode a RIFF/WAV blob: ``{sample_rate, n_channels, sampwidth,
    n_samples, samples}`` with ``samples`` the interleaved PCM ints."""
    if blob is None:
        raise ValueError("null blob")
    with wave.open(io.BytesIO(blob), "rb") as w:
        n_channels = w.getnchannels()
        sampwidth = w.getsampwidth()
        sample_rate = w.getframerate()
        n_frames = w.getnframes()
        raw = w.readframes(n_frames)
    if sampwidth not in (1, 2, 4):
        raise NotImplementedError(f"unsupported WAV sample width {sampwidth}")
    fmt = {1: "b", 2: "h", 4: "i"}[sampwidth]
    n = len(raw) // sampwidth
    samples = list(struct.unpack(f"<{n}{fmt}", raw[: n * sampwidth]))
    return {
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "sampwidth": sampwidth,
        "n_samples": n_frames,
        "samples": samples,
    }


def _segment_means(vals, n_seg: int = 8) -> list[float]:
    """n_seg contiguous-segment means — the deterministic 'feature
    vector' of the real decode path (exact rational arithmetic, rounded
    once; engine-independent because the oracle pins frozen literals)."""
    if not len(vals):
        return [0.0] * n_seg
    n = len(vals)
    out = []
    for s in range(n_seg):
        lo, hi = s * n // n_seg, (s + 1) * n // n_seg
        seg = vals[lo:hi] if hi > lo else vals[lo : lo + 1]
        out.append(round(sum(seg) / len(seg), 6))
    return out


def real_decode(blob: bytes, mime: str) -> dict:
    """The ``decoder="real"`` callable for ``decode_media`` — dispatches
    on MIME and maps each modality onto the stage's uniform
    (width, height, n_frames, features) schema:

    - ``image/png``: pixel dims, n_frames=1, features = 8 segment means
      of the unfiltered pixel bytes / 255.
    - ``audio/wav`` (+ x-wav/wave): width = n_channels, height = bit
      depth, n_frames = SAMPLE COUNT (duration = n_frames/sample_rate),
      features = 8 segment means of |sample|/2^(bits-1).

    Any other MIME raises ``NotImplementedError`` — captured per-row as
    ``decode_error`` by the stage, never task-fatal.
    """
    if blob is None:
        raise ValueError("null blob")
    if mime == "image/png":
        d = decode_png(blob)
        return {
            "width": d["width"],
            "height": d["height"],
            "n_frames": 1,
            "features": _segment_means([b / 255.0 for b in d["pixels"]]),
        }
    if mime in ("audio/wav", "audio/x-wav", "audio/wave"):
        d = decode_wav(blob)
        full = float(1 << (8 * d["sampwidth"] - 1))
        return {
            "width": d["n_channels"],
            "height": 8 * d["sampwidth"],
            "n_frames": d["n_samples"],
            "features": _segment_means([abs(s) / full for s in d["samples"]]),
        }
    raise NotImplementedError(f"unsupported mime {mime!r} (real decoder)")


def average_hash(blob: bytes, mime: str = "image/png", hash_size: int = 8) -> str:
    """64-bit perceptual average-hash (aHash) of a real image, as a
    16-char hex string: decode, integer-grayscale (mean of the first
    ≤3 channels), nearest-neighbor sample to ``hash_size``², then one
    bit per cell — 1 iff the cell is strictly brighter than the mean
    (compared in exact integers, ``v·n > Σv``, so no float rounding).

    Hex-string output on purpose: the natural value exceeds int64
    (``1 << 63`` — the known BIGINT overflow trap), hex is portable
    across engines, and band-splitting for LSH bucketing is a substring
    (4 bands × 4 hex chars = 16-bit bands, the simhash pattern).

    Scale-invariant by construction for integer nearest-neighbor
    upscales: floor index algebra gives ((a·f) div 8) div f = a div 8,
    pinned by test. Unsupported MIME raises (captured per-row by the
    stage)."""
    if mime != "image/png":
        raise NotImplementedError(f"unsupported mime {mime!r} (ahash)")
    d = decode_png(blob)
    w, h, ch, px = d["width"], d["height"], d["channels"], d["pixels"]
    use = min(ch, 3)  # ignore alpha
    vals = []
    for oy in range(hash_size):
        sy = oy * h // hash_size
        for ox in range(hash_size):
            sx = ox * w // hash_size
            base = (sy * w + sx) * ch
            vals.append(sum(px[base : base + use]) // use)
    total = sum(vals)
    n = len(vals)
    bits = 0
    for v in vals:
        bits = (bits << 1) | (1 if v * n > total else 0)
    return format(bits, f"0{hash_size * hash_size // 4}x")


def fit_box(w: int, h: int, max_w: int, max_h: int) -> tuple[int, int]:
    """Aspect-fit ``w`` × ``h`` into a ``max_w`` × ``max_h`` box:
    unchanged when it already fits, else the limiting side takes the
    box edge and the other scales by exact integer floor division
    (min 1) — engine-portable, mirrored by the resize oracles' SQL."""
    if w <= max_w and h <= max_h:
        return w, h
    if w * max_h >= h * max_w:  # width-limited
        return max_w, max(1, h * max_w // w)
    return max(1, w * max_h // h), max_h


def real_resize(blob: bytes, mime: str, max_w: int, max_h: int) -> dict:
    """The ``decoder="real"`` fused decode+resize for ``resize_media``:
    real pixels, real nearest-neighbor downsample, sha over the RESIZED
    pixel bytes (so the hash witnesses actual resampling, not just the
    target dims). Aspect-fit is ``fit_box``, shared with the stub
    path."""
    if mime != "image/png":
        raise NotImplementedError(f"unsupported mime {mime!r} (real resize)")
    d = decode_png(blob)
    w, h, ch, px = d["width"], d["height"], d["channels"], d["pixels"]
    ow, oh = fit_box(w, h, max_w, max_h)
    out = bytearray(ow * oh * ch)
    for oy in range(oh):
        sy = oy * h // oh
        src_row = sy * w * ch
        dst_row = oy * ow * ch
        for ox in range(ow):
            sx = ox * w // ow
            out[dst_row + ox * ch : dst_row + (ox + 1) * ch] = px[
                src_row + sx * ch : src_row + (sx + 1) * ch
            ]
    sha = hashlib.sha256(bytes(out) + f"|{ow}x{oh}".encode()).hexdigest()
    return {
        "width": w,
        "height": h,
        "out_w": ow,
        "out_h": oh,
        "resized_sha": sha,
    }
