"""Multimodal column conventions: image/audio/video as opaque `binary`
columns with typed metadata, processed by Arrow-batched `mapInPandas`.

The container ships no image/audio codecs, so the DECODE step is stubbed
(deterministic fake features or NotImplementedError) — but everything
Spark-side is real and tested: schema convention, binary handling through
Arrow, batch shapes, and the executor-side feature extraction plumbing.

Convention: a multimodal table carries
    content   binary      -- raw bytes (or NULL when only a URI is known)
    meta      struct<mime string, n_bytes bigint, uri string>
Feature extraction appends typed feature columns per modality.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_FIELDS = "mime string, n_bytes bigint, uri string"


def attach_binary(
    df: DataFrame, *, source_col: str, mime: str, uri_col: str | None = None
) -> DataFrame:
    """Wrap a string/bytes column into the (content, meta) convention.
    (For the test corpus we treat utf-8 text bytes as the opaque payload.)
    """
    content = (
        F.col(source_col)
        if dict(df.dtypes).get(source_col) == "binary"
        else F.encode(F.col(source_col), "UTF-8")
    )
    uri = F.col(uri_col) if uri_col else F.lit(None).cast("string")
    return df.withColumn("content", content).withColumn(
        "meta",
        F.struct(
            F.lit(mime).alias("mime"),
            F.length(content).cast("bigint").alias("n_bytes"),
            uri.alias("uri"),
        ),
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type -> samples per pixel (8-bit, non-interlaced support)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, width: int, height: int, channels: int) -> bytes:
    """Undo PNG scanline filters (types 0-4). Pure stdlib; 8-bit samples."""
    stride = width * channels
    out = bytearray()
    pos = 0
    prev = bytearray(stride)
    for _ in range(height):
        ftype = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out += line
        prev = line
    return bytes(out)


def decode_image(content: bytes) -> dict:
    """Decode an image to {width, height, channels, pixels: bytes}.

    Fast path: Pillow, when installed (import-gated — not present in this
    container). Fallback: decode_image_pure, the zero-codec-dependency
    path. Both paths are exercised by tests/test_image_decode.py's
    parity test whenever Pillow IS importable (skip-marked otherwise),
    pinning byte-identical PNG pixels and bounded-error JPEG decode
    across the gate."""
    try:  # optional real-codec path
        import io

        from PIL import Image  # type: ignore

        img = Image.open(io.BytesIO(content))
        img.load()
        return {
            "width": img.width,
            "height": img.height,
            "channels": len(img.getbands()),
            "pixels": img.tobytes(),
        }
    except ImportError:
        pass
    return decode_image_pure(content)


def decode_image_pure(content: bytes) -> dict:
    """The dependency-free decode path: a pure-stdlib PNG decoder (struct
    header parse + zlib inflate + scanline unfilter, 8-bit non-interlaced
    gray/RGB/RGBA) and a pure-numpy baseline JPEG decoder
    (operators/jpeg.py: DQT/DHT parse, canonical Huffman entropy decode,
    dequant + IDCT, chroma upsample, YCbCr->RGB — verified against
    libjpeg-encoded files). Remaining formats (WebP, progressive JPEG)
    raise NotImplementedError with the reason."""
    import struct
    import zlib

    if content[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(content)
    if not content.startswith(_PNG_SIG):
        raise NotImplementedError(
            "only PNG/JPEG decode without a codec library (Pillow not installed)"
        )
    pos = len(_PNG_SIG)
    width = height = bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 8 <= len(content):
        (length,), ctype = struct.unpack(">I", content[pos : pos + 4]), content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8 or interlace != 0 or color_type not in _PNG_CHANNELS:
        raise NotImplementedError(
            f"stdlib PNG path supports 8-bit non-interlaced gray/RGB/RGBA; "
            f"got bit_depth={bit_depth} color_type={color_type} interlace={interlace}"
        )
    channels = _PNG_CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    return {
        "width": width,
        "height": height,
        "channels": channels,
        "pixels": _png_unfilter(raw, width, height, channels),
    }


def encode_png(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Minimal PNG writer (filter type 0 per scanline) — the test-side twin
    of decode_image's stdlib path; also handy for materializing synthetic
    fixtures anywhere without codec libraries."""
    import struct
    import zlib

    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    stride = width * channels
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_image_features(
    df: DataFrame, *, id_col: str, content_col: str = "content"
) -> DataFrame:
    """Decoded-pixel features via Arrow-batched mapInPandas: width, height,
    channels, mean pixel value. Uses decode_image per row (stdlib PNG path
    or Pillow); undecodable rows yield NULL features instead of failing the
    batch — at corpus scale a poison image must not kill the job."""
    idc, cc = id_col, content_col

    def decode_batches(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = {"id": [], "width": [], "height": [], "channels": [], "mean_px": []}
            for rid, b in zip(pdf[idc], pdf[cc]):
                rows["id"].append(rid)
                try:
                    d = decode_image(bytes(b))
                    px = d["pixels"]
                    rows["width"].append(d["width"])
                    rows["height"].append(d["height"])
                    rows["channels"].append(d["channels"])
                    rows["mean_px"].append(sum(px) / len(px) if px else None)
                except Exception:
                    for k in ("width", "height", "channels", "mean_px"):
                        rows[k].append(None)
            yield pd.DataFrame(rows)

    out_schema = "id long, width int, height int, channels int, mean_px double"
    out = df.select(F.col(idc), F.col(cc)).mapInPandas(decode_batches, out_schema)
    return out.withColumnRenamed("id", id_col)


def _resize_bilinear(
    pixels: bytes, sh: int, sw: int, channels: int, th: int, tw: int
) -> bytes:
    """Bilinear resample (pixel-center aligned) of interleaved uint8."""
    import numpy as np

    img = (
        np.frombuffer(pixels, dtype=np.uint8)
        .reshape(sh, sw, channels)
        .astype(np.float64)
    )
    ys = (np.arange(th) + 0.5) * sh / th - 0.5
    xs = (np.arange(tw) + 0.5) * sw / tw - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, sh - 1)
    y1 = np.clip(y0 + 1, 0, sh - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, sw - 1)
    x1 = np.clip(x0 + 1, 0, sw - 1)
    wy = np.clip(ys - y0, 0, 1)[:, None, None]
    wx = np.clip(xs - x0, 0, 1)[None, :, None]
    out = (
        img[y0][:, x0] * (1 - wy) * (1 - wx)
        + img[y1][:, x0] * wy * (1 - wx)
        + img[y0][:, x1] * (1 - wy) * wx
        + img[y1][:, x1] * wy * wx
    )
    return np.clip(np.round(out), 0, 255).astype(np.uint8).tobytes()


def resize_images(
    df: DataFrame,
    *,
    id_col: str,
    content_col: str = "content",
    width: int = 224,
    height: int = 224,
) -> DataFrame:
    """Image resize stage: (id, content, meta) -> (id, content, meta) with
    target dimensions recorded in meta.

    REAL for decodable content since round 4: decode (stdlib PNG /
    numpy JPEG / Pillow when present) -> bilinear resample to
    (width, height) -> PNG re-encode, mime `image/png`. Bytes that don't
    decode (the synthetic opaque-binary fixtures, unsupported formats)
    fall back to the deterministic byte-level stand-in with mime
    `application/octet-stream` — a poison image degrades, never kills the
    job. Production swaps the inner transform for Pillow/libvips; the
    Arrow plumbing is identical."""
    idc, cc = id_col, content_col
    target_len = width * height // 64  # stand-in size for undecodable bytes

    def resize_batches(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out_bytes, mimes = [], []
            for b in pdf[cc]:
                if b is None:
                    out_bytes.append(None)
                    mimes.append(None)
                    continue
                raw = bytes(b)
                try:
                    d = decode_image(raw)
                    px = _resize_bilinear(
                        d["pixels"], d["height"], d["width"], d["channels"],
                        height, width,
                    )
                    out_bytes.append(
                        encode_png(width, height, d["channels"], px)
                    )
                    mimes.append("image/png")
                except Exception:
                    out_bytes.append(
                        (raw * (target_len // max(len(raw), 1) + 1))[:target_len]
                    )
                    mimes.append("application/octet-stream")
            yield pd.DataFrame(
                {"id": pdf[idc], "content": out_bytes, "mime": mimes}
            )

    out_schema = "id long, content binary, mime string"
    resized = df.select(F.col(idc), F.col(cc)).mapInPandas(resize_batches, out_schema)
    return resized.withColumnRenamed("id", idc).select(
        idc,
        "content",
        F.struct(
            F.col("mime"),
            F.length("content").cast("bigint").alias("n_bytes"),
            F.lit(None).cast("string").alias("uri"),
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
        ).alias("meta"),
    )


def sample_frames(
    df: DataFrame,
    *,
    id_col: str,
    content_col: str = "content",
    every_n_bytes: int = 1024,
    max_frames: int = 8,
) -> DataFrame:
    """Video frame-sampling stage: one input row -> up to max_frames rows
    (id, frame_no, frame binary). Fan-out via mapInPandas so one oversized
    video never pins a single task's memory beyond its own frames. The
    frame *extraction* is a deterministic byte-window stand-in (codecs are
    stubbed, as decode_image); schema/fan-out/partitioning are real."""
    idc, cc = id_col, content_col

    def frame_batches(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, nos, frames = [], [], []
            for rid, b in zip(pdf[idc], pdf[cc]):
                if b is None:
                    continue
                raw = bytes(b)
                for fno in range(min(max_frames, max(1, len(raw) // every_n_bytes))):
                    ids.append(rid)
                    nos.append(fno)
                    frames.append(raw[fno * every_n_bytes : (fno + 1) * every_n_bytes])
            yield pd.DataFrame({"id": ids, "frame_no": nos, "frame": frames})

    out_schema = "id long, frame_no int, frame binary"
    out = df.select(F.col(idc), F.col(cc)).mapInPandas(frame_batches, out_schema)
    return out.withColumnRenamed("id", idc)


def extract_features(
    df: DataFrame, *, id_col: str, content_col: str = "content"
) -> DataFrame:
    """Executor-side feature extraction over binary content via mapInPandas
    (Arrow-batched). Features are deterministic byte-level stand-ins for the
    stubbed decoder: size, head bytes (hex), md5 digest.
    """
    idc, cc = id_col, content_col

    def feature_batches(batches) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in batches:
            contents = pdf[cc]
            yield pd.DataFrame(
                {
                    "id": pdf[idc],
                    "n_bytes": [len(b) if b is not None else 0 for b in contents],
                    "head_hex": [
                        (bytes(b)[:4].hex().upper() if b is not None else "")
                        for b in contents
                    ],
                    "digest": [
                        (hashlib.md5(bytes(b)).hexdigest() if b is not None else None)
                        for b in contents
                    ],
                }
            )

    out_schema = "id long, n_bytes bigint, head_hex string, digest string"
    feats = df.select(F.col(idc), F.col(cc)).mapInPandas(feature_batches, out_schema)
    return feats.withColumnRenamed("id", id_col)


# -- WAV (RIFF PCM) codec — stdlib/numpy only ------------------------------
# Same posture as the PNG decoder above and operators/jpeg.py: a REAL
# parser for a real container format, no codec library required, so the
# audio path stops being a stand-in. Malformed input raises ValueError
# (the decode_jpeg contract); unsupported-but-valid formats (float/ADPCM
# WAVs, 24-bit) raise NotImplementedError.


def encode_wav(
    n_channels: int, sample_rate: int, bit_depth: int, pcm: bytes
) -> bytes:
    """Minimal RIFF/WAVE writer (PCM 8/16/32-bit) — decode_wav's test twin;
    output is readable by any standards WAV reader."""
    import struct as _struct

    if bit_depth not in (8, 16, 32):
        raise ValueError("bit_depth must be 8, 16 or 32")
    block_align = n_channels * bit_depth // 8
    byte_rate = sample_rate * block_align
    fmt = _struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, byte_rate, block_align, bit_depth
    )
    body = (
        b"WAVE"
        + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
        + b"data" + _struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + _struct.pack("<I", len(body)) + body


def decode_wav(content: bytes) -> dict:
    """Decode a PCM WAV -> {n_channels, sample_rate, bit_depth, n_frames,
    duration_s, rms, peak} with rms/peak normalized to [-1, 1].

    Walks the RIFF chunk list (tolerating extra chunks like LIST/fact);
    truncated or malformed input raises ValueError, never struct.error."""
    import struct as _struct

    import numpy as np

    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a WAV (missing RIFF/WAVE header)")
    fmt = None
    data = None
    pos = 12
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        (clen,) = _struct.unpack("<I", content[pos + 4 : pos + 8])
        payload = content[pos + 8 : pos + 8 + clen]
        if len(payload) < clen:
            raise ValueError("truncated WAV: chunk payload past end of data")
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError("truncated WAV: short fmt chunk")
            fmt = _struct.unpack("<HHIIHH", payload[:16])
        elif cid == b"data":
            data = payload
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _rate, _align, bit_depth = fmt
    if audio_format != 1:
        raise NotImplementedError(
            f"only PCM WAV supported (audio format {audio_format})"
        )
    if bit_depth not in (8, 16, 32):
        raise NotImplementedError(f"{bit_depth}-bit PCM unsupported")
    if n_channels < 1 or sample_rate < 1:
        raise ValueError("WAV fmt declares zero channels or sample rate")
    bytes_per = bit_depth // 8
    frame_bytes = bytes_per * n_channels
    n_frames = len(data) // frame_bytes
    data = data[: n_frames * frame_bytes]
    if bit_depth == 8:  # 8-bit WAV is unsigned
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif bit_depth == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    else:
        x = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
    rms = float(np.sqrt(np.mean(x * x))) if x.size else 0.0
    peak = float(np.abs(x).max()) if x.size else 0.0
    return {
        "n_channels": int(n_channels),
        "sample_rate": int(sample_rate),
        "bit_depth": int(bit_depth),
        "n_frames": int(n_frames),
        "duration_s": n_frames / sample_rate,
        "rms": rms,
        "peak": peak,
    }


def audio_features(
    df: DataFrame, *, id_col: str, content_col: str = "content"
) -> DataFrame:
    """Executor-side WAV feature extraction via Arrow-batched mapInPandas:
    (id, n_channels, sample_rate, bit_depth, n_frames, duration_s, rms,
    peak, err) — err carries the ValueError text for undecodable rows
    (features NULL) so one bad file never fails the corpus pass."""
    idc, cc = id_col, content_col

    def audio_batches(batches) -> Iterator:
        import pandas as pd

        cols = (
            "n_channels", "sample_rate", "bit_depth", "n_frames",
            "duration_s", "rms", "peak",
        )
        for pdf in batches:
            rows = {c: [] for c in ("id", *cols, "err")}
            for rid, b in zip(pdf[idc], pdf[cc]):
                rows["id"].append(rid)
                try:
                    if b is None:
                        raise ValueError("null content")
                    feats = decode_wav(bytes(b))
                    for c in cols:
                        rows[c].append(feats[c])
                    rows["err"].append(None)
                except (ValueError, NotImplementedError) as e:
                    for c in cols:
                        rows[c].append(None)
                    rows["err"].append(str(e))
            yield pd.DataFrame(rows)

    out_schema = (
        "id long, n_channels int, sample_rate int, bit_depth int,"
        " n_frames bigint, duration_s double, rms double, peak double,"
        " err string"
    )
    feats = df.select(F.col(idc), F.col(cc)).mapInPandas(audio_batches, out_schema)
    return feats.withColumnRenamed("id", idc)


# -- AVI (RIFF) / MJPEG video codec — stdlib/numpy only --------------------
# Same posture as the WAV and PNG/JPEG paths: a REAL container parser for
# a real video format. MJPEG-in-AVI is the one mainstream video format
# whose frames need no inter-frame codec — every '00dc' chunk is a
# standalone baseline JPEG, which operators/jpeg.py already decodes — so
# the frame-extraction path stops being a byte-window stand-in.
# Malformed/truncated input raises ValueError (the decode_jpeg contract).


def encode_avi_mjpeg(
    width: int, height: int, fps: int, frames: list[bytes]
) -> bytes:
    """Minimal AVI writer with an MJPG video stream — decode_avi_mjpeg's
    test twin; standard enough that any AVI-aware tool can read it.
    `frames` are pre-encoded JPEG byte strings (operators/jpeg.encode_jpeg)."""
    import struct as _struct

    if fps < 1:
        raise ValueError("fps must be >= 1")
    max_frame = max((len(f) for f in frames), default=0)
    avih = _struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        max_frame * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX off, AVIF_WASCAPTUREFILE off; 0x10=HASINDEX — we write idx1
        len(frames),
        0,  # dwInitialFrames
        1,  # dwStreams
        max_frame,  # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,  # dwReserved
    )
    strh = (
        b"vids"
        + b"MJPG"
        + _struct.pack(
            "<IHHIIIIIIII",
            0,  # dwFlags
            0, 0,  # wPriority, wLanguage
            0,  # dwInitialFrames
            1, fps,  # dwScale, dwRate -> fps
            0,  # dwStart
            len(frames),  # dwLength
            max_frame,  # dwSuggestedBufferSize
            0xFFFFFFFF,  # dwQuality (default)
            0,  # dwSampleSize (0: variable)
        )
        + _struct.pack("<4H", 0, 0, width, height)  # rcFrame
    )
    strf = _struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", width * height * 3, 0, 0, 0, 0,
    )

    def chunk(cid: bytes, payload: bytes) -> bytes:
        return cid + _struct.pack("<I", len(payload)) + payload + (
            b"\x00" if len(payload) & 1 else b""
        )

    def lst(ltype: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", ltype + payload)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)
    movi_payload = b"".join(chunk(b"00dc", f) for f in frames)
    movi = lst(b"movi", movi_payload)
    # idx1: one entry per frame, offsets relative to the start of 'movi'
    # list payload (after the 'movi' fourcc), the common convention
    idx_entries = []
    off = 4
    for f in frames:
        idx_entries.append(
            b"00dc" + _struct.pack("<III", 0x10, off, len(f))  # AVIIF_KEYFRAME
        )
        off += 8 + len(f) + (len(f) & 1)
    idx1 = chunk(b"idx1", b"".join(idx_entries))
    riff_payload = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + _struct.pack("<I", len(riff_payload)) + riff_payload


def decode_avi_mjpeg(content: bytes) -> dict:
    """Parse an AVI container and return
    {width, height, fps, n_frames, frames: [jpeg bytes, ...]}.

    Walks the RIFF chunk tree (LIST recursion, word alignment, tolerant
    of extra chunks like JUNK/INFO/idx1); collects the video stream's
    '..dc'/'..db' frame chunks in file order. Truncated or structurally
    malformed input raises ValueError — never struct.error/IndexError."""
    import struct as _struct

    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("not an AVI (missing RIFF/AVI header)")
    (riff_len,) = _struct.unpack("<I", content[4:8])
    if riff_len + 8 > len(content) + 1:  # +1: tolerate missing final pad
        raise ValueError("truncated AVI: RIFF size past end of data")

    meta = {"width": None, "height": None, "fps": None, "n_frames": None}
    frames: list[bytes] = []

    def walk(buf: bytes, pos: int, end: int) -> None:
        while pos + 8 <= end:
            cid = buf[pos : pos + 4]
            (clen,) = _struct.unpack("<I", buf[pos + 4 : pos + 8])
            body_end = pos + 8 + clen
            if body_end > end:
                raise ValueError("truncated AVI: chunk payload past end")
            if cid == b"LIST":
                if clen < 4:
                    raise ValueError("truncated AVI: short LIST")
                walk(buf, pos + 12, body_end)
            elif cid == b"avih":
                if clen < 40:
                    raise ValueError("truncated AVI: short avih")
                vals = _struct.unpack("<10I", buf[pos + 8 : pos + 48])
                meta["n_frames"] = vals[4]
                meta["width"], meta["height"] = vals[8], vals[9]
                if vals[0] > 0:
                    meta["fps"] = round(1_000_000 / vals[0])
            elif cid == b"strh":
                if clen < 40:
                    raise ValueError("truncated AVI: short strh")
                if buf[pos + 8 : pos + 12] == b"vids":
                    scale, rate = _struct.unpack(
                        "<II", buf[pos + 28 : pos + 36]
                    )
                    if scale > 0 and rate > 0:
                        meta["fps"] = round(rate / scale)
            elif len(cid) == 4 and cid[2:4] in (b"dc", b"db"):
                frames.append(bytes(buf[pos + 8 : body_end]))
            pos = body_end + (clen & 1)

    walk(content, 12, min(len(content), riff_len + 8))
    if meta["width"] is None:
        raise ValueError("AVI missing avih header")
    return {
        "width": meta["width"],
        "height": meta["height"],
        "fps": meta["fps"] or 0,
        "n_frames": len(frames),
        "frames": frames,
    }


def extract_frames_mjpeg(
    df: DataFrame,
    *,
    id_col: str,
    content_col: str = "content",
    every_k: int = 1,
    max_frames: int = 8,
) -> DataFrame:
    """REAL video frame sampling: parse each AVI container, keep every
    k-th frame up to max_frames, emit (id, frame_no, width, height, fps,
    n_frames, frame) — `frame` is the standalone JPEG, ready for
    decode_image_features / operators/jpeg.decode_jpeg downstream.
    Arrow-batched mapInPandas fan-out (one row -> frames), same shape as
    sample_frames; rows whose bytes aren't a parseable AVI are dropped
    (the error-quarantine variant belongs in the sink path)."""
    idc, cc = id_col, content_col
    k = max(1, every_k)

    def gen(batches) -> Iterator:
        import pandas as pd

        from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.multimodal import (
            decode_avi_mjpeg,
        )

        for pdf in batches:
            ids, nos, ws, hs, fpss, nfs, blobs = [], [], [], [], [], [], []
            for rid, b in zip(pdf[idc], pdf[cc]):
                if b is None:
                    continue
                try:
                    v = decode_avi_mjpeg(bytes(b))
                except ValueError:
                    continue
                for fno, fr in list(enumerate(v["frames"]))[::k][:max_frames]:
                    ids.append(rid)
                    nos.append(fno)
                    ws.append(v["width"])
                    hs.append(v["height"])
                    fpss.append(v["fps"])
                    nfs.append(v["n_frames"])
                    blobs.append(fr)
            yield pd.DataFrame(
                {
                    "id": ids, "frame_no": nos, "width": ws, "height": hs,
                    "fps": fpss, "n_frames": nfs, "frame": blobs,
                }
            )

    out_schema = (
        "id long, frame_no int, width int, height int, fps int,"
        " n_frames int, frame binary"
    )
    out = df.select(F.col(idc), F.col(cc)).mapInPandas(gen, out_schema)
    return out.withColumnRenamed("id", idc)


def dhash64_features(
    df, id_col: str = "doc_id", content_col: str = "content"
):
    """Perceptual difference-hash (dHash) per image: decode -> grayscale
    -> area-downsample to a 9x8 grid -> one bit per horizontal neighbor
    comparison -> 64-bit signature (id, sh). The standard cheap
    image-near-dup fingerprint: resizing/recompression/brightness jitter
    barely move the downsampled gradient signs, so near-dup frames land
    within a few hamming bits while unrelated images sit near 32. The
    (id, sh) output plugs directly into the banded-hamming pair join
    (operators/dedup.py::simhash_near_pairs signatures=...) — image
    dedup reuses the text-sketch blocking machinery unchanged.
    Arrow-batched; decode errors yield NULL (poison rows never fail the
    job)."""

    def batches(it):
        import numpy as np
        import pandas as pd

        def one(content):
            d = decode_image_pure(bytes(content))
            w, h, ch = d["width"], d["height"], d["channels"]
            px = np.frombuffer(d["pixels"], dtype=np.uint8).reshape(h, w, ch)
            gray = px.mean(axis=2, dtype="float64")
            # area-pool to 8 rows x 9 cols via bin-boundary splits (exact
            # block mean when divisible, near-area otherwise)
            ys = np.linspace(0, h, 9, dtype=int)
            xs = np.linspace(0, w, 10, dtype=int)
            cells = np.empty((8, 9))
            for yy in range(8):
                for xx in range(9):
                    cells[yy, xx] = gray[
                        ys[yy] : ys[yy + 1], xs[xx] : xs[xx + 1]
                    ].mean()
            bits = 0
            for yy in range(8):
                for xx in range(8):
                    if cells[yy, xx] > cells[yy, xx + 1]:
                        bits |= 1 << (yy * 8 + xx)
            return bits - (1 << 64) if bits >= (1 << 63) else bits

        for pdf in it:
            out = []
            for content in pdf["content"]:
                try:
                    out.append(one(content))
                except Exception:
                    out.append(None)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "sh": out})

    return df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(content_col).alias("content"),
    ).mapInPandas(batches, "id long, sh long")
