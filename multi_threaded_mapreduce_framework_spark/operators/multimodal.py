"""Multimodal (image/audio/video) column plumbing.

Media is modeled the way a 100 TB training-data lake stores it: an
opaque ``binary`` payload column plus typed metadata, processed with
Arrow-batched ``mapInPandas`` so payload bytes never take the
row-at-a-time Python path.

Every kernel decodes real bytes with no codec library, so each runs
end to end in any environment: WAV audio through stdlib ``wave`` and
numpy, P6 PPM and PNG images through :func:`_parse_image` (the raw-RGB
format read directly; PNG through stdlib ``zlib``), and raw video as a
concatenated-P6 stream (ffmpeg ``image2pipe``'s ppm format).  The
container is read from the payload's magic bytes, never from the
metadata; a payload in any other container raises ``ValueError``.  A
row whose payload is null carries no media, so no kernel emits a row
for it.

Schema convention::

    media_id  bigint
    kind      string            -- 'image' | 'audio' | 'video'
    payload   binary            -- encoded bytes (opaque)
    meta      struct<width:int, height:int, format:string,
                     duration_ms:int, sample_rate:int>

At scale: payloads dominate bytes, so operators below select only the
columns they need (column pruning keeps untouched payloads out of I/O
when metadata-only queries run), and every kernel is a mapInPandas pass
— embarrassingly parallel, no shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

if TYPE_CHECKING:
    import pandas as pd

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "meta struct<width:int, height:int, format:string, "
    "duration_ms:int, sample_rate:int>"
)


def _payload_rows(df: DataFrame, kind: str | None = None) -> DataFrame:
    """The rows a kernel reads: those with a payload, of ``kind`` when
    one is given.  A null payload is a row with no media."""
    has_payload = F.col("payload").isNotNull()
    if kind is None:
        return df.filter(has_payload)
    return df.filter((F.col("kind") == kind) & has_payload)


def _parse_ppm_at(raw: bytes, start: int = 0):
    """Real P6 PPM parse at ``start`` -> (width, height, HxWx3 uint8
    pixel array, offset past this frame).  The offset return is what
    makes concatenated-P6 STREAMS (ffmpeg image2pipe's ppm format)
    walkable frame by frame."""
    import numpy as np

    if raw[start : start + 2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header: 'P6' <ws> width <ws> height <ws> maxval <single-ws> pixels
    fields: list[int] = []
    pos = start + 2
    while len(fields) < 3:
        while raw[pos : pos + 1].isspace():
            pos += 1
        if raw[pos : pos + 1] == b"#":  # comment to end of line
            pos = raw.index(b"\n", pos) + 1
            continue
        end = pos
        while not raw[end : end + 1].isspace():
            end += 1
        fields.append(int(raw[pos:end]))
        pos = end
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        # P6 with maxval > 255 is 2 bytes/sample big-endian and < 255
        # rescales — both would be silently mis-decoded by the 1-byte
        # reader below, so reject loudly instead
        raise ValueError(f"only 8-bit P6 PPM supported (maxval=255), got {maxval}")
    pixels = np.frombuffer(raw, dtype=np.uint8, count=w * h * 3, offset=pos)
    return w, h, pixels.reshape(h, w, 3), pos + w * h * 3


def _parse_ppm(raw: bytes):
    """Real P6 PPM parse -> (width, height, HxWx3 uint8 pixel array).

    P6 is raw 8-bit RGB behind an ASCII header — a genuine on-disk image
    format decodable without any codec library.
    """
    w, h, px, _ = _parse_ppm_at(raw, 0)
    return w, h, px


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9.4): nearest of left/up/up-left to
    the linear estimate a + b - c, ties resolved left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _parse_png(raw: bytes):
    """Real PNG parse -> (width, height, HxWx3 uint8 pixel array) using
    only stdlib zlib + numpy — no codec library.

    Supports the mainline still-image profile: 8-bit depth, color types
    0 (gray), 2 (RGB), 6 (RGBA, alpha dropped), all five scanline
    filters, no interlace.
    Anything else (16-bit, palette, Adam7) raises ValueError rather
    than misdecoding.
    """
    import struct as _struct
    import zlib

    import numpy as np

    if not raw.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(raw):
        (length,) = _struct.unpack_from(">I", raw, pos)
        ctype = raw[pos + 4 : pos + 8]
        data = raw[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + payload + crc
        if ctype == b"IHDR":
            ihdr = _struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR chunk")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color not in (0, 2, 6) or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG profile (depth={depth} color={color} "
            f"interlace={interlace}); only 8-bit gray/RGB/RGBA non-interlaced"
        )
    channels = {0: 1, 2: 3, 6: 4}[color]
    stride = w * channels
    flat = zlib.decompress(bytes(idat))
    if len(flat) != h * (stride + 1):
        raise ValueError("PNG IDAT length does not match dimensions")
    raster = np.frombuffer(flat, dtype=np.uint8).reshape(h, stride + 1)
    if not raster[:, 0].any():
        # vectorized fast path: every scanline is filter 0 (None), so
        # the raster IS the pixel data — no per-row reconstruction.
        # This is the hot path for engine-synthesized payloads (q172
        # encodes with all-zero filters); mixed-filter payloads take
        # the general per-row loop below.
        out = raster[:, 1:]
        px = out.reshape(h, w, channels)
        if color == 6:
            px = px[:, :, :3]
        elif color == 0:
            px = np.repeat(px, 3, axis=2)
        return w, h, px
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = channels
    p = 0
    for y in range(h):
        ftype = flat[p]
        cur = np.frombuffer(flat, np.uint8, stride, p + 1).copy()
        p += 1 + stride
        if ftype == 0:
            pass
        elif ftype == 2:  # Up — vectorized, uint8 addition wraps mod 256
            cur += prev
        elif ftype in (1, 3, 4):  # Sub/Average/Paeth carry a left
            # dependency, so reconstruct serially
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    pred = _paeth(a, b, c)
                cur[x] = (int(cur[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = cur
        prev = cur
    px = out.reshape(h, w, channels)
    if color == 6:
        px = px[:, :, :3]  # drop alpha, keep raw RGB bytes
    elif color == 0:
        px = np.repeat(px, 3, axis=2)  # gray -> RGB replication
    return w, h, px


def _parse_image(raw: bytes):
    """Real image parse -> (format, width, height, HxWx3 uint8 pixel
    array), the container read from the magic bytes: ``'ppm'`` for P6,
    ``'png'`` for the PNG signature.  Any other container raises
    ValueError."""
    if raw.startswith(b"P6"):
        return ("ppm", *_parse_ppm(raw))
    if raw.startswith(_PNG_SIG):
        return ("png", *_parse_png(raw))
    raise ValueError("unknown media container: not a P6 PPM or PNG image")


def encode_png(px, filters=None) -> bytes:
    """Minimal stdlib PNG encoder (8-bit RGB, non-interlaced): the
    counterpart of :func:`_parse_png` used to synthesize GENUINE
    decodable payloads. ``filters`` picks the per-row filter type
    (default all 0); passing 0..4 per row exercises every unfilter
    branch of the decoder against independently-computed bytes."""
    import struct as _struct
    import zlib

    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    h, w, channels = px.shape
    if channels != 3:
        raise ValueError("encode_png writes 8-bit RGB only")
    stride = w * 3
    rows = px.reshape(h, stride).astype(np.int32)
    if filters is None:
        filters = [0] * h

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            _struct.pack(">I", len(data))
            + ctype
            + data
            + _struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    if not any(filters):
        # vectorized fast path (mirror of the decoder's): all-zero
        # filters mean the body is just a 0 byte prepended per row
        body0 = np.zeros((h, stride + 1), dtype=np.uint8)
        body0[:, 1:] = rows
        return (
            _PNG_SIG
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(body0.tobytes()))
            + chunk(b"IEND", b"")
        )
    body = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = filters[y]
        cur = rows[y]
        filt = np.empty(stride, dtype=np.int32)
        for x in range(stride):
            a = int(cur[x - 3]) if x >= 3 else 0
            b = int(prev[x])
            c = int(prev[x - 3]) if x >= 3 else 0
            pred = {
                0: 0,
                1: a,
                2: b,
                3: (a + b) >> 1,
                4: _paeth(a, b, c),
            }[ftype]
            filt[x] = (int(cur[x]) - pred) & 0xFF
        body.append(ftype)
        body += filt.astype(np.uint8).tobytes()
        prev = cur
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(body)))
        + chunk(b"IEND", b"")
    )


def decode_images(df: DataFrame) -> DataFrame:
    """Decode image payloads -> (media_id, width, height, mean_intensity).

    P6 PPM and PNG payloads are parsed by :func:`_parse_image` from the
    bytes alone.  ``mean_intensity`` is the unweighted mean over the raw
    RGB channel bytes (the schema contract — never a luma-weighted
    grayscale mean), so one image encoded in either container scores
    the same.
    """

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [], "mean_intensity": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                _, w, h, px = _parse_image(bytes(payload))
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["mean_intensity"].append(round(float(px.mean()), 2))
            yield pd.DataFrame(out)

    return _payload_rows(df, "image").mapInPandas(
        kernel, schema="media_id bigint, width int, height int, mean_intensity double"
    )


def wav_sine_bytes(freq: float, duration_ms: int, sample_rate: int = 8_000) -> bytes:
    """GENUINE WAV bytes (RIFF header + 16-bit PCM mono, stdlib
    ``wave``) for a 0.5-amplitude sine — the single WAV-generation law
    shared by the q171 and q247 declared queries.
    Vectorized: samples come from one numpy expression (``np.trunc``
    matches python ``int()``'s toward-zero truncation)."""
    import io
    import math
    import wave as wave_mod

    import numpy as np

    n_frames = sample_rate * duration_ms // 1000
    t = np.arange(n_frames, dtype=np.float64)
    pcm = np.trunc(
        16383.0 * np.sin(2 * math.pi * freq * t / sample_rate)
    ).astype("<i2")
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def decode_audio(df: DataFrame) -> DataFrame:
    """Decode audio payloads -> (media_id, sample_rate, duration_ms,
    rms, peak).

    Stdlib ``wave`` parses the RIFF container and numpy computes
    RMS/peak over the PCM samples (normalized to [-1, 1]) — no codec
    library involved, so this is a genuine bytes-to-features kernel in
    any environment.
    """

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import io
        import wave as wave_mod

        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "media_id": [],
                "sample_rate": [],
                "duration_ms": [],
                "rms": [],
                "peak": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                with wave_mod.open(io.BytesIO(bytes(payload)), "rb") as w:
                    rate = w.getframerate()
                    n_frames = w.getnframes()
                    dur = int(round(1000 * n_frames / rate))
                    pcm = np.frombuffer(
                        w.readframes(n_frames), dtype=np.int16
                    ).astype(np.float64) / 32768.0
                rms = round(float(np.sqrt((pcm * pcm).mean())), 6) if len(pcm) else 0.0
                peak = round(float(np.abs(pcm).max()), 6) if len(pcm) else 0.0
                out["media_id"].append(mid)
                out["sample_rate"].append(rate)
                out["duration_ms"].append(dur)
                out["rms"].append(rms)
                out["peak"].append(peak)
            yield pd.DataFrame(out)

    return _payload_rows(df, "audio").mapInPandas(
        kernel,
        schema="media_id bigint, sample_rate int, duration_ms int, rms double, peak double",
    )


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize kernel: P6 PPM and PNG payloads are resized IN-CONTAINER
    with a codec-free nearest-neighbor resample (numpy index mapping
    over the raw RGB grid, re-emitted as valid bytes in the SAME
    format — :func:`decode_images` reads the output)."""

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        def nn_resample(px, w, h):
            # nearest-neighbor: target pixel (r, c) samples the source
            # at floor((r + .5) * h / height) etc. — the standard NN
            # grid mapping, deterministic
            rows = np.minimum(
                ((np.arange(height) + 0.5) * h / height).astype(int), h - 1
            )
            cols = np.minimum(
                ((np.arange(width) + 0.5) * w / width).astype(int), w - 1
            )
            return px[rows][:, cols].astype(np.uint8)

        for pdf in batches:
            ids, payloads = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                fmt, w, h, px = _parse_image(bytes(payload))
                small = nn_resample(px, w, h)
                if fmt == "ppm":
                    out = b"P6\n%d %d\n255\n" % (width, height) + small.tobytes()
                else:
                    out = encode_png(small)
                ids.append(mid)
                payloads.append(out)
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return _payload_rows(df, "image").mapInPandas(
        kernel, schema="media_id bigint, payload binary"
    )


def ppm_stream_bytes(frames) -> bytes:
    """GENUINE raw-video bytes: frames (each an HxWx3 uint8 array)
    concatenated as P6 PPMs — exactly ffmpeg's ``image2pipe`` ppm
    stream, a real codec-free video interchange format."""
    import numpy as np

    out = bytearray()
    for px in frames:
        px = np.asarray(px, dtype=np.uint8)
        h, w, _ = px.shape
        out += b"P6\n%d %d\n255\n" % (w, h)
        out += px.tobytes()
    return bytes(out)


def _walk_p6_offsets(raw: bytes) -> list[int]:
    """Byte offsets of every frame in a concatenated-P6 stream — the
    ONE header-walk shared by every video kernel (sample_frame_features
    and extract_frames must index identically or the float row and the
    hash gate would sample different frames from the same payloads)."""
    offsets = []
    pos = 0
    while pos < len(raw):
        _, _, _, nxt = _parse_ppm_at(raw, pos)
        offsets.append(pos)
        pos = nxt
    return offsets


def _pick_frame(ts: int, n_frames: int, duration: int) -> int:
    """The ONE frame-selection law (uniform frame spacing across the
    declared duration, clamped): the frame covering grid instant
    ``ts``.  q271's oracle encodes its closed form (even-indexed
    frames at 4 fps / 500 ms grid) — change it here and the oracle,
    or nowhere."""
    return min(ts * n_frames // max(duration, 1), n_frames - 1)


def sample_frame_features(df: DataFrame, every_ms: int = 500) -> DataFrame:
    """REAL video frame sampling + decode over concatenated-P6 stream
    payloads: walk the payload's frame headers (``_walk_p6_offsets``),
    pick the frame covering each ``every_ms`` grid instant
    (``_pick_frame``), and decode ONLY the
    sampled frames — one output row per sampled frame with its raw-RGB
    mean intensity.  A flatMap-shaped mapInPandas pass: rows out >
    rows in, payloads never leave the kernel."""

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "media_id": [],
                "frame_idx": [],
                "frame_ts_ms": [],
                "width": [],
                "height": [],
                "mean_intensity": [],
            }
            for mid, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                raw = bytes(payload)
                duration = int(meta["duration_ms"])
                offsets = _walk_p6_offsets(raw)
                n_frames = len(offsets)
                if n_frames == 0:
                    # Empty payload: no frames to sample.  Skip the row
                    # instead of letting offsets[-1] raise an opaque
                    # IndexError inside the executor.
                    continue
                for k, ts in enumerate(range(0, duration, every_ms)):
                    f = _pick_frame(ts, n_frames, duration)
                    w, h, px, _ = _parse_ppm_at(raw, offsets[f])
                    out["media_id"].append(mid)
                    out["frame_idx"].append(f)
                    out["frame_ts_ms"].append(ts)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["mean_intensity"].append(round(float(px.mean()), 2))
            yield pd.DataFrame(out)

    return _payload_rows(df, "video").mapInPandas(
        kernel,
        schema=(
            "media_id bigint, frame_idx int, frame_ts_ms int,"
            " width int, height int, mean_intensity double"
        ),
    )


def extract_frames(df: DataFrame, every_ms: int = 500) -> DataFrame:
    """REAL video -> image FRAME EXTRACTION over concatenated-P6
    stream payloads — the vision-training-data pattern (ffmpeg's
    ``-vf fps=...`` thumbnail pass): walk the stream's frame headers
    (``_walk_p6_offsets``), pick the frame covering each ``every_ms``
    grid instant (``_pick_frame`` — the SAME shared law
    ``sample_frame_features`` uses, by construction not by copy), and
    SLICE each sampled frame out of the stream as a
    standalone P6 IMAGE payload.  Zero decode, zero re-encode: each
    frame inside an image2pipe stream is itself a complete P6 image,
    so extraction is a byte slice — the slices are first-class inputs
    to every image operator (``resize_images``, ``decode_images``,
    ``media_census``).

    flatMap-shaped ``mapInPandas`` (one row out per sampled frame);
    payload bytes enter and leave the kernel on the same executor —
    never shuffled, never pixel-decoded here."""

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {
                "media_id": [],
                "frame_idx": [],
                "frame_ts_ms": [],
                "kind": [],
                "payload": [],
            }
            for mid, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                raw = bytes(payload)
                duration = int(meta["duration_ms"])
                offsets = _walk_p6_offsets(raw)
                n_frames = len(offsets)
                if n_frames == 0:
                    continue
                ends = offsets[1:] + [len(raw)]
                for ts in range(0, duration, every_ms):
                    f = _pick_frame(ts, n_frames, duration)
                    out["media_id"].append(mid)
                    out["frame_idx"].append(f)
                    out["frame_ts_ms"].append(ts)
                    out["kind"].append("image")
                    out["payload"].append(raw[offsets[f] : ends[f]])
            yield pd.DataFrame(out)

    return _payload_rows(df, "video").mapInPandas(
        kernel,
        schema=(
            "media_id bigint, frame_idx int, frame_ts_ms int,"
            " kind string, payload binary"
        ),
    )


def media_census(df: DataFrame) -> DataFrame:
    """All-INTEGER content census decoded from the payload bytes alone
    — the hash-gateable core of the multimodal tier (q247).

    The float feature tier (q171's RMS, q172's mean intensity) is
    rows-only by contract, but everything integer about a payload is
    exact math and therefore oracle-checkable: container format is
    recovered from the MAGIC BYTES (RIFF / ``P6`` / PNG signature,
    never the metadata column), images yield (width, height,
    pix_bytes = 3wh, pix_sum = sum of the raw RGB bytes) through
    :func:`_parse_image`, and audio yields
    (n_samples, duration_ms) through stdlib ``wave``.  ``byte_len`` is
    the on-disk payload size (codec-dependent for PNG — q247 excludes
    it there by declared law).

    Scale shape: one Arrow ``mapInPandas`` pass in the same stage as
    whatever synthesized/scanned the payloads — bytes never shuffle;
    only the integer census rows do.
    """

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import io
        import wave as wave_mod

        import numpy as np
        import pandas as pd

        cols = [
            "media_id",
            "format",
            "width",
            "height",
            "pix_bytes",
            "pix_sum",
            "n_samples",
            "dur_ms",
            "byte_len",
        ]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload)
                if raw[:4] == b"RIFF":
                    with wave_mod.open(io.BytesIO(raw), "rb") as w:
                        rate = w.getframerate()
                        n = w.getnframes()
                    rows.append(
                        (int(mid), "wav", 0, 0, 0, 0, n,
                         1000 * n // rate, len(raw))
                    )
                else:
                    fmt, w_, h_, px = _parse_image(raw)
                    rows.append(
                        (int(mid), fmt, w_, h_, px.size,
                         int(px.sum(dtype=np.int64)), 0, 0, len(raw))
                    )
            yield pd.DataFrame(rows, columns=cols)

    return _payload_rows(df).mapInPandas(
        kernel,
        schema=(
            "media_id bigint, format string, width bigint, height bigint,"
            " pix_bytes bigint, pix_sum bigint, n_samples bigint,"
            " dur_ms bigint, byte_len bigint"
        ),
    )
