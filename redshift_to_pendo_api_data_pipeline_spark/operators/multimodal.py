"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design (BASELINE.json north-star surface): image/audio/video travel as
``binary`` columns beside a metadata struct; every per-item operation is a
``mapInPandas`` stage so payloads stream through Arrow record batches
without ever landing on the driver. The actual codec work (JPEG decode,
resampling, frame extraction) needs libraries this container doesn't ship
(PIL/ffmpeg/torchvision), so the codec boundary is isolated behind
``Codec`` implementations:

- ``FakeCodec`` — deterministic, dependency-free: derives pseudo pixel
  stats/frames from the bytes themselves. Makes the Spark-side plumbing
  (schemas, batching, partitioning, UDF signatures) fully testable.
- ``PilCodec`` — the Pillow-backed image path, behind an import guard:
  construction raises ImportError when Pillow is absent (this container),
  and the instance is picklable because PIL is imported per call on the
  executor, never stored. Video would follow the same pattern with ffmpeg.
- ``PngCodec`` (round 7) — a REAL image codec with zero external
  dependencies: full PNG decode (chunk walk + CRC, zlib inflate, all five
  scanline filters, palette expansion) and a matching encoder, both from
  the published spec via stdlib zlib. With ``WavCodec`` (audio) this
  makes both media families real-decode-certified without Pillow.
- ``default_codec()`` — PilCodec when Pillow is importable, else FakeCodec
  with a one-time warning, so the SAME operator code runs real decodes the
  moment the dependency appears. (FakeCodec stays the default because the
  synthetic test payloads are arbitrary bytes, not valid PNG streams;
  PngCodec is passed explicitly where payloads are real PNGs.)

Batch-shape rule: one Arrow batch in, one pandas DataFrame out, columns
exactly matching the declared schema. Spark handles partition-level
parallelism; ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds
payload memory per batch.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


class Codec:
    """Codec boundary for binary media payloads."""

    def decode_stats(self, payload: bytes) -> dict:
        raise NotImplementedError

    def thumbnail(self, payload: bytes, w: int, h: int) -> bytes:
        raise NotImplementedError

    def sample_frames(self, payload: bytes, every_n: int) -> list[bytes]:
        raise NotImplementedError


class PilCodec(Codec):
    """Real image codec backed by Pillow. Import-guarded: constructing it
    without Pillow installed raises ImportError (callers fall back via
    ``default_codec``). PIL is imported inside each method — executors
    re-import locally and the instance stays picklable for mapInPandas
    closures. Video frame sampling uses PIL's multi-frame seek (GIF/TIFF);
    a full av/ffmpeg codec would subclass Codec the same way."""

    def __init__(self) -> None:
        import importlib.util

        if importlib.util.find_spec("PIL") is None:
            raise ImportError("Pillow is not installed")

    @staticmethod
    def _open(payload: bytes):
        import io

        from PIL import Image

        return Image.open(io.BytesIO(payload))

    def decode_stats(self, payload: bytes) -> dict:
        arr = np.asarray(self._open(payload).convert("L"), dtype=np.uint8)
        return {
            "n_bytes": len(payload),
            "mean": float(arr.mean()) if arr.size else 0.0,
            "std": float(arr.std()) if arr.size else 0.0,
            "digest": hashlib.md5(payload).hexdigest(),
        }

    def thumbnail(self, payload: bytes, w: int, h: int) -> bytes:
        import io

        buf = io.BytesIO()
        self._open(payload).convert("RGB").resize((w, h)).save(buf, format="PNG")
        return buf.getvalue()

    def sample_frames(self, payload: bytes, every_n: int) -> list[bytes]:
        import io

        img = self._open(payload)
        frames: list[bytes] = []
        i = 0
        while True:
            try:
                img.seek(i)
            except EOFError:
                break
            if i % every_n == 0:
                buf = io.BytesIO()
                img.convert("RGB").save(buf, format="PNG")
                frames.append(buf.getvalue())
            i += 1
        return frames


class WavCodec(Codec):
    """REAL audio codec with zero external dependencies: RIFF/WAVE PCM
    via the stdlib ``wave`` module — unlike PilCodec this path actually
    decodes in any Python environment, so the multimodal pipeline has
    one fully-real codec certified end-to-end (header parse, PCM frame
    extraction, amplitude stats), not just the FakeCodec stand-in.

    Mapping onto the Codec surface:
    - decode_stats: n_bytes/digest plus mean/std of the |int16| PCM
      amplitude (mono-mixed) — the audio analog of pixel stats;
    - thumbnail(w, h): a w*h-byte waveform envelope (mean |amplitude|
      per window, scaled to u8) — what a UI renders as the clip preview;
    - sample_frames(every_n): every n-th 1024-sample PCM chunk as raw
      bytes — the feature-extraction windowing shape.
    """

    _CHUNK = 1024

    @staticmethod
    def _pcm(payload: bytes) -> tuple[np.ndarray, int]:
        import io
        import wave

        with wave.open(io.BytesIO(payload), "rb") as w:
            rate = w.getframerate()
            n_ch = w.getnchannels()
            width = w.getsampwidth()
            raw = w.readframes(w.getnframes())
        if width != 2:
            raise ValueError(f"WavCodec supports 16-bit PCM, got width {width}")
        samples = np.frombuffer(raw, dtype="<i2").astype(np.float64)
        if n_ch > 1:
            samples = samples.reshape(-1, n_ch).mean(axis=1)
        return samples, rate

    def decode_stats(self, payload: bytes) -> dict:
        samples, _ = self._pcm(payload)
        amp = np.abs(samples)
        return {
            "n_bytes": len(payload),
            "mean": float(amp.mean()) if amp.size else 0.0,
            "std": float(amp.std()) if amp.size else 0.0,
            "digest": hashlib.md5(payload).hexdigest(),
        }

    def thumbnail(self, payload: bytes, w: int, h: int) -> bytes:
        samples, _ = self._pcm(payload)
        n_out = w * h
        if samples.size == 0:
            return bytes(n_out)
        amp = np.abs(samples)
        bounds = np.linspace(0, amp.size, n_out + 1).astype(np.int64)
        env = np.array([
            amp[a:b].mean() if b > a else 0.0
            for a, b in zip(bounds[:-1], bounds[1:])
        ])
        peak = env.max()
        if peak > 0:
            env = env / peak * 255.0
        return env.astype(np.uint8).tobytes()

    def sample_frames(self, payload: bytes, every_n: int) -> list[bytes]:
        samples, _ = self._pcm(payload)
        pcm = samples.astype("<i2")
        chunks = [
            pcm[i : i + self._CHUNK].tobytes()
            for i in range(0, max(len(pcm), 1), self._CHUNK)
        ]
        return chunks[::every_n]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type: gray, RGB, palette, gray+alpha, RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def png_decode(payload: bytes) -> np.ndarray:
    """REAL PNG decode with zero external dependencies — stdlib ``zlib``
    and the published PNG spec (RFC 2083 / ISO 15948): chunk walk with
    CRC verification, IDAT inflate, and all five scanline filters (None/
    Sub/Up/Average/Paeth) reconstructed exactly. Returns (H, W, C) uint8
    with C = 1 (gray), 2 (gray+alpha), 3 (RGB from truecolor or PLTE
    palette), or 4 (RGBA).

    Scope (raises ValueError outside it, never a wrong answer): 8-bit
    depth, non-interlaced — the overwhelmingly common web encoding;
    Adam7 and 16-bit are deliberate non-goals for the codec boundary."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"PngCodec supports 8-bit non-interlaced PNG, got depth={depth} "
            f"interlace={interlace}"
        )
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"unknown PNG color type {color_type}")
    ch = _PNG_CHANNELS[color_type]
    stride = width * ch
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG IDAT length does not match dimensions")

    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        row_start = y * (stride + 1)
        ftype = raw[row_start]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row_start + 1
        ).astype(np.int32)
        if ftype == 0:  # None
            rec = line
        elif ftype == 2:  # Up — no left dependency, fully vectorized
            rec = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub/Average/Paeth carry a left dep
            rec = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = rec[x - ch] if x >= ch else 0  # left (same channel)
                b = prev[x]                        # up
                if ftype == 1:
                    rec[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    rec[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                else:  # Paeth predictor, per spec
                    c = prev[x - ch] if x >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = b
                    else:
                        pred = c
                    rec[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    px = out.reshape(height, width, ch)
    if color_type == 3:  # palette lookup -> RGB
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        px = plte[px[:, :, 0]]
    return px


def png_encode(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal REAL PNG encoder (stdlib zlib): gray (H,W), RGB (H,W,3) or
    RGBA (H,W,4) uint8 at 8-bit depth, one filter type for every
    scanline (0 by default; 1-4 exist so tests can drive each of the
    decoder's unfilter paths through a true encode->decode roundtrip)."""
    import struct
    import zlib

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    stride = w * ch
    flat = a.reshape(h, stride).astype(np.int32)
    lines = []
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        rec = flat[y]
        if filter_type == 0:
            enc = rec
        elif filter_type == 2:
            enc = (rec - prev) & 0xFF
        elif filter_type in (1, 3, 4):
            enc = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                aL = rec[x - ch] if x >= ch else 0
                b = prev[x]
                if filter_type == 1:
                    enc[x] = (rec[x] - aL) & 0xFF
                elif filter_type == 3:
                    enc[x] = (rec[x] - ((aL + b) >> 1)) & 0xFF
                else:
                    c = prev[x - ch] if x >= ch else 0
                    p = aL + b - c
                    pa, pb, pc = abs(p - aL), abs(p - b), abs(p - c)
                    pred = aL if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    enc[x] = (rec[x] - pred) & 0xFF
        else:
            raise ValueError(f"unsupported filter type {filter_type}")
        lines.append(bytes([filter_type]) + enc.astype(np.uint8).tobytes())
        prev = rec

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    idat = zlib.compress(b"".join(lines), 9)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


class PngCodec(Codec):
    """REAL image codec with zero external dependencies: PNG via stdlib
    zlib (png_decode/png_encode above) — the image counterpart of
    WavCodec, closing the gap where the image path was certified only
    through the FakeCodec stand-in (Pillow absent in this container).

    Mapping onto the Codec surface:
    - decode_stats: n_bytes/digest plus mean/std of the LUMA plane
      (integer ITU-R 601: (299R + 587G + 114B) // 1000, PIL's convert("L")
      formula) — real pixel statistics from a real decode;
    - thumbnail(w, h): nearest-neighbor resize of the RGB plane,
      re-encoded as a real PNG;
    - sample_frames(every_n): PNG is single-frame — frame 0 is the
      canonical re-encode, so [canonical] when 0 % every_n == 0."""

    @staticmethod
    def _luma(px: np.ndarray) -> np.ndarray:
        if px.shape[2] == 1:
            return px[:, :, 0].astype(np.int64)
        if px.shape[2] == 2:  # gray+alpha: luma is the gray channel
            return px[:, :, 0].astype(np.int64)
        p = px.astype(np.int64)
        return (299 * p[:, :, 0] + 587 * p[:, :, 1] + 114 * p[:, :, 2]) // 1000

    @staticmethod
    def _rgb(px: np.ndarray) -> np.ndarray:
        if px.shape[2] >= 3:
            return px[:, :, :3]
        return np.repeat(px[:, :, :1], 3, axis=2)

    def decode_stats(self, payload: bytes) -> dict:
        luma = self._luma(png_decode(payload))
        return {
            "n_bytes": len(payload),
            "mean": float(luma.mean()) if luma.size else 0.0,
            "std": float(luma.std()) if luma.size else 0.0,
            "digest": hashlib.md5(payload).hexdigest(),
        }

    def thumbnail(self, payload: bytes, w: int, h: int) -> bytes:
        rgb = self._rgb(png_decode(payload))
        src_h, src_w = rgb.shape[:2]
        ys = (np.arange(h) * src_h // h).clip(0, src_h - 1)
        xs = (np.arange(w) * src_w // w).clip(0, src_w - 1)
        return png_encode(rgb[ys][:, xs])

    def sample_frames(self, payload: bytes, every_n: int) -> list[bytes]:
        frames = [png_encode(self._rgb(png_decode(payload)))]
        return frames[::every_n]


def default_codec() -> Codec:
    """The codec the operators use when none is passed: the real Pillow
    path when importable, else the deterministic FakeCodec (with a
    one-time warning so silent fake decodes never masquerade as real)."""
    try:
        return PilCodec()
    except ImportError:
        import warnings

        warnings.warn(
            "Pillow not installed — multimodal operators fall back to "
            "FakeCodec (deterministic byte-stream pseudo-decodes)",
            stacklevel=2,
        )
        return FakeCodec()


class FakeCodec(Codec):
    """Deterministic stand-in: treats the payload bytes as the 'pixels'.
    Every output is a pure function of the bytes, so tests are stable and
    the full Spark pipeline is exercised for real."""

    def decode_stats(self, payload: bytes) -> dict:
        arr = np.frombuffer(payload, dtype=np.uint8)
        return {
            "n_bytes": int(arr.size),
            "mean": float(arr.mean()) if arr.size else 0.0,
            "std": float(arr.std()) if arr.size else 0.0,
            "digest": hashlib.md5(payload).hexdigest(),
        }

    def thumbnail(self, payload: bytes, w: int, h: int) -> bytes:
        arr = np.frombuffer(payload, dtype=np.uint8)
        if arr.size == 0:
            return bytes(w * h)
        # 'resize' = resample the byte stream to w*h samples
        idx = np.linspace(0, arr.size - 1, w * h).astype(np.int64)
        return arr[idx].tobytes()

    def sample_frames(self, payload: bytes, every_n: int) -> list[bytes]:
        # 'frames' = fixed 64-byte windows; sample every n-th
        frames = [payload[i : i + 64] for i in range(0, max(len(payload), 1), 64)]
        return frames[::every_n]


def attach_media(
    df: DataFrame, payload_from: str, media_type: str = "image/fake"
) -> DataFrame:
    """Wrap an existing column's bytes as an opaque media column + typed
    metadata struct — the schema every multimodal operator consumes:
    (media: binary, media_meta: {type, n_bytes})."""
    payload = F.col(payload_from).cast("binary")
    return df.withColumn("media", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("type"),
            F.octet_length(payload).alias("n_bytes"),
        ),
    )


def decode_stats(df: DataFrame, id_col: str, codec: Codec | None = None) -> DataFrame:
    """Per-item decode/feature-extract via mapInPandas: (id, n_bytes, mean,
    std, digest). Arrow-batched; payloads never leave the executor."""
    codec = codec or default_codec()

    def _run(batches):
        for pdf in batches:
            stats = [codec.decode_stats(p if p is not None else b"") for p in pdf["media"]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": [s["n_bytes"] for s in stats],
                    "mean": [s["mean"] for s in stats],
                    "std": [s["std"] for s in stats],
                    "digest": [s["digest"] for s in stats],
                }
            )

    schema = f"{id_col} long, n_bytes long, mean double, std double, digest string"
    return df.select(id_col, "media").mapInPandas(_run, schema=schema)


def thumbnails(
    df: DataFrame, id_col: str, w: int = 8, h: int = 8, codec: Codec | None = None
) -> DataFrame:
    """Resize stage: (id, thumb binary, thumb_meta struct)."""
    codec = codec or default_codec()

    def _run(batches):
        for pdf in batches:
            thumbs = [codec.thumbnail(p if p is not None else b"", w, h) for p in pdf["media"]]
            yield pd.DataFrame({id_col: pdf[id_col], "thumb": thumbs})

    out = df.select(id_col, "media").mapInPandas(
        _run, schema=f"{id_col} long, thumb binary"
    )
    return out.withColumn(
        "thumb_meta",
        F.struct(F.lit(w).alias("w"), F.lit(h).alias("h"),
                 F.octet_length("thumb").alias("n_bytes")),
    )


def sampled_frames(
    df: DataFrame, id_col: str, every_n: int = 2, codec: Codec | None = None
) -> DataFrame:
    """Frame-sampling stage: one output row per kept frame
    (id, frame_idx, frame binary) — the explode happens Python-side inside
    the batch so the Arrow transfer carries only kept frames."""
    codec = codec or default_codec()

    def _run(batches):
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for rid, p in zip(pdf[id_col], pdf["media"]):
                for j, fr in enumerate(codec.sample_frames(p if p is not None else b"", every_n)):
                    ids.append(rid)
                    idxs.append(j)
                    frames.append(fr)
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs, "frame": frames})

    return df.select(id_col, "media").mapInPandas(
        _run, schema=f"{id_col} long, frame_idx int, frame binary"
    )


def wav_encode(samples: "np.ndarray", rate: int = 16000) -> bytes:
    """Encode an int16 mono PCM array to a genuine RIFF/WAVE byte
    stream (stdlib ``wave`` writer) — the encoder half of WavCodec,
    giving the audio path the same encode->decode roundtrip
    certification the PNG path has (see `media_wav_roundtrip_stats`):
    a synthesized signal goes through REAL container bytes and back,
    so the header/frame logic is exercised end-to-end, not mocked."""
    import io
    import wave

    arr = np.asarray(samples, dtype="<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(int(rate))
        w.writeframes(arr.tobytes())
    return buf.getvalue()


def dhash63(luma: "np.ndarray") -> int:
    """63-bit difference hash of a grayscale pixel grid: bit(r, c) =
    px[r, c] > px[r, c+1] over 7 rows x 9 comparisons (bit 63 clear so
    the value is signed-64-safe cross-engine). Pure function — shared
    by the mapInPandas stage and the perturbation property test."""
    g = np.asarray(luma).astype(int)
    h = 0
    for r in range(7):
        for c in range(9):
            if g[r, c] > g[r, c + 1]:
                h |= 1 << (r * 9 + c)
    return h


def dhash_from_png(df: DataFrame, payload_col: str, id_col: str) -> DataFrame:
    """Perceptual difference-hash (dHash) of genuine PNG payloads: each
    image is DECODED with the stdlib PngCodec (chunk walk, inflate,
    unfilter — the real codec boundary, same as media_png_roundtrip)
    and hashed by adjacent-pixel luma comparisons on the top-left
    region: bit(r, c) = px[r, c] > px[r, c+1] for 7 rows x 9
    comparisons = a 63-BIT hash (bit 63 stays clear so the value is
    non-negative in signed-64 engines — DuckDB refuses 1<<63). Small
    pixel perturbations flip few comparisons, so near-identical images
    land within a small Hamming radius — the image twin of SimHash on
    text.

    One mapInPandas stage (the declared Arrow edge — a codec genuinely
    isn't column algebra); emits (id, dhash long). Banding/verify live
    in :func:`dhash_neardup_pairs`, pure relational."""

    def _run(batches):
        for pdf in batches:
            ids, hashes = [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                px = png_decode(bytes(payload))
                ids.append(i)
                hashes.append(dhash63(px[:, :, 0]))
            yield pd.DataFrame({id_col: ids, "dhash": hashes})

    return df.select(id_col, payload_col).mapInPandas(
        _run, schema=f"{id_col} long, dhash long"
    )


def dhash_neardup_pairs(
    hashes: DataFrame,
    id_col: str,
    max_hamming: int = 6,
    n_bands: int | None = None,
) -> DataFrame:
    """Near-duplicate image pairs from dHash values: band the 63-bit
    hash into ``n_bands`` ceil(63/n_bands)-bit keys, bucket-join (only
    same-band collisions pair — the SimHash banding shape, never
    all-pairs), then verify candidates exactly with
    bit_count(xor) <= max_hamming. Shuffle rows carry
    (band, band-key, id) longs only; candidate degree is bounded by
    bucket population exactly like minhash/simhash LSH. Returns
    (id_a, id_b, hamming).

    RECALL CONTRACT: banding guarantees a same-band collision only for
    pairs differing in <= n_bands - 1 bits (pigeonhole), so the default
    is n_bands = max_hamming + 1 — every pair the verify step would
    accept is guaranteed to surface. Passing a smaller n_bands trades
    guaranteed recall above n_bands - 1 bits for fewer shuffle rows
    (appropriate when flips are known to cluster, e.g. the pinned
    certification fixtures)."""
    if n_bands is None:
        n_bands = max_hamming + 1
    width = -(-63 // n_bands)  # ceil: bands cover all 63 hash bits
    mask = (1 << width) - 1
    bands = hashes.select(
        F.col(id_col).alias("__id"),
        F.col("dhash"),
        F.explode(F.array(*[F.lit(b) for b in range(n_bands)])).alias("b"),
    ).select(
        "__id", "dhash", "b",
        F.expr(f"shiftrightunsigned(dhash, {width} * b) & {mask}")
        .alias("bv"),
    )
    left = bands.select(
        F.col("b"), F.col("bv"),
        F.col("__id").alias("id_a"), F.col("dhash").alias("ha"),
    )
    right = bands.select(
        F.col("b"), F.col("bv"),
        F.col("__id").alias("id_b"), F.col("dhash").alias("hb"),
    )
    cand = (
        left.join(right.hint("shuffle_hash"), ["b", "bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
    )
    return (
        cand.select(
            "id_a", "id_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def audio_fingerprint_from_wav(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    window: int = 16,
) -> DataFrame:
    """Acoustic fingerprint of genuine RIFF/WAVE payloads — the audio
    twin of :func:`dhash_from_png`: PCM is DECODED with the stdlib
    wave reader (the real container boundary, same as WavCodec), cut
    into fixed windows, and hashed by adjacent-window energy
    comparisons: bit(w) = energy(w) > energy(w+1), energy = sum of
    |sample| (integer-exact on 16-bit PCM — no FFT, so an independent
    engine can re-derive every bit from the sample formula). 64
    windows give a 63-bit hash, bit 63 clear (signed-64-safe
    cross-engine). A few corrupted samples move a couple of window
    energies -> a small Hamming distance, exactly the near-dup
    contract banding needs; downstream banding/verify REUSES
    :func:`dhash_neardup_pairs` (the hash column is the interface).

    One mapInPandas stage (codec = declared Arrow edge); emits
    (id, dhash long)."""
    import io
    import wave

    def _run(batches):
        for pdf in batches:
            ids, hashes = [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                    raw = w.readframes(w.getnframes())
                samples = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                n_win = len(samples) // window
                energy = np.abs(samples[: n_win * window]).reshape(
                    n_win, window
                ).sum(axis=1)
                h = 0
                for b in range(min(n_win - 1, 63)):
                    if energy[b] > energy[b + 1]:
                        h |= 1 << b
                ids.append(i)
                hashes.append(h)
            yield pd.DataFrame({id_col: ids, "dhash": hashes})

    return df.select(id_col, payload_col).mapInPandas(
        _run, schema=f"{id_col} long, dhash long"
    )
