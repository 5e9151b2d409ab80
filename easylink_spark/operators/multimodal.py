"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata structs;
decode / feature-extraction run as Arrow-batched ``mapInPandas`` operators so
bytes cross the JVM/Python boundary once per batch.

Two decode modes:

- ``decode="real"`` — pure-Python codecs that need no external library:
  WAV audio (stdlib ``wave``: PCM samples -> level stats + coarse FFT band
  energies) and binary PPM images (P6 header + pixel parse -> channel
  stats + gray histogram).  Compressed formats (JPEG/MP3/MP4…) would need
  PIL/ffmpeg, absent in this container, and raise NotImplementedError.
- ``decode="deterministic_fake"`` — seeded digest-derived features for any
  payload; shape-correct plumbing for formats the sandbox can't decode.

Schema convention:

    media(media_id string, kind string,            -- image|audio|video
          payload binary, meta struct<
            mime string, width int, height int,
            sample_rate int, duration_ms int>)
"""

from __future__ import annotations

import hashlib
import io
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, "
    "meta struct<mime string, width int, height int, sample_rate int, "
    "duration_ms int>"
)

FEATURE_DIM = 32


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a real encoder: features derived from the
    payload digest so tests can assert stability and batch shapes."""
    h = hashlib.sha256(payload or b"").digest()
    rng = np.random.default_rng(int.from_bytes(h[:8], "little"))
    return rng.standard_normal(dim).astype(float).tolist()


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """stdlib-only WAV decode -> (mono float samples in [-1, 1], rate)."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        n_ch, width, rate = w.getnchannels(), w.getsampwidth(), w.getframerate()
        raw = w.readframes(w.getnframes())
    if width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 1:  # 8-bit WAV is unsigned
        x = (np.frombuffer(raw, dtype="u1").astype(np.float64) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"{8 * width}-bit WAV unsupported")
    if n_ch > 1:
        x = x.reshape(-1, n_ch).mean(axis=1)
    return x, rate


def _wav_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Real audio features: [duration_s, sample_rate_khz, rms, peak,
    zero-crossing rate, dc offset] + (dim-6) log-energy FFT bands."""
    x, rate = decode_wav(payload)
    n = len(x)
    stats = [n / rate if rate else 0.0, rate / 1000.0,
             float(np.sqrt(np.mean(x**2))) if n else 0.0,
             float(np.max(np.abs(x))) if n else 0.0,
             float(np.mean(np.abs(np.diff(np.signbit(x))))) if n > 1 else 0.0,
             float(np.mean(x)) if n else 0.0]
    n_bands = dim - len(stats)
    mag = np.abs(np.fft.rfft(x)) if n else np.zeros(1)
    bands = [float(np.log1p(seg.sum()))
             for seg in np.array_split(mag, n_bands)]
    return stats + bands


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) parse -> uint8 array of shape (height, width, 3).
    Pure header walk + frombuffer; comments (#) in the header honored."""
    if not payload.startswith(b"P6"):
        raise NotImplementedError("only binary PPM (P6) images supported")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then raster
    width, height, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PPM unsupported")
    px = np.frombuffer(payload, dtype="u1", count=width * height * 3,
                       offset=pos)
    return px.reshape(height, width, 3)


def _ppm_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Real image features: [width, height, mean/std per RGB channel] +
    (dim-8)-bin grayscale histogram (density)."""
    px = decode_ppm(payload)
    h, w, _ = px.shape
    chan = px.reshape(-1, 3).astype(np.float64)
    stats = [float(w), float(h), *chan.mean(axis=0), *chan.std(axis=0)]
    gray = chan.mean(axis=1)
    hist, _ = np.histogram(gray, bins=dim - len(stats), range=(0.0, 255.0),
                           density=True)
    return stats + [float(v) for v in hist]


def _real_features(kind: str, payload: bytes) -> list[float]:
    if kind == "audio":
        return _wav_features(payload)
    if kind == "image":
        return _ppm_features(payload)
    # video (and anything compressed) genuinely needs ffmpeg/PIL — not in
    # this container; the deterministic fake covers plumbing tests instead
    raise NotImplementedError(
        f"real decode for kind={kind!r} requires ffmpeg/PIL, not available "
        "in this environment; use decode='deterministic_fake'"
    )


def extract_features(
    media: DataFrame,
    decode: str = "deterministic_fake",
    batch_partitions: int | None = None,
) -> DataFrame:
    """media -> (media_id, kind, feature array<double>, n_bytes).

    The mapInPandas kernel receives Arrow batches of (media_id, kind,
    payload).  ``decode="real"`` runs the pure-Python WAV/PPM decoders
    (module docstring); ``"deterministic_fake"`` runs the digest encoder
    for any payload.  Partition count is forced up-front: payload bytes
    dominate partition sizing, and decode cost scales with items, so we
    spread by id hash rather than bytes.
    """
    if decode not in ("real", "deterministic_fake"):
        raise ValueError(f"unknown decode mode {decode!r}")

    n_parts = batch_partitions or media.sparkSession.sparkContext.defaultParallelism
    slim = media.select("media_id", "kind", "payload").repartition(
        n_parts, "media_id"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode == "real":
                feats = [
                    _real_features(k, p if p is not None else b"")
                    for k, p in zip(pdf["kind"], pdf["payload"])
                ]
            else:
                feats = [
                    _fake_features(p if p is not None else b"")
                    for p in pdf["payload"]
                ]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "feature": feats,
                "n_bytes": [len(p) if p is not None else 0
                            for p in pdf["payload"]],
            })

    return slim.mapInPandas(
        kernel,
        schema="media_id string, kind string, feature array<double>, "
               "n_bytes long",
    )


def resize_ppm(payload: bytes, width: int, height: int) -> bytes:
    """Real resize for binary PPM: decode -> nearest-neighbor index grid ->
    re-encode P6.  Nearest-neighbor is deliberate: it's exact integer
    indexing (deterministic across numpy versions), and the operator's
    cost profile — decode + per-pixel gather + encode per item — is the
    same shape a PIL/ffmpeg-backed kernel would have at scale."""
    px = decode_ppm(payload)
    h, w, _ = px.shape
    rows = np.minimum((np.arange(height) * h) // height, h - 1)
    cols = np.minimum((np.arange(width) * w) // width, w - 1)
    out = px[rows[:, None], cols[None, :], :]
    return b"P6\n%d %d\n255\n" % (width, height) + out.tobytes()


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize operator: real decode->resize->re-encode for binary PPM
    payloads; other formats (JPEG/PNG need PIL, absent here) pass bytes
    through unchanged with the target dims recorded."""
    images = media.filter(F.col("kind") == "image")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                resize_ppm(p, width, height)
                if p is not None and p.startswith(b"P6") else p
                for p in pdf["payload"]
            ]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "payload": payloads,
                "width": width,
                "height": height,
            })

    slim = images.select("media_id", "payload")
    return slim.mapInPandas(
        kernel, schema="media_id string, payload binary, width int, height int"
    )


def sample_video_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling operator: one output row per sampled frame timestamp
    (frame payload stubbed as the digest of (video bytes, ts)).

    Round-6: the frame-timestamp expansion happens INSIDE the mapInPandas
    kernel, not as an explode below it (guide §8 "move heavy bytes once" /
    §4.1: mapInPandas may return a different number of rows than it
    receives).  The round-start plan exploded (payload, ts) per frame
    before the Python boundary, so every sampled frame row carried a full
    copy of the video payload through the generate and the Arrow transfer
    — a 10-minute video at 1 frame/s shipped its bytes 600 times.  Now
    each video's payload crosses the boundary exactly once and the
    per-frame rows the kernel emits carry only the 32-byte digests.
    Identical output rows: same timestamps (range(0, max(duration-1,0)+1,
    every_ms) = sequence(0, greatest(duration-1,0), every_ms)), same
    digest bytes."""
    videos = media.filter(F.col("kind") == "video").select(
        "media_id", "payload", F.col("meta.duration_ms").alias("duration_ms")
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            tss: list = []
            frames: list = []
            for mid, p, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                payload = p if p is not None else b""
                # null duration -> one frame at ts 0, matching the former
                # plan's sequence(0, greatest(NULL-1, 0), step) = [0]
                # (greatest ignores nulls); pandas surfaces the null as NaN
                stop = 0 if pd.isna(dur) else max(int(dur) - 1, 0)
                for t in range(0, stop + 1, every_ms):
                    ids.append(mid)
                    tss.append(t)
                    frames.append(
                        hashlib.sha256(
                            payload + int(t).to_bytes(8, "little")
                        ).digest()
                    )
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype=object),
                "frame_ts_ms": pd.Series(tss, dtype="int64"),
                "frame": pd.Series(frames, dtype=object),
            })

    return videos.mapInPandas(
        kernel, schema="media_id string, frame_ts_ms long, frame binary"
    )
