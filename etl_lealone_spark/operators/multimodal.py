"""Audio column plumbing over opaque ``binary`` payloads.

Media are ``binary`` columns with a typed metadata struct (modality,
mime, width/height/duration). The RIFF/WAVE codec here (PCM, IEEE
float and G.711 mu-law/A-law) is a from-spec stdlib+numpy
implementation; no codec library is used or needed. Compressed audio
(ADPCM, mp3-in-wav) is a STRICT GATE: it raises a typed
NotImplementedError rather than guessing, and corrupt payloads always
fail with ValueError at the decode boundary.

No workload reaches these operators; ``tests/test_audio.py`` keeps
them (see the allow-list in ``tests/test_registry_lint.py``).

Scale notes: decode/feature-extract runs as mapInPandas over Arrow
batches — per-partition streaming, no shuffle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("modality", T.StringType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META, True),
    ]
)


# ---------------------------------------------------------------------------
# REAL audio: RIFF/WAVE PCM parse + encode with numpy alone (the WAV
# container and PCM layouts are public spec). Compressed audio (mp3/ogg/
# aac) stays gated — entropy codecs need real libs.
# ---------------------------------------------------------------------------


# --- G.711 companding (ITU-T G.711; algorithm per the public-domain
# Sun g711.c reference implementation). Decode is a 256-entry LUT;
# encode does the segment search. Both directions are exact integer
# maps, so re-encoding any decoded level returns the original code —
# the bijectivity the roundtrip test pins.
def _g711_build_luts():
    import numpy as np

    ulaw = np.empty(256, dtype=np.float64)
    alaw = np.empty(256, dtype=np.float64)
    for code in range(256):
        u = ~code & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        ulaw[code] = (0x84 - t if u & 0x80 else t - 0x84) / 32768.0
        a = code ^ 0x55
        seg = (a & 0x70) >> 4
        t = (a & 0x0F) << 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        alaw[code] = (t if a & 0x80 else -t) / 32768.0
    return ulaw, alaw


_ULAW_DECODE_LUT, _ALAW_DECODE_LUT = _g711_build_luts()


def _linear_to_ulaw(pcm):
    """int16-range numpy array -> mu-law codes (G.711 segment search:
    bias, locate the highest set bit above bit 7, keep 4 mantissa
    bits, invert)."""
    import numpy as np

    x = np.asarray(pcm, dtype=np.int64)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32635) + 0x84
    # segment = bit_length(mag) - 8, clipped to 0..7
    seg = np.clip(
        np.floor(np.log2(mag)).astype(np.int64) - 7, 0, 7
    )
    mant = (mag >> (seg + 3)) & 0x0F
    return (~(sign | (seg << 4) | mant) & 0xFF).astype(np.uint8)


def _linear_to_alaw(pcm):
    """int16-range numpy array -> A-law codes (G.711: 13-bit domain,
    segment search, XOR 0x55)."""
    import numpy as np

    x = np.asarray(pcm, dtype=np.int64) >> 3  # 16 -> 13 bit domain
    sign = np.where(x >= 0, 0xD5, 0x55)
    mag = np.where(x >= 0, x, -x - 1)
    seg = np.clip(
        np.floor(np.log2(np.maximum(mag, 1))).astype(np.int64) - 4, 0, 7
    )
    mant = np.where(seg < 2, (mag >> 1) & 0x0F, (mag >> seg) & 0x0F)
    return (((seg << 4) | mant) ^ sign).astype(np.uint8)


def _parse_wav(buf: bytes):
    """Decode RIFF/WAVE -> (sample_rate, channels, float64 samples in
    [-1, 1] shaped (n_frames, channels)).

    PCM 8-bit unsigned, 16/24/32-bit signed little-endian, IEEE
    float32/64 (format 3), and G.711 mu-law/A-law (formats 7/6 — the
    telephony-corpus encodings); WAVE_FORMAT_EXTENSIBLE resolves
    through its sub-format tag. Anything else (ADPCM, mp3-in-wav)
    raises; corrupt payloads always raise ValueError."""
    import struct

    try:
        return _parse_wav_impl(buf)
    except (KeyError, IndexError, struct.error) as e:
        raise ValueError(f"corrupt WAV payload: {type(e).__name__} {e}") from e


def _parse_wav_impl(buf: bytes):
    import struct

    import numpy as np

    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, n = 12, len(buf)
    fmt = data = None
    while pos + 8 <= n:
        cid = buf[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    tag, channels, rate, _bps, _align, bits = struct.unpack_from("<HHIIHH", fmt, 0)
    if channels < 1 or rate < 1:
        raise ValueError(f"corrupt WAV fmt: channels={channels} rate={rate}")
    if tag == 0xFFFE:  # extensible: real tag is the first 2 GUID bytes
        (tag,) = struct.unpack_from("<H", fmt, 24)
    if tag == 1:  # integer PCM
        if bits == 8:
            raw = np.frombuffer(data, dtype=np.uint8).astype(np.float64)
            samples = (raw - 128.0) / 128.0
        elif bits == 16:
            samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
        elif bits == 24:
            b = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
            v = (
                b[:, 0].astype(np.int32)
                | (b[:, 1].astype(np.int32) << 8)
                | (b[:, 2].astype(np.int32) << 16)
            )
            v = np.where(v >= 1 << 23, v - (1 << 24), v)
            samples = v.astype(np.float64) / float(1 << 23)
        elif bits == 32:
            samples = np.frombuffer(data, dtype="<i4").astype(np.float64) / float(
                1 << 31
            )
        else:
            raise NotImplementedError(f"{bits}-bit PCM WAV unsupported")
    elif tag == 3:  # IEEE float
        if bits == 32:
            samples = np.frombuffer(data, dtype="<f4").astype(np.float64)
        elif bits == 64:
            samples = np.frombuffer(data, dtype="<f8").astype(np.float64)
        else:
            raise NotImplementedError(f"{bits}-bit float WAV unsupported")
    elif tag == 6:  # G.711 A-law (telephony corpora)
        samples = _ALAW_DECODE_LUT[np.frombuffer(data, dtype=np.uint8)]
    elif tag == 7:  # G.711 mu-law
        samples = _ULAW_DECODE_LUT[np.frombuffer(data, dtype=np.uint8)]
    else:
        raise NotImplementedError(
            f"compressed WAV format tag {tag} (ADPCM/mp3 need a codec lib)"
        )
    frames = samples.size // channels
    return rate, channels, samples[: frames * channels].reshape(frames, channels)


def encode_wav(
    samples, sample_rate: int, bits: int = 16, companding: str | None = None
) -> bytes:
    """(n_frames, channels) float in [-1, 1] -> WAV bytes: 16-bit
    signed PCM, 32-bit IEEE float, or (``companding`` = 'ulaw'/'alaw')
    8-bit G.711 telephony encoding."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr[:, None]
    channels = arr.shape[1]
    if companding is not None:
        pcm = np.clip(np.round(arr * 32768.0), -32768, 32767).astype(np.int64)
        if companding == "ulaw":
            data = _linear_to_ulaw(pcm).tobytes()
            tag = 7
        elif companding == "alaw":
            data = _linear_to_alaw(pcm).tobytes()
            tag = 6
        else:
            raise ValueError("companding must be 'ulaw' or 'alaw'")
        bits, bps = 8, 1
    elif bits == 16:
        data = (
            np.clip(np.round(arr * 32768.0), -32768, 32767)
            .astype("<i2")
            .tobytes()
        )
        tag, bps = 1, 2
    elif bits == 32:
        data = arr.astype("<f4").tobytes()
        tag, bps = 3, 4
    else:
        raise ValueError("encode_wav writes 16-bit PCM or 32-bit float")
    fmt = struct.pack(
        "<HHIIHH",
        tag,
        channels,
        sample_rate,
        sample_rate * channels * bps,
        channels * bps,
        bits,
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def audio_stats_features(media: DataFrame) -> DataFrame:
    """REAL WAV decode + per-clip signal statistics: (media_id,
    sample_rate, channels, n_frames, duration_ms, rms, peak,
    zero_crossing_rate). Map-only Arrow pass."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
            T.StructField("n_frames", T.LongType()),
            T.StructField("duration_ms", T.LongType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("peak", T.DoubleType()),
            T.StructField("zero_crossing_rate", T.DoubleType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k.name: [] for k in schema}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                rate, ch, s = _parse_wav(bytes(p))
                mono = s.mean(axis=1)
                zc = (
                    float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
                    if mono.size > 1
                    else 0.0
                )
                rows["media_id"].append(mid)
                rows["sample_rate"].append(rate)
                rows["channels"].append(ch)
                rows["n_frames"].append(s.shape[0])
                rows["duration_ms"].append(int(s.shape[0] * 1000 / rate))
                rows["rms"].append(
                    float(np.sqrt(np.mean(s**2))) if s.size else 0.0
                )
                rows["peak"].append(float(np.abs(s).max(initial=0.0)))
                rows["zero_crossing_rate"].append(zc)
            yield pd.DataFrame(rows)

    return media.mapInPandas(batches, schema=schema)


def audio_resample(media: DataFrame, target_rate: int = 16000) -> DataFrame:
    """REAL linear-interpolation resample of WAV payloads to
    ``target_rate`` (the cheap training-pipeline normalizer — a
    windowed-sinc filter is the production upgrade, same plumbing);
    re-emits the media schema with 16-bit PCM payloads."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads, metas = [], []
            for p, m in zip(pdf["payload"], pdf["meta"]):
                rate, ch, s = _parse_wav(bytes(p))
                n_out = max(1, int(round(s.shape[0] * target_rate / rate)))
                t_out = np.arange(n_out) * (rate / target_rate)
                src = np.arange(s.shape[0], dtype=np.float64)
                out = np.stack(
                    [np.interp(t_out, src, s[:, c]) for c in range(ch)], axis=1
                )
                payloads.append(encode_wav(out, target_rate))
                metas.append(
                    {
                        **m,
                        "mime": "audio/wav",
                        "duration_ms": int(n_out * 1000 / target_rate),
                    }
                )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads, "meta": metas}
            )

    return media.mapInPandas(batches, schema=MEDIA_SCHEMA)

