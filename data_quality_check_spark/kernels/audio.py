"""PCM-WAV decode + per-clip audio statistics, from scratch.

The reference names no audio capability (its README is 2 lines); the
driver instruction asks for the audio modality's decode /
feature-extract plumbing with the decode step stubbed ONLY where the
sandbox lacks codecs.  PCM WAV needs no codec — RIFF is a length-
prefixed chunk list and the payload is little-endian int16 — so this
kernel implements the real thing (the same from-scratch discipline as
kernels/codecs.py's PNG decoder); the ffmpeg-class formats (mp3/ogg)
remain honestly stubbed in operators/multimodal.py.

Shared verbatim by the Spark pandas UDF and the numpy fixture oracle
(operators/audioquality.py::expected_audioquality) — parity is by
construction.  All statistics are per-ROW reductions over that row's
own fixed sample array, so results are independent of Arrow batch
composition by construction (the repo's batch-invariance rule needs
no bincount trick here).
"""

from __future__ import annotations

import struct

import numpy as np

FULL_SCALE = 32768.0
_CLIP_LEVEL = int(32767 * 0.999)
_SILENCE_LEVEL = FULL_SCALE * 0.01   # 1% FS ~ -40 dBFS per sample
_FFT_MAX = 16384                     # spectral stats on the head only


def encode_wav(samples: np.ndarray, sr: int) -> bytes:
    """Mono 16-bit PCM WAV (RIFF) encoder for the generator/tests."""
    x = np.asarray(samples, dtype=np.int16)
    data = x.tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = (b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16))
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


def decode_wav(blob: bytes) -> tuple[int, np.ndarray]:
    """Strict RIFF/PCM16 parse -> (sample_rate, int16 samples).
    Raises ValueError on truncation, non-PCM, non-16-bit data or a
    zero sample rate — undecodable rows fail every audio rule, same
    contract as the image decoder."""
    if blob is None or len(blob) < 44 or blob[:4] != b"RIFF" \
            or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE blob")
    pos, sr, bits, channels, data = 12, None, None, None, None
    n = len(blob)
    while pos + 8 <= n:
        cid = blob[pos:pos + 4]
        (clen,) = struct.unpack_from("<I", blob, pos + 4)
        body = pos + 8
        if body + clen > n:
            raise ValueError("truncated chunk")
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError("short fmt chunk")
            audio_fmt, channels, sr = struct.unpack_from("<HHI", blob, body)
            bits = struct.unpack_from("<H", blob, body + 14)[0]
            if audio_fmt != 1:
                raise ValueError("not PCM")
        elif cid == b"data":
            data = blob[body:body + clen]
        pos = body + clen + (clen & 1)  # chunks are word-aligned
    if sr is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if sr == 0:
        # duration and the fingerprint's slice/band edges divide by sr
        raise ValueError("zero sample rate")
    if bits != 16 or channels != 1:
        raise ValueError("only mono 16-bit PCM supported")
    if len(data) % 2:
        raise ValueError("odd PCM byte count")
    return sr, np.frombuffer(data, dtype="<i2")


def audio_stats(x: np.ndarray, sr: int) -> dict:
    """Per-clip quality statistics over int16 samples.

    rms_db is dBFS with an exact -120.0 floor (an all-zero clip has
    no finite log); spectral_centroid_hz is the magnitude-weighted
    mean rfft frequency of the first `_FFT_MAX` samples (0.0 for a
    spectrum with no energy)."""
    n = int(x.size)
    xf = x.astype(np.float64)
    out = {"n_samples": n, "duration_s": n / float(sr)}
    if n == 0:
        out.update(rms_db=-120.0, peak_frac=0.0, clip_frac=0.0,
                   silence_frac=1.0, dc_frac=0.0, zcr=0.0,
                   spectral_centroid_hz=0.0)
        return out
    ax = np.abs(xf)
    rms = float(np.sqrt(np.mean(xf * xf)))
    out["rms_db"] = (20.0 * np.log10(rms / FULL_SCALE)
                     if rms > 0 else -120.0)
    if out["rms_db"] < -120.0:
        out["rms_db"] = -120.0
    out["peak_frac"] = float(ax.max()) / FULL_SCALE
    out["clip_frac"] = float(np.count_nonzero(ax >= _CLIP_LEVEL)) / n
    out["silence_frac"] = float(np.count_nonzero(ax < _SILENCE_LEVEL)) / n
    out["dc_frac"] = abs(float(np.mean(xf))) / FULL_SCALE
    if n > 1:
        s = np.signbit(xf)
        out["zcr"] = float(np.count_nonzero(s[1:] != s[:-1])) / (n - 1)
    else:
        out["zcr"] = 0.0
    head = xf[:_FFT_MAX]
    mag = np.abs(np.fft.rfft(head))
    tot = float(mag.sum())
    if tot > 0:
        freqs = np.fft.rfftfreq(head.size, d=1.0 / sr)
        out["spectral_centroid_hz"] = float((mag * freqs).sum()) / tot
    else:
        out["spectral_centroid_hz"] = 0.0
    return out


_FP_SLICES = 16
_FP_BANDS = 4


def audio_fingerprint64(x: np.ndarray, sr: int) -> int:
    """Chromaprint/Shazam-shaped 64-bit spectral fingerprint: the
    clip is cut into 16 equal time slices; each slice contributes 4
    log-spaced band energies (rfft magnitude sums); bit (s*4 + b) is
    1 iff band b's energy ROSE from slice s-1 to slice s (slice 0
    compares against 0).  The sign of a temporal energy DELTA is
    invariant to uniform gain, so volume-scaled re-encodes of a clip
    land within a few bits — the banding index finds them where the
    exact byte digest cannot.  Returns a SIGNED 64-bit int (Spark
    LongType convention)."""
    n = int(x.size)
    if n == 0:
        return 0
    xf = x.astype(np.float64)
    slice_len = max(n // _FP_SLICES, 1)
    # log-spaced band edges over [~60 Hz, Nyquist]
    nyq = sr / 2.0
    edges = np.geomspace(60.0, nyq, _FP_BANDS + 1)
    prev = np.zeros(_FP_BANDS)
    bits = 0
    for s in range(_FP_SLICES):
        seg = xf[s * slice_len:(s + 1) * slice_len]
        if seg.size == 0:
            cur = np.zeros(_FP_BANDS)
        else:
            mag = np.abs(np.fft.rfft(seg))
            freqs = np.fft.rfftfreq(seg.size, d=1.0 / sr)
            cur = np.array([
                float(mag[(freqs >= edges[b]) & (freqs < edges[b + 1])]
                      .sum())
                for b in range(_FP_BANDS)])
        for b in range(_FP_BANDS):
            if cur[b] > prev[b]:
                bits |= 1 << (s * _FP_BANDS + b)
        prev = cur
    return bits - (1 << 64) if bits >= (1 << 63) else bits
