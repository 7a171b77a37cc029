"""PCM16 audio operators — a REAL binary codec path (unlike the
image/video codecs, raw PCM needs only numpy's ``frombuffer``, so
nothing here is stubbed).

Audio rows are opaque ``binary`` payloads of little-endian int16
samples keyed by ``media_id`` (PCM_SCHEMA below). Decode
and per-frame feature extraction run as Arrow-batched ``mapInPandas``
— one vectorized numpy pass per batch, never per-row Python — and the
partitioning story is the binary-column one: payload bytes stay inside
their partition, ``spark.sql.files.maxPartitionBytes`` bounds batch
memory.

The encode→decode roundtrip is deliberately oracle-checkable: samples
are ``trunc(x * PCM_SCALE)`` (exact in float64, reproducible by
DuckDB's ``trunc``), and the clip-level feature returns the integer
``sum_sq`` so the final RMS math happens JVM-side in one expression —
integer sums < 2^53 are exact under any summation order, making the
whole binary pipeline bit-reproducible end to end (dp_audio_rms).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PCM_SCALE = 20000  # int16 quantization scale; |x| must stay < 32767/SCALE

PCM_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_samples", T.LongType()),
    ]
)

CLIP_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)

FRAME_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zcr", T.DoubleType()),
    ]
)


def encode_pcm16(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """float array → little-endian int16 PCM payload via
    ``trunc(x * PCM_SCALE)``. Out-of-range samples fail loudly (a
    silent int16 wraparound would corrupt every downstream feature)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        limit = 32767.0 / PCM_SCALE
        for pdf in it:
            payloads, counts = [], []
            for vec in pdf["vec"]:
                x = np.asarray(vec, dtype=np.float64)
                if x.size and np.abs(x).max() >= limit:
                    raise ValueError(
                        f"encode_pcm16: sample magnitude {np.abs(x).max():.4f} "
                        f">= {limit:.4f} would wrap int16 — rescale upstream"
                    )
                samples = np.trunc(x * PCM_SCALE).astype(np.int16)
                payloads.append(samples.astype("<i2").tobytes())
                counts.append(x.size)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "n_samples": pd.Series(counts, dtype="int64"),
                }
            )

    src = df.select(F.col(id_col).alias("media_id"), F.col(vec_col).alias("vec"))
    return src.mapInPandas(batches, PCM_SCHEMA)


def _samples(payload: bytes) -> np.ndarray:
    return np.frombuffer(bytes(payload), dtype="<i2").astype(np.int64)


def clip_features(df: DataFrame) -> DataFrame:
    """Whole-clip decode → (n_samples, sum of squared samples, zero
    crossings). ``sum_sq`` stays integer so RMS derived from it is
    bit-exact regardless of batch/partition order."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n, sq, zc = [], [], []
            for payload in pdf["payload"]:
                s = _samples(payload)
                n.append(s.size)
                sq.append(int(np.sum(s * s)))
                signs = np.sign(s)
                nz = signs[signs != 0]
                zc.append(int(np.count_nonzero(np.diff(nz))) if nz.size else 0)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_samples": pd.Series(n, dtype="int64"),
                    "sum_sq": pd.Series(sq, dtype="int64"),
                    "zero_crossings": pd.Series(zc, dtype="int64"),
                }
            )

    return df.select("media_id", "payload").mapInPandas(batches, CLIP_FEATURES_SCHEMA)


def frame_features(df: DataFrame, frame: int = 16, hop: int = 8) -> DataFrame:
    """Sliding-window frame features: per-frame RMS and zero-crossing
    rate, one output row per frame (explode happens inside the Arrow
    batch — numpy stride tricks, no Python loop over samples)."""
    if frame < 2 or hop <= 0:
        # frame=1 would divide zcr by (frame-1)=0 → silent NaN rows
        raise ValueError(f"frame must be >= 2 and hop positive, got {frame}/{hop}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, rmss, zcrs = [], [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                s = _samples(payload)
                if s.size < frame:
                    continue
                n_frames = 1 + (s.size - frame) // hop
                windows = np.lib.stride_tricks.sliding_window_view(s, frame)[::hop]
                rms = np.sqrt(np.mean(windows.astype(np.float64) ** 2, axis=1))
                sign_flips = np.abs(np.diff(np.sign(windows), axis=1)) > 1
                zcr = sign_flips.sum(axis=1) / (frame - 1)
                ids.extend([media_id] * n_frames)
                idxs.extend(range(n_frames))
                rmss.extend(np.round(rms, 6))
                zcrs.extend(np.round(zcr, 6))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "rms": pd.Series(rmss, dtype="float64"),
                    "zcr": pd.Series(zcrs, dtype="float64"),
                }
            )

    return df.select("media_id", "payload").mapInPandas(batches, FRAME_FEATURES_SCHEMA)


SPECTRAL_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_fft", T.IntegerType()),
        T.StructField("band_energy", T.ArrayType(T.DoubleType())),
        T.StructField("dom_bin", T.IntegerType()),
        T.StructField("spectral_total", T.DoubleType()),
    ]
)


def spectral_features(df: DataFrame, n_fft: int = 64, bands: int = 4) -> DataFrame:
    """Power-spectrum features over the first ``n_fft`` samples of each
    clip: per-band energies (``bands`` equal slices of the rfft bins),
    the dominant non-DC bin, and ``spectral_total`` — the total energy
    recovered from the spectrum via Parseval's theorem. numpy rfft
    inside the Arrow batch (mapInPandas), one vectorized pass, no
    per-sample Python.

    ``spectral_total`` is the oracle hook: Parseval says it EQUALS the
    time-domain sum of squares, which is an exact integer DuckDB can
    recompute from the float source — so rounding it to that integer
    turns energy conservation into a hash-checkable per-row value
    (float64 rfft keeps the error ~1e-4 absolute against a ~1e10
    magnitude, three orders under the 0.5 rounding slack)."""
    if n_fft < 4 or n_fft % 2:
        raise ValueError(f"n_fft must be even and >= 4, got {n_fft}")
    half = n_fft // 2  # rfft yields half+1 bins

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, bes, doms, totals = [], [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                s = _samples(payload)
                if s.size < n_fft:
                    continue
                p = np.abs(np.fft.rfft(s[:n_fft].astype(np.float64))) ** 2
                # Parseval weights for even n_fft: DC and Nyquist once,
                # interior bins twice (conjugate-symmetric halves)
                w = np.full(half + 1, 2.0)
                w[0] = w[-1] = 1.0
                contrib = w * p / n_fft
                edges = np.linspace(0, half + 1, bands + 1).astype(int)
                bes.append(
                    [round(float(contrib[a:b].sum()), 6) for a, b in zip(edges, edges[1:])]
                )
                doms.append(int(np.argmax(p[1:]) + 1))
                totals.append(float(contrib.sum()))
                ids.append(media_id)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "n_fft": pd.Series([n_fft] * len(ids), dtype="int32"),
                    "band_energy": pd.Series(bes, dtype="object"),
                    "dom_bin": pd.Series(doms, dtype="int32"),
                    "spectral_total": pd.Series(totals, dtype="float64"),
                }
            )

    return df.select("media_id", "payload").mapInPandas(batches, SPECTRAL_SCHEMA)
