"""Spectral view: STFT over regular per-conversation series.

Reference parity: ``create_sfft_windows`` (``edf_reader.py:248-395``) —
frames of 2·rate samples, hop = rate, hamming window, |Z| clamped at
1e-5 then 20·log10 (``edf_reader.py:321-331``). The reference runs
scipy.signal.stft per file; this engine runs the same math as a
**vectorized numpy kernel inside applyInPandas** per (conv_id[, chunk])
group — Arrow batches in, no scipy dependency (hamming + rfft are pure
numpy), no per-row Python.

Input contract: a *regular* series (conv_id, idx, value) — e.g. the 1m
tier's cnt/mean per minute after gap-fill, the transcript analog of the
reference's fixed-rate signal. The "two aligned views" invariant
(edf_reader.py:362-363) holds by construction: time windows and STFT
frames both derive from the same integer idx grid.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STFT_SCHEMA = "conv_id string, frame_idx int, freq_bin int, power_db double"


def stft_frames_np(x: np.ndarray, frame: int, hop: int) -> np.ndarray:
    """Reference math, vectorized: hamming-windowed frames → rfft →
    |Z| clamp 1e-5 → 20·log10. Returns (n_frames, frame//2+1)."""
    n = (len(x) - frame) // hop + 1 if len(x) >= frame else 0
    if n <= 0:
        return np.zeros((0, frame // 2 + 1))
    idx = np.arange(frame)[None, :] + hop * np.arange(n)[:, None]
    frames = x[idx] * np.hamming(frame)[None, :]
    z = np.abs(np.fft.rfft(frames, axis=1))
    z = np.maximum(z, 1e-5)  # edf_reader.py:326-328's clamp-then-log
    return 20.0 * np.log10(z)


def stft_series(
    series: DataFrame, frame: int = 64, hop: int = 32, value_col: str = "value"
) -> DataFrame:
    """Grouped-map STFT: one output row per (conv, frame, freq_bin)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("idx", kind="mergesort")
        conv = pdf["conv_id"].iloc[0]
        p = stft_frames_np(pdf[value_col].to_numpy(dtype=np.float64), frame, hop)
        nf, nb = p.shape
        if nf == 0:
            return pd.DataFrame(columns=["conv_id", "frame_idx", "freq_bin", "power_db"])
        return pd.DataFrame(
            {
                "conv_id": conv,
                "frame_idx": np.repeat(np.arange(nf, dtype=np.int32), nb),
                "freq_bin": np.tile(np.arange(nb, dtype=np.int32), nf),
                "power_db": p.ravel(),
            }
        )

    return series.select("conv_id", "idx", value_col).groupBy("conv_id").applyInPandas(
        kernel, STFT_SCHEMA
    )


PARSEVAL_SCHEMA = "conv_id string, frame_idx int, parseval_ratio double"


def stft_parseval(
    series: DataFrame,
    frame: int = 32,
    hop: int = 16,
    value_col: str = "value",
    max_frames: int | None = None,
) -> DataFrame:
    """Per-frame Parseval identity check of the STFT path: for the real
    FFT, |X_0|² + |X_{N/2}|² + 2·Σ_{0<k<N/2}|X_k|²  ==  N · Σ_n (w_n x_n)².
    Emits the ratio of the two sides (rounded to 9 decimals → exactly 1.0
    when the FFT is correct), keyed by the same (conv, frame) grid as
    ``stft_series`` — which makes the frame-alignment arithmetic AND the
    spectral math SQL-oracle-checkable without an FFT in the oracle.

    ``max_frames`` bounds output (and compute) to the first N frames per
    conversation — a verification query doesn't need every frame of a
    pathologically long series; the bound is applied to the INPUT rows
    too, so capped frames are never shuffled into the kernel."""
    if max_frames is not None:
        # frames 0..max_frames-1 read samples idx < hop*(max_frames-1)+frame
        series = series.filter(F.col("idx") < hop * (max_frames - 1) + frame)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("idx", kind="mergesort")
        x = pdf[value_col].to_numpy(dtype=np.float64)
        n = (len(x) - frame) // hop + 1 if len(x) >= frame else 0
        if max_frames is not None:
            n = min(n, max_frames)
        if n <= 0:
            return pd.DataFrame(columns=["conv_id", "frame_idx", "parseval_ratio"])
        idx = np.arange(frame)[None, :] + hop * np.arange(n)[:, None]
        wx = x[idx] * np.hamming(frame)[None, :]
        z = np.abs(np.fft.rfft(wx, axis=1)) ** 2
        spec = z[:, 0] + z[:, -1] + 2.0 * z[:, 1:-1].sum(axis=1)
        time_e = frame * (wx**2).sum(axis=1)
        ratio = np.where(time_e == 0.0, 1.0, spec / np.where(time_e == 0.0, 1.0, time_e))
        return pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].iloc[0],
                "frame_idx": np.arange(n, dtype=np.int32),
                "parseval_ratio": np.round(ratio, 9),
            }
        )

    return series.select("conv_id", "idx", value_col).groupBy("conv_id").applyInPandas(
        kernel, PARSEVAL_SCHEMA
    )


def per_bin_stats(stft: DataFrame) -> DataFrame:
    """Per-frequency-bin mean/std over all frames — the reference's
    per-bin STFT metrics (``edf_reader.py:385-390``, vectors of length
    nperseg/2+1 in ``File_Struct.py:343``)."""
    return stft.groupBy("freq_bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("power_db").alias("mean_db"),
        F.stddev_samp("power_db").alias("std_db"),
    )


def stft_per_bin_stats(
    series: DataFrame,
    frame: int = 64,
    hop: int = 32,
    value_col: str = "value",
    length_col: str | None = None,
) -> DataFrame:
    """Fused ``per_bin_stats(stft_series(...))`` — same output schema
    and the same count/mean/std statistics, computed as per-conversation
    per-bin PARTIALS (n, Σ, Σ²) inside the STFT kernel and merged by a
    tiny JVM aggregate (guide §2.3: aggregate before you shuffle).

    The unfused composition materializes every (conv, frame, bin)
    power_db row out of the Python kernel only to average them — 67M
    Arrow rows at sf0.1 (measured 34 s); the fused kernel emits
    ``bins`` rows per conversation (~2.5k rows total) for identical
    statistics. Mean/std of a float stream are partition-order-dependent
    in ANY distributed reduction (the unfused aggregate included), so
    the fused result differs from it only in that same final-ulp sense;
    the identity is locked to 1e-9 relative in pytest.

    ``length_col``: when set, the input is a SPARSE series — only the
    non-zero points plus a per-conv dense length — and the kernel
    zero-fills with numpy. For a mostly-idle minute grid this moves the
    ~0.2% present points across the Arrow boundary instead of the full
    dense grid (63M rows → 96k at sf0.1); the densified array, and
    therefore every frame and statistic, is identical."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("idx", kind="mergesort")
        if length_col is not None:
            x = np.zeros(int(pdf[length_col].iloc[0]), dtype=np.float64)
            x[pdf["idx"].to_numpy(dtype=np.int64)] = pdf[value_col].to_numpy(
                dtype=np.float64
            )
        else:
            x = pdf[value_col].to_numpy(dtype=np.float64)
        p = stft_frames_np(x, frame, hop)
        nf, nb = p.shape
        if nf == 0:
            return pd.DataFrame(columns=["freq_bin", "n", "s1", "s2"])
        return pd.DataFrame(
            {
                "freq_bin": np.arange(nb, dtype=np.int32),
                "n": np.int64(nf),
                "s1": p.sum(axis=0),
                "s2": (p * p).sum(axis=0),
            }
        )

    cols = ["conv_id", "idx", value_col] + (
        [length_col] if length_col is not None else []
    )
    partials = series.select(*cols).groupBy("conv_id").applyInPandas(
        kernel, "freq_bin int, n long, s1 double, s2 double"
    )
    n, s1, s2 = F.sum("n"), F.sum("s1"), F.sum("s2")
    mean = s1 / n
    # sample variance from merged moments: (Σ² − (Σ)²/n) / (n−1)
    var = (s2 - s1 * s1 / n) / (n - F.lit(1))
    return partials.groupBy("freq_bin").agg(
        n.alias("n"),
        mean.alias("mean_db"),
        F.sqrt(var).alias("std_db"),
    )
