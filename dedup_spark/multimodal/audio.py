"""Audio feature extraction + amplitude-invariant fingerprint dedup.

pcm16 payloads (headerless int16 LE PCM, fixtures/av.py) are decoded
inside an Arrow-batched mapInPandas — `np.frombuffer` straight off the
Arrow buffer, windowed energies via one reshape/sum, fingerprint bits
via one vectorized diff — no per-sample Python anywhere.

The fingerprint is the delta-sign of consecutive window energies
(energy = exact int64 sum of squares over 256-sample windows, bit w-1
set iff energy[w] > energy[w-1]): a deliberately integer-exact design
so the DuckDB oracle can recompute the IDENTICAL value from the stored
bytes — hex(bytes) sliced into per-sample hex pairs, mapped to signed
values through a 256-row lookup join, summed, compared, bit-packed.
No floats means no rounding-parity hazards on either side.

Amplitude invariance: any monotone volume scaling preserves the energy
ordering (margins permitting), so volume-normalized duplicates collapse
to one fingerprint — the audio analog of the caption-normalization
dedup tier. The fixture generator asserts its half-volume variants
keep their fingerprints, so the invariance story is enforced by
construction, never by luck.

Dedup semantics: audios cluster on (n_windows, fingerprint) —
including the window count keeps a short clip from colliding with a
long one that happens to share low bits. Output is a full assignment
table (singletons self-clustered) like the exact tier.

Scale shape: the payload is consumed once in the UDF projection
(audio_id, bytes → audio_id, n_windows, fingerprint — bytes never
enters an exchange); clustering is a map-side-combined groupBy on a
16-byte key + a broadcast-sized join-back. A duplicate flood lands on
AQE's skew handling like every other content-keyed group.

Reference parity: [EXT] surface — generalizes the reference's
group-by-content-hash (src/hasher.rs) to a perceptual audio key.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from dedup_spark.fixtures.av import AUDIO_WINDOW

FEATURES_SCHEMA = "audio_id string, n_windows int, fingerprint long"


def audio_fingerprints(
    df: DataFrame,
    window: int = AUDIO_WINDOW,
    id_col: str = "audio_id",
) -> DataFrame:
    """(audio_id, n_windows, fingerprint) — vectorized pandas UDF.

    Truncates the trailing incomplete window (mirrored by the oracle's
    `k < n_windows * window` bound). Rows whose payload is missing or
    shorter than two windows (no delta exists) are dropped — unreadable
    -row skip semantics again."""

    def _fp(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: list[tuple] = []
            for aid, data in zip(pdf[id_col], pdf["bytes"]):
                if data is None:
                    continue
                samples = np.frombuffer(bytes(data), dtype="<i2")
                n_win = samples.shape[0] // window
                if n_win < 2:
                    continue
                x = samples[: n_win * window].astype(np.int64)
                e = (x * x).reshape(n_win, window).sum(axis=1)
                # fingerprint only the first 64 deltas: int64 shifts
                # >= 64 are undefined in numpy (alias mod 64 on x86),
                # so longer clips would silently corrupt the key. The
                # (n_windows, fingerprint) cluster key keeps the full
                # window count, so clips of different lengths never
                # collide even when their first-64 fingerprints match.
                # The oracle mirrors the bound (w <= 64).
                bits = (np.diff(e)[:64] > 0).astype(np.int64)
                fp = int((bits << np.arange(bits.shape[0], dtype=np.int64)).sum())
                out.append((aid, n_win, fp))
            yield pd.DataFrame(
                out, columns=["audio_id", "n_windows", "fingerprint"]
            )

    return df.select(id_col, "bytes").mapInPandas(_fp, schema=FEATURES_SCHEMA)


def audio_fingerprint_clusters(
    df: DataFrame,
    window: int = AUDIO_WINDOW,
    id_col: str = "audio_id",
) -> DataFrame:
    """Full assignment table: (audio_id, n_windows, fingerprint,
    cluster_id, n_members), cluster = min id per (n_windows,
    fingerprint) group, singletons self-clustered."""
    # one window attaches both per-group values: the fingerprint pass
    # (a mapInPandas) has this one consumer, so it runs once
    w = Window.partitionBy("n_windows", "fingerprint")
    return audio_fingerprints(df, window=window, id_col=id_col).select(
        id_col,
        "n_windows",
        "fingerprint",
        F.min(id_col).over(w).alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )


QUALITY_SCHEMA = (
    "audio_id string, n_windows long, n_silent long, silence_ratio double,"
    " n_clipped long, clip_ratio double, peak long"
)


def audio_quality_report(
    df: DataFrame,
    window: int = AUDIO_WINDOW,
    silence_energy: int | None = None,
    id_col: str = "audio_id",
) -> DataFrame:
    """Per-clip quality report — the silence/clipping signals speech
    curation drops on (dead air, broken gain staging): (audio_id,
    n_windows, n_silent, silence_ratio, n_clipped, clip_ratio, peak).

    Definitions (integer-exact, so the DuckDB oracle recomputes every
    value from hex(bytes) with zero float hazards):
      * a complete `window`-sample window is SILENT iff its exact
        int64 sum-of-squares energy < silence_energy (default
        fixtures/av.SILENCE_ENERGY, ~1% full-scale RMS);
      * a sample is CLIPPED iff |v| == 32767 (full-scale int16; the
        fixture never emits -32768, keeping the test symmetric);
      * window stats truncate the ragged tail (the fingerprint rule);
        clip stats and peak run over ALL n_samples.
    Ratios are single int/int divisions rounded to 6 dp. Clips shorter
    than one complete window are dropped (no window stats exist),
    mirroring the fingerprint tier's short-clip rule."""
    from dedup_spark.fixtures.av import SILENCE_ENERGY

    thr = SILENCE_ENERGY if silence_energy is None else silence_energy

    def _round6(x: float) -> float:
        # half-AWAY-from-zero on non-negative ratios: Python's round()
        # is banker's and diverges from Spark/DuckDB on exact ties
        # (8/1024 = 0.0078125 rounds to ...12 vs ...13)
        return math.floor(x * 1e6 + 0.5) / 1e6

    def _q(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: list[tuple] = []
            for aid, data, n_samples in zip(
                pdf[id_col], pdf["bytes"], pdf["n_samples"]
            ):
                if data is None:
                    continue
                n = int(n_samples)
                if len(data) < 2 * n or n < window:
                    continue
                x = np.frombuffer(data, dtype="<i2", count=n).astype(np.int64)
                n_win = n // window
                head = x[: n_win * window]
                e = (head * head).reshape(n_win, window).sum(axis=1)
                n_silent = int((e < thr).sum())
                n_clipped = int((np.abs(x) == 32767).sum())
                out.append(
                    (
                        aid,
                        n_win,
                        n_silent,
                        _round6(n_silent / n_win),
                        n_clipped,
                        _round6(n_clipped / n),
                        int(np.abs(x).max()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    id_col, "n_windows", "n_silent", "silence_ratio",
                    "n_clipped", "clip_ratio", "peak",
                ],
            )

    return df.select(id_col, "bytes", "n_samples").mapInPandas(
        _q, schema=QUALITY_SCHEMA
    )
