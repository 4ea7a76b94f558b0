"""Content-defined chunking (CDC) — sub-file binary dedup.

The storage-dedup classic (public: Muthitacharoen et al., "A Low-
Bandwidth Network File System", SOSP'01 — Rabin-style rolling-window
boundaries; FastCDC, ATC'16): split every blob at positions determined
by LOCAL content, hash each chunk, and dedup chunks across blobs. A
byte shift (prepend/insert) moves every fixed-size block but only the
chunks overlapping the edit change under CDC — boundaries downstream
of the edit are decided by the same local windows, so the chunk stream
RESYNCS. This generalizes the reference's whole-file hash grouping
(src/hasher.rs) to sub-file granularity, the same way exact_span_dedup
does for text.

Boundary rule here: a chunk ends after byte i (1-based, i >= 2) iff
the 2-byte window value ``b[i-1]*256 + b[i] == 0 (mod divisor)`` —
expected chunk length = ``divisor`` bytes. A production deployment
would use a 32-48 B gear/Rabin window with min/max clamps (this
2-byte window is chosen because the DuckDB oracle can recompute every
boundary with plain byte-pair arithmetic over hex(bytes) — the same
256-row hex lookup the audio tier uses); the window width only
changes the resync distance, not the algebra, and the engine path
below is vectorized over any width.

Chunk identity: md5 of the chunk's UPPERCASE-HEX encoding — the
repo-wide "hash the hex string" parity trick (DuckDB cannot md5
BLOBs; hex-then-slice commutes with slice-then-hex).

Scale shape: chunking is blob-local (one Arrow-batched mapInPandas
projection, embarrassingly parallel; payload bytes never shuffle —
only (id, len, md5) chunk records do). A chunk is flagged shared by
one window over its hash (``banding.held_by_two_ids``: min id < max
id), then one groupBy(id) rolls the report up: two Exchanges, the
chunker runs once, and nothing joins back. A chunk hash held by a
flood of blobs (a shared header) sorts all its rows in one task (the
walls of the same window on a 200k-doc flood are in boilerplate.py).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from dedup_spark.operators.banding import held_by_two_ids


def cdc_chunks(data: bytes, divisor: int = 64) -> list[tuple[int, int, str]]:
    """Pure chunker: [(start, end, md5hex)] half-open byte ranges
    covering ``data`` exactly. Boundaries are found vectorized (one
    pair-value array + one ``np.where``); only the md5 loop is
    per-chunk, bounded by len/divisor. The final partial chunk is
    emitted unless a boundary lands exactly on the last byte.
    Property-tested in tests/test_properties.py."""
    b = np.frombuffer(data, dtype=np.uint8)
    n = b.shape[0]
    if n == 0:
        # one empty chunk, so every input blob has a report row (and
        # matches the oracle's e=0 terminal-end row) — a blob must
        # never silently vanish from the dedup report
        return [(0, 0, hashlib.md5(b"").hexdigest())]
    pair = b[:-1].astype(np.int32) * 256 + b[1:]
    # pair j covers bytes (j+1, j+2) 1-based -> chunk ends after j+2
    ends = (np.where(pair % divisor == 0)[0] + 2).tolist()
    if not ends or ends[-1] != n:
        ends.append(n)
    hx = data.hex().upper()
    out, start = [], 0
    for e in ends:
        out.append(
            (start, e, hashlib.md5(hx[2 * start : 2 * e].encode()).hexdigest())
        )
        start = e
    return out


def chunk_records(
    df: DataFrame,
    id_col: str = "video_id",
    bytes_col: str = "bytes",
    divisor: int = 64,
) -> DataFrame:
    """(id, chunk_idx, chunk_len, chunk_md5) — one row per CDC chunk
    (see ``cdc_chunks`` for the boundary rule)."""

    def _chunks(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, lens, md5s = [], [], [], []
            for rid, data in zip(pdf[id_col], pdf[bytes_col]):
                for ci, (s, e, h) in enumerate(
                    cdc_chunks(bytes(data), divisor)
                ):
                    ids.append(rid)
                    idxs.append(ci)
                    lens.append(e - s)
                    md5s.append(h)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="string"),
                    "chunk_idx": pd.Series(idxs, dtype="int64"),
                    "chunk_len": pd.Series(lens, dtype="int64"),
                    "chunk_md5": pd.Series(md5s, dtype="string"),
                }
            )

    return df.select(id_col, bytes_col).mapInPandas(
        _chunks,
        schema=f"{id_col} string, chunk_idx long, chunk_len long, "
        "chunk_md5 string",
    )


def cdc_dedup_stats(
    df: DataFrame,
    id_col: str = "video_id",
    bytes_col: str = "bytes",
    divisor: int = 64,
) -> DataFrame:
    """Per-blob CDC dedup report: (id, n_chunks, n_bytes,
    n_shared_chunks, shared_fraction). A chunk is *shared* iff its
    hash occurs in >= 2 DISTINCT blobs; n_shared_chunks counts this
    blob's chunk INSTANCES whose hash is shared; shared_fraction =
    round(n_shared_chunks / n_chunks, 6)."""
    flagged = chunk_records(df, id_col, bytes_col, divisor).select(
        id_col,
        "chunk_len",
        held_by_two_ids(["chunk_md5"], id_col).cast("long").alias("_s"),
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("chunk_len").cast("long").alias("n_bytes"),
        F.sum("_s").cast("long").alias("n_shared_chunks"),
        F.round(F.sum("_s") / F.count(F.lit(1)), 6).alias("shared_fraction"),
    )
