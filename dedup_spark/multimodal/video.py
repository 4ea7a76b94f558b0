"""Video frame sampling + sampled-frame near-dup over rawv containers.

The rawv container (fixtures/av.py) stores raw RGB24 frames at fixed
offsets, so frame extraction is pure offset arithmetic — which means
the HOT path never leaves the JVM: `frame_signatures` explodes the
sampled frame indices with `sequence()` and computes each frame's
signature with `md5(hex(substring(bytes, off, len)))`, all inside
whole-stage codegen. The DuckDB oracle recomputes the identical
signature from the same stored bytes (`md5(substring(hex(bytes),...))`
— hex-then-slice vs slice-then-hex commute), so the gate is a full
value recompute with zero Python on either side.

`sample_frames` is the materializing variant — an Arrow-batched
mapInPandas that validates the container header and emits the actual
frame payloads for downstream per-frame feature work (phash etc.);
a unit test pins it byte-identical to the JVM slicing path. This is
the real plumbing the task model asks for: real-world codecs would
swap the slice for a decode call inside the same UDF shape
(multimodal/decode.py documents that stub boundary).

Near-dup semantics: two videos are near-duplicates when the Jaccard
similarity of their sampled-frame signature SETS clears a threshold.
Sampling every Nth frame catches exact copies, end-trims, appends and
re-containerizations; it does NOT catch arbitrary mid-cuts (the
sampled grids misalign) — a documented property of stride sampling,
not a bug.

Scale shape: signatures shuffle as (sig, video_id) — O(n_frames/N)
rows, never payload bytes (the substring is evaluated in the scan
stage, column-pruned to one projection); the pair generator is
`banding.shared_key_pairs`, the capped inverted index the shingle
tiers share, so a viral frame (one sig in millions of videos) degrades
to a logged cap, not an O(n²) bucket explosion.

Reference parity note: the reference CLI has no video tier — this is
part of the [EXT] multimodal surface (SURVEY.md §2.3) generalizing its
group-by-content-hash cascade (src/hasher.rs grouping) to sampled
frame content.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from dedup_spark.fixtures.av import RAWV_HEADER, RAWV_MAGIC
from dedup_spark.operators.banding import shared_key_pairs

FRAMES_SCHEMA = (
    "video_id string, frame_idx int, frame_bytes binary, w int, h int"
)


def frame_signatures(
    df: DataFrame,
    every_n: int = 4,
    id_col: str = "video_id",
) -> DataFrame:
    """(video_id, frame_idx, sig) for every sampled frame — JVM-only.

    sig = md5 of the UPPERCASE hex of the raw frame bytes: hex (not raw
    bytes) feeds md5 so the DuckDB oracle can express the identical
    value on a BLOB it cannot slice natively (this DuckDB build has no
    blob substring/md5 — but hex(bytes) is a VARCHAR it can slice).
    """
    frame_size = F.col("w") * F.col("h") * F.lit(3)
    sampled = df.select(
        id_col,
        "w",
        "h",
        F.explode(
            F.sequence(
                F.lit(0), F.col("n_frames") - 1, F.lit(every_n)
            )
        ).alias("frame_idx"),
        F.col("bytes"),
    )
    return sampled.select(
        id_col,
        "frame_idx",
        F.md5(
            F.upper(
                F.hex(
                    F.substring(
                        F.col("bytes"),
                        F.lit(RAWV_HEADER + 1)
                        + F.col("frame_idx") * frame_size,
                        frame_size,
                    )
                )
            )
        ).alias("sig"),
    )


def sample_frames(
    df: DataFrame,
    every_n: int = 4,
    id_col: str = "video_id",
) -> DataFrame:
    """Materialize every Nth frame's payload via Arrow-batched
    mapInPandas — the plumbing real-world codecs would plug into.
    Validates the container header (magic + frame count + geometry)
    and skips unreadable rows, mirroring the unreadable-file skip
    semantics of the exact tier (reference src/hasher.rs:57-60)."""

    def _sample(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: list[tuple] = []
            for vid, data, w, h, n_frames in zip(
                pdf[id_col], pdf["bytes"], pdf["w"], pdf["h"], pdf["n_frames"]
            ):
                if data is None:
                    continue
                data = bytes(data)
                fsz = int(w) * int(h) * 3
                ok = (
                    data[:4] == RAWV_MAGIC
                    and int.from_bytes(data[4:8], "big") == int(n_frames)
                    and int.from_bytes(data[8:10], "big") == int(w)
                    and int.from_bytes(data[10:12], "big") == int(h)
                    and len(data) >= RAWV_HEADER + int(n_frames) * fsz
                )
                if not ok:
                    continue
                for k in range(0, int(n_frames), every_n):
                    off = RAWV_HEADER + k * fsz
                    out.append((vid, k, data[off : off + fsz], int(w), int(h)))
            yield pd.DataFrame(
                out, columns=["video_id", "frame_idx", "frame_bytes", "w", "h"]
            )

    return df.select(id_col, "bytes", "w", "h", "n_frames").mapInPandas(
        _sample, schema=FRAMES_SCHEMA
    )


def signature_set_pairs(
    sigs: DataFrame,
    threshold: float = 0.5,
    max_posting: int | None = 4096,
    id_col: str = "video_id",
) -> DataFrame:
    """(id1, id2, jaccard) over (id, sig) rows — the shared inverted-
    index + set-Jaccard pair stage of every frame-signature tier (rawv
    and MJPEG-AVI alike). Jaccard runs on DISTINCT sigs per id and the
    filter uses the ROUNDED value (6 places) for oracle float parity;
    ``max_posting`` caps viral sigs, drops logged (None = exact-gate
    variant)."""
    # one shuffle by id yields each id's distinct sig set and its size,
    # which rides into the pair join as a carry column
    sets = sigs.groupBy(id_col).agg(F.collect_set("sig").alias("_sigs"))
    rows = sets.select(
        id_col, F.size("_sigs").alias("n_sigs"), F.explode("_sigs").alias("sig")
    )
    pairs = shared_key_pairs(
        rows, "sig", max_posting, "signature_set_pairs",
        id_col=id_col, carry_cols=["n_sigs"],
    )
    jac = F.round(
        F.col("n_shared") / (F.col("n_sigs1") + F.col("n_sigs2") - F.col("n_shared")),
        6,
    )
    return pairs.select("id1", "id2", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def video_near_duplicates(
    df: DataFrame,
    every_n: int = 4,
    threshold: float = 0.5,
    max_posting: int | None = 4096,
    id_col: str = "video_id",
) -> DataFrame:
    """rawv tier: JVM-only frame signatures → shared pair stage."""
    return signature_set_pairs(
        frame_signatures(df, every_n=every_n, id_col=id_col),
        threshold=threshold,
        max_posting=max_posting,
        id_col=id_col,
    )


def scene_segments(df: DataFrame, id_col: str = "video_id") -> DataFrame:
    """Per-video scene segmentation over EXACT frame runs: a scene is
    a maximal run of byte-identical consecutive frames, a cut is any
    frame differing from its predecessor. This is the frozen-frame /
    static-segment detector video curation runs at ingest (slideshow
    and broken-encode detection; per-scene sampling budgets); with a
    real codec the equality test swaps for a perceptual distance in
    the same two-window shape.

    Returns (video_id, n_frames, n_scenes, longest_run, is_static).

    Shape: ALL frame signatures (every_n=1, JVM-only md5-of-hex as in
    `frame_signatures`), then two windows partitioned BY VIDEO (never
    global — parallelism is per-video, each window sorts one video's
    frame list) and one combinable aggregate: cut flags via lag, run
    ids via a running sum of cuts, run lengths via groupBy. The DuckDB
    oracle recomputes signatures from hex(bytes) and the identical
    lag/sum/group cascade."""
    from pyspark.sql import Window

    sigs = frame_signatures(df, every_n=1, id_col=id_col)
    w = Window.partitionBy(id_col).orderBy("frame_idx")
    cuts = sigs.withColumn(
        "_cut",
        F.when(
            F.lag("sig").over(w).isNull()
            | (F.col("sig") != F.lag("sig").over(w)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("_run", F.sum("_cut").over(w))
    run_lens = cuts.groupBy(id_col, "_run").agg(
        F.count(F.lit(1)).cast("long").alias("_len")
    )
    return run_lens.groupBy(id_col).agg(
        F.sum("_len").cast("long").alias("n_frames"),
        F.count(F.lit(1)).cast("long").alias("n_scenes"),
        F.max("_len").cast("long").alias("longest_run"),
        (F.count(F.lit(1)) == 1).alias("is_static"),
    )
