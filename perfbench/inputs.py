"""Deterministic benchmark inputs, generated from a seed.

Each workload's input is written as multi-file parquet under the work
directory, next to a ground-truth ``(image_id, cluster_id)`` table. The
directory name is the cache key (generator version, workload, size,
seed); a ``_COMPLETE`` manifest written last marks a finished input, so
an interrupted generation is redone rather than read half-written.

Only the generated files reach the program: the seed never does.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the bytes a given (workload, size, seed) produces change.
GEN_VERSION = 2
DUP_RATIO = 0.3  # exact duplicates
NEAR_DUP_RATIO = 0.1  # near duplicates: +-1 pixel noise, one caption word

IMAGE_COLUMNS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
MARKER = "_COMPLETE"
KEEP = 4  # inputs kept per workload; older seeds are deleted


@dataclass(frozen=True)
class InputSpec:
    """What to generate. ``files`` is the number of parquet files; for
    the ingest workload each file is one micro-batch."""

    workload: str
    rows: int
    files: int
    reencode: bool = False  # image_signatures: ppm/png/jpeg mix

    def key(self, seed: int) -> str:
        return (
            f"{self.workload}-g{GEN_VERSION}-n{self.rows}-f{self.files}"
            f"-r{int(self.reencode)}-s{seed}"
        )


@dataclass(frozen=True)
class Inputs:
    path: Path
    manifest: dict

    @property
    def files(self) -> list[str]:
        return [str(self.path / f) for f in self.manifest["files"]]

    def truth(self) -> dict[str, str]:
        t = pq.read_table(self.path / "truth.parquet").to_pandas()
        return dict(zip(t["image_id"], t["cluster_id"]))

    def exact_truth(self) -> dict[str, str]:
        t = pq.read_table(self.path / "truth.parquet").to_pandas()
        return dict(zip(t["image_id"], t["exact_cluster_id"]))


# image_signatures: every distinct image is resampled to one of these
# (w, h) and encoded in one of FORMATS, each pair equally often, so the
# decode cost of a pass does not depend on the seed. (The mixed
# profile's random sizes made it swing by a third between seeds.)
SIG_SIZES = ((16, 12), (24, 32), (40, 40), (64, 48), (48, 96), (96, 64))
FORMATS = ("ppm", "png", "jpeg")


def _reencode(images: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Resample and re-encode each distinct payload.

    Rows with identical bytes (exact duplicates) get identical encoded
    bytes, because the size, format and encoding depend on the content
    only. JPEG is lossy, so a near duplicate stays a near duplicate."""
    from dedup_spark.fixtures.images import decode_ppm, encode_ppm, phash64
    from dedup_spark.multimodal.jpeg import encode_jpeg
    from dedup_spark.multimodal.png import encode_png

    grid = [(w, h, f) for w, h in SIG_SIZES for f in FORMATS]
    offset = int(np.random.default_rng([seed, 7]).integers(0, len(grid)))
    done: dict[bytes, tuple] = {}
    for data in images["bytes"]:
        if data in done:
            continue
        w, h, fmt = grid[(len(done) + offset) % len(grid)]
        src = decode_ppm(data)
        px = src[(np.arange(h) * src.shape[0]) // h][:, (np.arange(w) * src.shape[1]) // w]
        enc = {"ppm": encode_ppm, "png": encode_png, "jpeg": lambda a: encode_jpeg(a, quality=90)}
        done[data] = (enc[fmt](px), w, h, fmt, int(phash64(px)))
    out = images.copy()
    cols = list(zip(*(done[d] for d in images["bytes"])))
    for name, values in zip(("bytes", "w", "h", "fmt", "phash"), cols):
        out[name] = list(values)
    return out


def _exact_clusters(images: pd.DataFrame) -> list[str]:
    """cluster id per row = min image_id among rows with identical bytes."""
    digest = [hashlib.sha256(b).hexdigest() for b in images["bytes"]]
    first = pd.Series(images["image_id"].values).groupby(digest).transform("min")
    return list(first)


def _table(df: pd.DataFrame) -> pa.Table:
    return pa.Table.from_pandas(
        df.astype({"w": "int32", "h": "int32", "phash": "int64"}),
        preserve_index=False,
    )


def generate(spec: InputSpec, seed: int, root: Path) -> Inputs:
    """Return the input for (spec, seed), generating it if absent."""
    path = root / spec.key(seed)
    marker = path / MARKER
    if marker.exists():
        return Inputs(path, json.loads(marker.read_text()))

    from dedup_spark.fixtures.images import generate_corpus

    t0 = time.monotonic()
    corpus = generate_corpus(
        spec.rows,
        dup_ratio=DUP_RATIO,
        near_dup_ratio=NEAR_DUP_RATIO,
        profile="mixed",
        seed=seed,
    )
    images = corpus.images[IMAGE_COLUMNS]
    if spec.reencode:
        images = _reencode(images, seed)
    truth = corpus.truth[["image_id", "cluster_id"]].copy()
    exact = dict(zip(images["image_id"], _exact_clusters(images)))
    truth["exact_cluster_id"] = truth["image_id"].map(exact)

    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    files = []
    bounds = np.linspace(0, len(images), spec.files + 1).astype(int)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        name = f"part-{i:03d}.parquet"
        pq.write_table(_table(images.iloc[lo:hi]), tmp / name)
        files.append(name)
    pq.write_table(pa.Table.from_pandas(truth, preserve_index=False), tmp / "truth.parquet")
    manifest = {
        "generator_version": GEN_VERSION,
        "key": spec.key(seed),
        "seed": seed,
        "rows": int(len(images)),
        "files": files,
        "file_bytes": sum(os.path.getsize(tmp / f) for f in files),
        "payload_bytes": int(sum(len(b) for b in images["bytes"])),
        "formats": images["fmt"].value_counts().sort_index().to_dict(),
        "gen_s": time.monotonic() - t0,
    }
    (tmp / MARKER).write_text(json.dumps(manifest, indent=1))
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    _prune(root, spec.workload)
    return Inputs(path, manifest)


def _prune(root: Path, workload: str) -> None:
    """Keep the KEEP newest inputs of a workload: a run with a new seed
    each time would otherwise fill the disk."""
    done = sorted(
        (p for p in root.glob(f"{workload}-*") if (p / MARKER).exists()),
        key=lambda p: (p / MARKER).stat().st_mtime,
    )
    for old in done[:-KEEP]:
        shutil.rmtree(old, ignore_errors=True)
