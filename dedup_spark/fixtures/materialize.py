"""Materialize the pinned fixture corpora to parquet, one table of them.

The driver's correctness gate runs our Spark queries AND our DuckDB
oracle SQL side-by-side; for the payload queries both sides must see
the SAME table, so each synthesized corpus is written ONCE to a fixed
parquet path and both engines read that file — Spark via
``spark.read.parquet(fixture_parquet(name))``, DuckDB via
``read_parquet('<path>')``. This mirrors the reference's golden-contract
testing (the benchmark generator writes ground truth to disk and every
tool is checked against the same files, benchmark/generator.py:106-120).

``FIXTURES`` is the whole contract: each name maps to a directory
prefix, a file stem, a generator returning a pandas frame, the pinned
generator params and the DDL schema of the written table. The schema is
declared once — the same DDL string the Spark side uses — and the Arrow
column types are derived from it. The directory is
``<prefix><params tag>`` under ``FIXTURE_ROOT``, so changing a corpus'
params yields a new directory and a stale cache can never be silently
reused. Writes are atomic (temp file + rename) so concurrent callers
(pytest workers, the driver, check_oracle) never observe a partial
file. Pure pandas/pyarrow — no SparkSession needed, so the oracle side
can trigger materialization too.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pandas as pd

from dedup_spark.fixtures import av, images
from dedup_spark.fixtures.av import AUDIO_SCHEMA, VIDEOS_SCHEMA
from dedup_spark.fixtures.htmlgen import generate_html_corpus
from dedup_spark.fixtures.images import IMAGES_SCHEMA, TRUTH_SCHEMA

FIXTURE_ROOT = "/tmp/dedup_spark_fixture"

# DDL type -> pyarrow type factory name
_ARROW_TYPES = {
    "string": "string",
    "binary": "binary",
    "int": "int32",
    "long": "int64",
    "boolean": "bool_",
}


def _field(generate, attr: str):
    """The ``attr`` frame (.images/.truth/.videos/.audio) of a
    generator that returns a corpus object."""
    return lambda **params: getattr(generate(**params), attr)


def generate_zipf_docs(n_docs: int, seed: int) -> pd.DataFrame:
    """Zipf-vocabulary document corpus — a realistic term distribution
    for the retrieval tier (the driver's synthetic documents table has a
    31-term vocabulary with median df 0.78N, which degenerates BM25's df
    prune). ~5k-word vocab, Zipf-ranked frequencies, every 20th doc a
    10%-mutated copy of its predecessor so retrieval has planted true
    positives. Deterministic from seed."""
    rng = np.random.default_rng(seed)
    vocab_n = 5000
    ranks = np.arange(1, vocab_n + 1, dtype=np.float64)
    p = 1.0 / ranks
    p /= p.sum()
    ids, texts = [], []
    prev_words = None
    for i in range(n_docs):
        if prev_words is not None and i % 20 == 19:
            words = list(prev_words)  # near-dup: mutate 10% of tokens
            for j in rng.choice(len(words), max(1, len(words) // 10),
                                replace=False):
                words[j] = f"w{rng.choice(vocab_n, p=p)}"
        else:
            n_w = int(rng.integers(50, 200))
            words = [f"w{k}" for k in rng.choice(vocab_n, n_w, p=p)]
        ids.append(i)
        texts.append(" ".join(words))
        prev_words = words
    return pd.DataFrame({"doc_id": ids, "text": texts})


# the column sets most image corpora share
_IMAGE = "image_id string, bytes binary, w int, h int, fmt string"
_SOURCED = (
    "image_id string, src_id string, bytes binary, w int, h int, fmt string"
)
_PIXEL_CORPUS = dict(n_rows=400, dup_ratio=0.3, near_dup_ratio=0.1,
                     norm_dup_ratio=0.08, seed=42)

# name -> (directory prefix, file stem, generator, params, DDL schema)
FIXTURES = {
    # the main pixel corpus every image-payload query runs on, and its
    # ground-truth clusters (same params, so the same generated pair)
    "images": ("", "images", _field(images.generate_corpus, "images"),
               _PIXEL_CORPUS, IMAGES_SCHEMA),
    "truth": ("", "truth", _field(images.generate_corpus, "truth"),
              _PIXEL_CORPUS, TRUTH_SCHEMA),
    "videos": ("videos_", "videos", _field(av.generate_video_corpus, "videos"),
               dict(n_base=60, every_n=4, seed=42), VIDEOS_SCHEMA),
    # scene-structured rawv corpus for the segmentation tier
    "scene_videos": ("scenevideos_", "videos",
                     _field(av.generate_scene_video_corpus, "videos"),
                     dict(n_base=40, seed=43), VIDEOS_SCHEMA),
    "audio": ("audio_", "audio", _field(av.generate_audio_corpus, "audio"),
              dict(n_base=50, seed=42), AUDIO_SCHEMA),
    # silence/clipping-structured pcm16 corpus for the audio quality tier
    "audio_quality": ("audioq_", "audio",
                      _field(av.generate_audio_quality_corpus, "audio"),
                      dict(n_base=30, seed=44), AUDIO_SCHEMA),
    "avi": ("avi_", "avi", _field(av.generate_avi_corpus, "videos"),
            dict(n_base=30, every_n=2, seed=42), VIDEOS_SCHEMA),
    "quality": ("quality_", "quality", images.generate_quality_corpus,
                dict(n=30, seed=19), _IMAGE + ", quality int"),
    "orientation": ("orient_", "orient", images.generate_orientation_corpus,
                    dict(n_src=20, seed=17),
                    "image_id string, src_id string, bytes binary, w int, "
                    "h int, fmt string, orientation int"),
    "zipf_docs": ("zipf_", "zipf_docs", generate_zipf_docs,
                  dict(n_docs=2000, seed=29), "doc_id long, text string"),
    "exif": ("exif_", "exif", images.generate_exif_corpus,
             dict(n=40, seed=13), _IMAGE + ", endian string"),
    "rescale": ("rescale_", "rescale", images.generate_rescale_corpus,
                dict(n_src=40, seed=7), _SOURCED),
    "dhash": ("dhash_", "dhash", images.generate_dhash_corpus,
              dict(n_src=40, seed=11), _SOURCED),
    # brightness/contrast defect classes for the curation tier
    "imgq": ("imgq_", "images", images.generate_image_quality_corpus,
             dict(n=40, seed=23), _IMAGE + ", klass string"),
    # `expected`, `klass`, `logo`, `src_id`, `has_gps` and `endian` below
    # are generator ground truth: tests and oracle keys, never engine input
    "sniff": ("sniff_", "images", images.generate_sniff_corpus,
              dict(n=60, seed=29),
              "image_id string, bytes binary, fmt string, klass string, "
              "expected string"),
    "caption_audit": ("capaudit_", "images",
                      images.generate_caption_audit_corpus, dict(seed=31),
                      "image_id string, bytes binary, caption string, "
                      "klass string"),
    "border": ("border_", "images", images.generate_border_corpus,
               dict(n_src=30, seed=37), _SOURCED),
    "patch": ("patch_", "images", images.generate_patch_corpus, dict(seed=41),
              "image_id string, logo string, bytes binary, w int, h int, "
              "fmt string, klass string"),
    "gps": ("gps_", "images", images.generate_gps_corpus, dict(n=36, seed=43),
            "image_id string, bytes binary, fmt string, endian string, "
            "has_gps boolean"),
    "rotation": ("rot_", "images", images.generate_rotation_corpus,
                 dict(n_src=25, seed=47), _SOURCED),
    "html": ("html_", "docs", generate_html_corpus, dict(n=50, seed=53),
             "doc_id long, html string, expected string"),
    "recompress": ("recomp_", "images", images.generate_recompress_corpus,
                   dict(n_src=24, seed=59), _SOURCED),
}


def _params_tag(params: dict) -> str:
    return "_".join(f"{k}{params[k]}" for k in sorted(params))


def fixture_parquet(name: str) -> str:
    """Return the parquet path of fixture ``name`` (a ``FIXTURES`` key),
    generating and writing it on first use."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    prefix, stem, generate, params, schema = FIXTURES[name]
    out_dir = os.path.join(FIXTURE_ROOT, prefix + _params_tag(params))
    path = os.path.join(out_dir, f"{stem}.parquet")
    if os.path.exists(path):
        return path
    pdf = generate(**params)
    cols = [c.split() for c in schema.split(",")]
    table = pa.Table.from_arrays(
        [pa.array(pdf[c], getattr(pa, _ARROW_TYPES[t])()) for c, t in cols],
        names=[c for c, _ in cols],
    )
    os.makedirs(out_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=out_dir, suffix=".parquet.tmp")
    os.close(fd)
    try:
        pq.write_table(table, tmp)
        os.rename(tmp, path)  # atomic on the same filesystem
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return path
