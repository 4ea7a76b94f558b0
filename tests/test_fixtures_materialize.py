"""The fixture materializer's golden-file contract.

Every pinned corpus is the input of a Spark query AND of its DuckDB
oracle, and caches of earlier runs stay on disk under their params-tagged
directory — so the path and the table (schema and every value) of each
``FIXTURES`` entry are pinned here. The digests were taken from the
per-corpus writers this table replaced; a change to a generator, its
params or its schema shows up as a digest or path mismatch.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq
import pytest

from dedup_spark.fixtures import materialize as M

_PIXEL_DIR = "dup_ratio0.3_n_rows400_near_dup_ratio0.1_norm_dup_ratio0.08_seed42"

# name -> (path relative to FIXTURE_ROOT, sha256 of schema + values)
PINNED = {
    "audio": ("audio_n_base50_seed42/audio.parquet",
              "b1e3d50ce5cf9d78e1cc924838171f47e22d6f5eac28a03839707c9c1b1b4413"),
    "audio_quality": ("audioq_n_base30_seed44/audio.parquet",
                      "861dda0e61195fb1c43f2a2e4edc91961385087be48e04e67a262280483484c1"),
    "avi": ("avi_every_n2_n_base30_seed42/avi.parquet",
            "2d6e635ad26f00536569f8a0255dda0cbbe92fe097d21c78d0dab72835b7bace"),
    "border": ("border_n_src30_seed37/images.parquet",
               "1a1450e0517de94729daeb8f964f7f5d8f6322d5e37f9c2e476d5151d40861ff"),
    "caption_audit": ("capaudit_seed31/images.parquet",
                      "533052402a51866f889f26de835e4796ee46a862736a40a39f18d4ff1678a450"),
    "dhash": ("dhash_n_src40_seed11/dhash.parquet",
              "3d6accfd5363bf9314f1e1766f0056ca8cefbaaa65a35605e053ae4bb9e5996b"),
    "exif": ("exif_n40_seed13/exif.parquet",
             "d2e9f4521a9d52de4021fa734c96115a4d72655fc2dfcdf4dc5b0d64208b273b"),
    "gps": ("gps_n36_seed43/images.parquet",
            "3567ebce1bf94f3926c0e39f0a01bf3ab0b8271b42474a4b13f191f0d6d9fe3f"),
    "html": ("html_n50_seed53/docs.parquet",
             "65699f8bdf3959c620204bca34862e8b1d922f631f163b98e1deb0885785056b"),
    "images": (f"{_PIXEL_DIR}/images.parquet",
               "9a7a2c8d90bf4261f30b68f7eccf97a6380820ff6c622fdb68dd0ae9db7f767a"),
    "imgq": ("imgq_n40_seed23/images.parquet",
             "dbd7ef8a48d68029f398b36a67530917701c57836f2d43694c0611b9f6f12eff"),
    "orientation": ("orient_n_src20_seed17/orient.parquet",
                    "d97640260495072257aa43efff617262c00f314410e7d7e5cc9997dbaf6ae6af"),
    "patch": ("patch_seed41/images.parquet",
              "3f6342a163cbbfd08908ee2b530b1623b86b61595fc62608b5d331fecdc1217b"),
    "quality": ("quality_n30_seed19/quality.parquet",
                "bfa18891648c3cbf88cadb8ccf5600f5f5023d6093cbbd0dc8a28eea99e36cf5"),
    "recompress": ("recomp_n_src24_seed59/images.parquet",
                   "40d248ab452611cc2b9e1cbbf86abeb2bfcb8485171dd98cadb9dee049e034d8"),
    "rescale": ("rescale_n_src40_seed7/rescale.parquet",
                "9f7e81983135d5df5498705822fda7ba2ad4c7e704808f31ecc9f46a4c946ffa"),
    "rotation": ("rot_n_src25_seed47/images.parquet",
                 "5df490fecc02a32b29762ca00e289dd396651137fbd25a49ae2d8044a0759f2b"),
    "scene_videos": ("scenevideos_n_base40_seed43/videos.parquet",
                     "f1fc3a95eb8c340a1fc5749a00ed3cce4109aa0bfb3ef5a4c1b315d15f24153c"),
    "sniff": ("sniff_n60_seed29/images.parquet",
              "40aa67a8d6116fd8c87eb1b6dedc658e60a09f12ba9afaf758d119e95014fa6a"),
    "truth": (f"{_PIXEL_DIR}/truth.parquet",
              "e1a46c6a75cc7ceab0ba6718bce2b8f42f25e3ad25029b502ecc8b043a6117d5"),
    "videos": ("videos_every_n4_n_base60_seed42/videos.parquet",
               "800105ce457e890de3d47484e9dbc2a627c2177ac8fc4cae85305f2750a99e54"),
    "zipf_docs": ("zipf_n_docs2000_seed29/zipf_docs.parquet",
                  "67c01b6acde5f5de06f21ee3ce2e9a72e8f5cf99b5cc364e22da37b914e07437"),
}


def _digest(table) -> str:
    """sha256 over the Arrow schema (metadata dropped) and every value,
    column by column, each value length-prefixed."""
    h = hashlib.sha256(table.schema.remove_metadata().to_string().encode())
    for col in table.columns:
        for v in col.to_pylist():
            b = v if isinstance(v, bytes) else repr(v).encode()
            h.update(len(b).to_bytes(8, "little") + b)
    return h.hexdigest()


def _parquet_files(root) -> list[str]:
    return [
        f for _, _, fs in os.walk(root) for f in fs
        if f.endswith((".parquet", ".parquet.tmp"))
    ]


@pytest.fixture
def fresh_root(tmp_path, monkeypatch):
    # never the shared cache: it may hold files from an older generator
    monkeypatch.setattr(M, "FIXTURE_ROOT", str(tmp_path))
    return tmp_path


def test_every_fixture_is_pinned():
    assert set(M.FIXTURES) == set(PINNED)


def test_fixture_paths_and_tables_are_pinned(fresh_root):
    got = {}
    for name in M.FIXTURES:
        path = M.fixture_parquet(name)
        got[name] = (os.path.relpath(path, fresh_root),
                     _digest(pq.read_table(path)))
    assert got == PINNED


def test_cached_fixture_is_not_rewritten(fresh_root):
    path = M.fixture_parquet("patch")
    mtime = os.stat(path).st_mtime_ns
    assert M.fixture_parquet("patch") == path
    assert os.stat(path).st_mtime_ns == mtime


def test_failing_generator_leaves_no_file(fresh_root, monkeypatch):
    def boom(**params):
        raise RuntimeError("generator failed")

    prefix, stem, _, params, schema = M.FIXTURES["patch"]
    monkeypatch.setitem(M.FIXTURES, "patch", (prefix, stem, boom, params, schema))
    with pytest.raises(RuntimeError, match="generator failed"):
        M.fixture_parquet("patch")
    assert not _parquet_files(fresh_root)


def test_failing_write_leaves_no_file(fresh_root, monkeypatch):
    def half_write(table, where):
        with open(where, "wb") as f:
            f.write(b"PAR1")
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", half_write)
    with pytest.raises(OSError, match="disk full"):
        M.fixture_parquet("patch")
    assert not _parquet_files(fresh_root)
