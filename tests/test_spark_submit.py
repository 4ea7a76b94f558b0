"""North-rule submission contract, executed for real: the job runs via
`spark-submit --py-files dedup_spark.zip jobs/dedup_job.py` as a
SEPARATE process (the cluster deployment path — nothing imported from
the repo working dir except the zipped package and the job file), and
the written assignment table + metrics manifest are checked from the
outside."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


def _zip_package(dst: Path) -> Path:
    zpath = dst / "dedup_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for p in sorted((REPO / "dedup_spark").rglob("*.py")):
            z.write(p, p.relative_to(REPO))
    return zpath


def test_spark_submit_py_files_end_to_end(tmp_path):
    from dedup_spark.fixtures.images import generate_corpus

    corpus = generate_corpus(60, dup_ratio=0.3, near_dup_ratio=0.1, seed=11)
    in_dir = tmp_path / "images.parquet"
    corpus.images.to_parquet(in_dir, index=False)

    out_dir = tmp_path / "assignments"
    metrics = tmp_path / "metrics.json"
    zpath = _zip_package(tmp_path)

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zpath),
            str(REPO / "jobs" / "dedup_job.py"),
            "--input", str(in_dir),
            "--action", "write",
            "--output", str(out_dir),
            "--format", "json",
            "--metrics-out", str(metrics),
        ],
        cwd=str(tmp_path),  # NOT the repo: imports must come from the zip
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]

    # assignment contract, checked from outside Spark: every byte-dup
    # group shares one cluster whose id is a member of the group.
    # The output is a versioned commit (catalog.write_table): resolve
    # the _CURRENT pointer by hand, proving the on-disk protocol is
    # readable without any engine code.
    cur = (out_dir / "_CURRENT").read_text().strip()
    rows = duckdb.sql(
        f"SELECT image_id, cluster_id FROM '{out_dir}/{cur}/*.parquet'"
    ).fetchall()
    assigned = dict(rows)
    truth = corpus.truth.groupby("cluster_id")["image_id"].apply(list)
    by_bytes = {}
    for r in corpus.images.itertuples(index=False):
        by_bytes.setdefault(bytes(r.bytes), []).append(r.image_id)
    n_groups = 0
    for members in by_bytes.values():
        if len(members) < 2:
            continue
        n_groups += 1
        clusters = {assigned[m] for m in members}
        assert len(clusters) == 1, f"byte-dup group split: {members}"
        assert clusters.pop() in members
    assert n_groups > 0, "fixture produced no byte-duplicate groups"
    assert truth is not None  # ground truth materialized (sanity)

    # per-stage lineage metrics written next to the output
    manifest = json.loads(metrics.read_text())
    stages = {e["stage"] for e in manifest}
    assert any("exact" in s or "stage" in s or "cc" in s for s in stages), stages
    assert all("run_id" in e for e in manifest)
    # ...including which connected-components path ran: this graph fits
    # the local-finish edge budget, so one task finished it
    cc_path = [e for e in manifest if e["stage"] == "local_finish_edges"]
    assert len(cc_path) == 1 and cc_path[0]["value"] > 0, stages
    assert "local_finish" in stages
    assert not any(s.startswith("iter_") for s in stages), stages


def test_spark_submit_mixture_job_end_to_end(tmp_path):
    """The text-side companion job (jobs/mixture_job.py) through the
    same cluster deployment path; the packing contract is checked from
    OUTSIDE Spark: sorted by token_offset, the kept docs tile the
    concatenated token stream exactly (offset_i+1 = offset_i + toks_i),
    and the mixing weights sum to 1."""
    in_dir = "/root/testdata/sf0.001/documents.parquet"
    out_dir = tmp_path / "mix"
    zpath = _zip_package(tmp_path)

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zpath),
            str(REPO / "jobs" / "mixture_job.py"),
            "--input", in_dir,
            "--output", str(out_dir),
            "--budget", "256",
            "--seed", "submit-test",
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )
    rows = duckdb.sql(
        f"SELECT toks, token_offset FROM '{out_dir}/mixture/*.parquet' "
        "ORDER BY token_offset"
    ).fetchall()
    assert rows and len(rows) == summary["docs_packed"]
    off = 0
    for toks, token_offset in rows:
        assert token_offset == off
        off += toks
    assert off == summary["total_tokens"]
    w = duckdb.sql(
        f"SELECT sum(mix_weight) FROM '{out_dir}/source_mixing/*.parquet'"
    ).fetchone()[0]
    assert abs(w - 1.0) < 1e-4


def test_spark_submit_clean_job_end_to_end(tmp_path):
    """The corpus-cleaning job (jobs/clean_job.py) through the same
    cluster deployment path: span excision trims BOTH carriers of a
    shared run, drops the mostly-duplicated doc, decontamination drops
    the eval-matching doc, and the report's arithmetic checks out from
    OUTSIDE Spark."""
    import pandas as pd

    shared = " ".join(f"w{i}" for i in range(15))
    uniq = [" ".join(f"u{d}x{i}" for i in range(30)) for d in range(3)]
    evaltxt = " ".join(f"e{i}" for i in range(20))
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "text": [
                f"{uniq[0]} {shared}",        # carrier 1: trimmed
                f"{shared} {uniq[1]}",        # carrier 2: trimmed
                shared,                        # fully covered: DROPPED
                uniq[2],                       # untouched
                evaltxt + " tail words here", # contaminated: DROPPED
                "tiny doc",                    # sub-k: untouched
            ],
        }
    )
    in_dir = tmp_path / "docs.parquet"
    docs.to_parquet(in_dir, index=False)
    ev_dir = tmp_path / "eval.parquet"
    pd.DataFrame({"doc_id": [100], "text": [evaltxt]}).to_parquet(
        ev_dir, index=False
    )
    out_dir = tmp_path / "cleaned"
    zpath = _zip_package(tmp_path)

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zpath),
            str(REPO / "jobs" / "clean_job.py"),
            "--input", str(in_dir),
            "--output", str(out_dir),
            "--eval-set", str(ev_dir),
            "--max-dup-fraction", "0.9",
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )
    got = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM '{out_dir}/*.parquet'"
        ).fetchall()
    )
    assert set(got) == {1, 2, 4, 6}  # 3 dropped (dup), 5 dropped (contam)
    assert got[1] == uniq[0] and got[2] == uniq[1]  # spans excised
    assert got[4] == uniq[2] and got[6] == "tiny doc"
    assert report["docs_in"] == 6 and report["docs_out"] == 4
    assert report["dropped_mostly_dup"] == 1
    assert report["dropped_contaminated"] == 1
    assert report["words_excised"] == 45  # 15 words x 3 carriers
