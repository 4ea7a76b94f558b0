"""State reads tell "absent" from "unreadable".

A streaming batch reads its state (content hashes, band index, doc
texts, prior assignments) and treats a missing store as the first
batch. A store that exists but cannot be read must raise instead:
read as "no state", it silently re-clusters every later document as
new. Plus two lint guards: no broad ``except Exception`` in the
streaming tier or the jobs, where one would hide exactly that, and no
import that its module never reads.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pandas as pd
import pytest
from pyspark.errors import AnalysisException

from dedup_spark.sources.catalog import read_or_none

ROOT = Path(__file__).resolve().parent.parent


def _garble(root: Path) -> int:
    files = list(root.rglob("*.parquet"))
    for f in files:
        f.write_bytes(b"not a parquet file" * 8)
    return len(files)


def _table_dir(spark, table: str) -> Path:
    loc = (
        spark.sql(f"DESCRIBE FORMATTED {table}")
        .filter("col_name = 'Location'")
        .first()["data_type"]
    )
    return Path(loc.removeprefix("file:"))


def _exact(spark, tmp_path, state_table):
    from dedup_spark.streaming.incremental import process_batch

    state, out = tmp_path / "state", tmp_path / "out"

    def run(rows):
        batch = spark.createDataFrame(
            pd.DataFrame(rows, columns=["image_id", "bytes"])
        )
        process_batch(spark, batch, str(state), str(out), state_table=state_table)

    run([("a", b"xx"), ("b", b"yy")])
    if state_table is None:
        assert _garble(state) > 0
    else:
        assert _garble(_table_dir(spark, state_table)) > 0
        spark.catalog.refreshTable(state_table)
    with pytest.raises(Exception):
        run([("c", b"xx")])  # content of "a": must join a's cluster
    ids = {r["image_id"] for r in spark.read.parquet(str(out)).collect()}
    assert ids == {"a", "b"}  # c was never assigned to a fresh cluster


def _fuzzy(spark, tmp_path, store):
    from dedup_spark.streaming.fuzzy import fuzzy_process_batch

    state, out = tmp_path / "fz_state", tmp_path / "fz_out"

    def run(rows):
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        fuzzy_process_batch(spark, batch, str(state), str(out))

    run([(1, "alpha beta gamma delta epsilon"), (2, "one two three four five")])
    assert _garble(state / store) > 0
    with pytest.raises(Exception):
        run([(3, "alpha beta gamma delta epsilon")])  # near-dup of doc 1
    ids = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    assert ids == {1, 2}


@pytest.mark.parametrize(
    "state", ["parquet", "table", "fuzzy_bands", "fuzzy_docs"]
)
def test_unreadable_state_raises_instead_of_reclustering(spark, tmp_path, state):
    """Batch 1 ingests two docs; every file of one state store is then
    overwritten with garbage; batch 2 ingests a duplicate of a batch-1
    doc. Reading the garbage as "no state" used to complete the batch
    and give the duplicate its own cluster; it must raise."""
    if state == "parquet":
        _exact(spark, tmp_path, None)
    elif state == "table":
        table = "state_reads_garbled_t"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        try:
            _exact(spark, tmp_path, table)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
    else:
        _fuzzy(spark, tmp_path, state.removeprefix("fuzzy_"))


def test_read_or_none_is_none_only_when_absent(spark, tmp_path):
    assert read_or_none(lambda: spark.read.parquet(str(tmp_path / "nope"))) is None
    assert read_or_none(lambda: spark.table("state_reads_no_such_t")) is None
    spark.range(3).write.parquet(str(tmp_path / "ok"))
    assert read_or_none(lambda: spark.read.parquet(str(tmp_path / "ok"))).count() == 3
    # an analysis error that is not "absent" still raises
    with pytest.raises(AnalysisException):
        read_or_none(lambda: spark.sql("SELECT no_such_col FROM range(1)"))


def test_no_broad_except_in_streaming_or_jobs():
    """``except Exception`` (or a bare ``except``) in the streaming tier
    or the jobs is how unreadable state passed for absent state;
    catch the specific error instead."""
    offenders = []
    files = [
        *(ROOT / "dedup_spark" / "streaming").glob("*.py"),
        *(ROOT / "jobs").glob("*.py"),
    ]
    assert files
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.ExceptHandler):
                continue
            names = (
                node.type.elts if isinstance(node.type, ast.Tuple) else [node.type]
            )
            broad = ("Exception", "BaseException")
            if any(
                n is None or (isinstance(n, ast.Name) and n.id in broad)
                for n in names
            ):
                offenders.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert offenders == [], offenders


def test_no_unused_imports_in_package_or_jobs():
    """Every name an import binds in ``dedup_spark/`` or ``jobs/`` is
    read somewhere in its module (``__init__.py`` re-exports and
    ``__future__`` imports are exempt): a dead import is a dependency
    the code no longer has."""
    offenders = []
    files = [
        path
        for top in ("dedup_spark", "jobs")
        for path in (ROOT / top).rglob("*.py")
        if path.name != "__init__.py"
    ]
    assert files
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.asname or a.name.split(".")[0] for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                names = [a.asname or a.name for a in node.names if a.name != "*"]
            else:
                continue
            offenders += [
                f"{path.relative_to(ROOT)}:{node.lineno} {name}"
                for name in names
                if name not in read
            ]
    assert offenders == [], offenders
