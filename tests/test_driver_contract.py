"""Driver-contract invariants for __spark_entry__.py: the README/SURVEY
claim "every query oracle-gated" must be structurally true, not
aspirational, and the driver's 50-entry window must hold the names
verified longest ago."""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
import bench
from test_plan_checks import (
    BUCKETED_JOIN_CHECKS,
    CHECKS,
    OPERATOR_CHECKS,
    QUERY_CHECKS,
)

DRIVER_WINDOW = 50  # the driver checks only the first 50 queries()


def test_every_query_has_an_oracle():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) == set(qs), (
        "queries without oracle: %s; oracles without query: %s"
        % (sorted(set(qs) - set(oracles)), sorted(set(oracles) - set(qs)))
    )
    assert len(qs) >= 54


def test_queries_are_callables_and_oracles_are_sql():
    for name, fn in entrymod.queries().items():
        assert callable(fn), name
    for name, sql in entrymod.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def _last_verified() -> dict[str, int]:
    """name -> last round N whose CORRECTNESS_rN.json row matches on
    rows, schema and hash; 0 for a name never verified."""
    here = os.path.dirname(os.path.abspath(entrymod.__file__))
    with open(os.path.join(here, "__spark_entry__.py")) as f:
        src = f.read()
    rounds = dict.fromkeys(re.findall(r"^def q_(\w+)\(", src, re.M), 0)
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            ok = row["rows_match"] and row["schema_match"] and row["hash_match"]
            if ok and name in rounds:
                rounds[name] = max(rounds[name], rnd)
    return rounds


def test_driver_window_holds_oldest_verified():
    rounds = _last_verified()
    names = list(entrymod.queries())
    assert set(names) == set(rounds)
    # stable sort: oldest last-verified round first, ties in source order
    expected = sorted(rounds, key=rounds.get)
    assert names[:DRIVER_WINDOW] == expected[:DRIVER_WINDOW]
    never = [n for n, r in rounds.items() if r == 0]
    assert set(never) <= set(names[:DRIVER_WINDOW]), never


def test_bench_and_plan_checks_name_real_queries():
    qs = set(entrymod.queries())
    assert set(bench.HEADLINE) <= qs, sorted(set(bench.HEADLINE) - qs)
    assert set(QUERY_CHECKS) <= qs, sorted(set(QUERY_CHECKS) - qs)
    used = {c for checks in QUERY_CHECKS.values() for c in checks}
    used |= {c for _, checks in OPERATOR_CHECKS.values() for c in checks}
    used |= set(BUCKETED_JOIN_CHECKS)
    assert used <= set(CHECKS), sorted(used - set(CHECKS))


def test_builders_read_no_environment():
    # a builder is a function of (spark, sf_dir) alone: an env-var knob
    # would let a run differ from what the driver's oracle checks
    with open(entrymod.__file__) as f:
        tree = ast.parse(f.read())
    env = {"environ", "environb", "getenv", "getenvb"}
    reads = [
        node.lineno
        for node in ast.walk(tree)
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
            and node.attr in env
        )
        or (
            isinstance(node, ast.ImportFrom)
            and node.module == "os"
            and any(a.name in env for a in node.names)
        )
    ]
    assert not reads, f"os.environ/os.getenv read at lines {reads}"
