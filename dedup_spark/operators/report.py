"""Report sinks — the reference's DuplicateReport surface (src/output.rs).

R1 build (src/output.rs:38-73) → `duplicate_report` DataFrame pair
R2 human sink (src/output.rs:76-122) → `format_human` driver-side string
R3 JSON sink (src/output.rs:125-130) → `to_json_report` (exact field names
   from the golden contract in reference tests/output_format.rs:58-99)
R4 quiet / exit code (src/main.rs:216,221-225) → `has_duplicates`
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F

from dedup_spark.functions.formatting import format_bytes, format_number


def group_summaries(assignments: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Per-cluster summary (DuplicateGroup analog, src/output.rs:21-28).

    Small-scale reporting path ONLY: materializes the member array
    (`collect_list`), which the scale path never does — at 10^12 rows
    use the assignment table itself.
    """
    return (
        assignments.groupBy("cluster_id")
        .agg(
            F.max("size").alias("size"),
            F.sort_array(F.collect_list(id_col)).alias("members"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


def to_json_report(
    assignments: DataFrame, total_rows: int, id_col: str = "image_id"
) -> dict[str, Any]:
    """Full report dict with the reference JSON schema:
    {stats: {total_files, duplicate_files, wasted_bytes}, groups: [...]}
    (field names per src/output.rs:11-35; groups order-insensitive —
    reference iteration order is HashMap order, i.e. unordered).
    """
    groups = [
        {"size": r["size"], "files": list(r["members"])}
        for r in group_summaries(assignments, id_col).collect()
    ]
    dup_rows = sum(len(g["files"]) for g in groups)
    wasted = sum(g["size"] * (len(g["files"]) - 1) for g in groups)
    return {
        "stats": {
            "total_files": total_rows,
            "duplicate_files": dup_rows,
            "wasted_bytes": wasted,
        },
        "groups": sorted(groups, key=lambda g: (g["size"], g["files"])),
    }


def format_human(report: dict[str, Any], verbose: bool = False) -> str:
    """Human sink analog (src/output.rs:76-122)."""
    s = report["stats"]
    lines = [
        "Duplicate report",
        f"  total rows:      {format_number(s['total_files'])}",
        f"  duplicate rows:  {format_number(s['duplicate_files'])}",
        f"  wasted bytes:    {format_bytes(s['wasted_bytes'])}",
        f"  groups:          {format_number(len(report['groups']))}",
    ]
    if verbose:
        for g in report["groups"]:
            lines.append(f"  group size={g['size']}:")
            lines.extend(f"    {f}" for f in g["files"])
    return "\n".join(lines)


def has_duplicates(assignments: DataFrame) -> bool:
    """Exit-code sink: True iff any duplicate group exists
    (reference exits 1 — src/main.rs:221-225)."""
    return assignments.limit(1).count() > 0
