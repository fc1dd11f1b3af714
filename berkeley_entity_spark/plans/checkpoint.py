"""Stage-boundary checkpointing + per-stage lineage metrics (SURVEY.md §4).

The reference caches per-document feature charts and invalidates them
explicitly (DocumentGraph.scala:232-239, 282-288); the distributed analog is
a materialized table per stage boundary with skip-if-exists resume — kill the
job after any stage and a rerun continues from the last completed stage with
byte-identical results (everything upstream is deterministic).

Stage tables are parquet directories under the store's root, each with a
`<name>._DONE` marker written after the table — the marker, not the
directory, is what resume trusts.  The root is a filesystem path (local or
mounted): a URI root (`s3://…`) raises, because the markers are plain files.

Each save appends a row to the `metrics` table:
(stage, rows_out, wall_ms, finished_at) — FIXTURES §3 lineage contract.
rows_out comes from an Observation on the written DataFrame, computed by
the write job itself: a save runs the write and the re-read's schema
lookup, and never re-counts the table.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@dataclass
class CheckpointStore:
    root: str

    def __post_init__(self) -> None:
        # the _DONE markers and metrics.jsonl go through os.path/open: under
        # a URI root they would land in a local "s3:/..." directory while
        # Spark writes the tables to the object store, and resume would
        # never see a marker
        if "://" in self.root:
            raise ValueError(
                f"CheckpointStore root must be a local or mounted path, got "
                f"the URI {self.root!r}"
            )

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _done_marker(self, name: str) -> str:
        return os.path.join(self.root, f"{name}._DONE")

    def exists(self, name: str) -> bool:
        return os.path.exists(self._done_marker(name))

    def load(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(self._path(name))

    def save(self, df: DataFrame, name: str) -> DataFrame:
        """Materialize a stage output; returns the re-read DataFrame (cuts
        lineage, later stages scan the table like any other source)."""
        t0 = time.monotonic()
        obs = Observation()
        df.observe(obs, F.expr("count(1) AS rows")).write.mode(
            "overwrite"
        ).parquet(self._path(name))
        wall_ms = int((time.monotonic() - t0) * 1000)
        rows = obs.get["rows"]
        self._append_metric(name, rows, wall_ms)
        with open(self._done_marker(name), "w") as f:
            f.write(json.dumps({"rows": rows, "wall_ms": wall_ms}))
        return self.load(df.sparkSession, name)

    def materialize(self, df: DataFrame, name: str, resume: bool = True) -> DataFrame:
        """skip-if-exists: the resume primitive for every stage boundary."""
        if resume and self.exists(name):
            return self.load(df.sparkSession, name)
        return self.save(df, name)

    def _append_metric(self, stage: str, rows: int, wall_ms: int) -> None:
        os.makedirs(self.root, exist_ok=True)
        line = json.dumps(
            {
                "stage": stage,
                "rows_out": rows,
                "wall_ms": wall_ms,
                "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
        with open(os.path.join(self.root, "metrics.jsonl"), "a") as f:
            f.write(line + "\n")

    def metrics(self, spark: SparkSession) -> DataFrame:
        return spark.read.json(os.path.join(self.root, "metrics.jsonl"))
