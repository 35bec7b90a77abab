"""Stage checkpoints with per-partition lineage + metrics manifests.

North-rule obligation (BASELINE.json): "resumable from checkpoint with
per-partition lineage and metrics emitted per stage". The reference
has no counterpart — its run is a single in-memory loop — so this is
engine-level infrastructure:

- Each stage materializes to `<root>/<stage>/data` (parquet) plus a
  `manifest.json` carrying: stage name, config fingerprint, row count,
  per-part-file row counts (read from the parquet footers, so the
  manifest costs no Spark job), column list, wall time, and the
  upstream stage fingerprints (lineage chain).
- `run_stage` recomputes only when no manifest with a matching
  fingerprint exists — a re-submitted job resumes downstream of the
  last completed stage.

On a real cluster the root would be object storage / an Iceberg
warehouse; the manifest logic is storage-agnostic.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

MANIFEST = "manifest.json"


def _part_file_rows(data_dir: str) -> list[tuple[str, int]]:
    """(file name, rows) per written part file that holds rows, sorted
    by name. Lineage is by WRITTEN-FILE identity, not read-split id, so
    it is stable across re-reads with different split planning; the
    counts come from each file's parquet footer (a driver-side
    metadata read, no Spark job). Hidden and `_`-prefixed files
    (`_SUCCESS`, checksums) are skipped, as Spark's own listing does."""
    out = []
    for name in sorted(os.listdir(data_dir)):
        if name.startswith(("_", ".")):
            continue
        rows = pq.read_metadata(os.path.join(data_dir, name)).num_rows
        if rows > 0:
            out.append((name, rows))
    return out


def fingerprint(payload: dict) -> str:
    return hashlib.sha256(
        json.dumps(payload, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


@dataclass
class StageResult:
    name: str
    df: DataFrame
    manifest: dict
    resumed: bool


@dataclass
class CheckpointedRun:
    spark: SparkSession
    root: str
    config_payload: dict
    stages: list[StageResult] = field(default_factory=list)

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _chain_fingerprint(self, name: str) -> str:
        upstream = [s.manifest["fingerprint"] for s in self.stages]
        return fingerprint({"stage": name, "config": self.config_payload, "upstream": upstream})

    def run_stage(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Build-or-resume one stage. `build` gets called only on a
        cache miss; its result is written to parquet with a manifest."""
        stage_dir = self._stage_dir(name)
        data_dir = os.path.join(stage_dir, "data")
        manifest_path = os.path.join(stage_dir, MANIFEST)
        fp = self._chain_fingerprint(name)

        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                manifest = json.load(f)
            if manifest.get("fingerprint") == fp:
                df = self.spark.read.parquet(data_dir)
                self.stages.append(StageResult(name, df, manifest, resumed=True))
                return df

        t0 = time.perf_counter()
        df = build()
        df.write.mode("overwrite").parquet(data_dir)
        elapsed = time.perf_counter() - t0

        persisted = self.spark.read.parquet(data_dir)
        part_counts = _part_file_rows(data_dir)
        manifest = {
            "stage": name,
            "fingerprint": fp,
            "rows": sum(rows for _, rows in part_counts),
            "partitions": [{"file": f, "rows": rows} for f, rows in part_counts],
            "columns": persisted.columns,
            "wall_seconds": round(elapsed, 4),
            "upstream": [s.name for s in self.stages],
        }
        os.makedirs(stage_dir, exist_ok=True)
        with open(manifest_path, "w") as f:
            json.dump(manifest, f, indent=2)
        self.stages.append(StageResult(name, persisted, manifest, resumed=False))
        return persisted

    def metrics(self) -> list[dict]:
        return [s.manifest for s in self.stages]
