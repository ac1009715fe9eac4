"""Run metrics — counts, throughput, parse misses (BASELINE.json:14).

Counter values come from commit metadata and the parquet footer stats of
the staged routed write: per-sink rows, and parse misses as the default
sink's non-null text count (never a second scan of the input)."""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class RunMetrics:
    run_id: str
    started_at: float = field(default_factory=time.time)
    rows_in: int = 0
    rows_per_sink: dict[str, int] = field(default_factory=dict)
    parse_miss: int = 0
    buckets: list[int] = field(default_factory=list)
    wall_ms: int = 0
    stages: dict[str, float] = field(default_factory=dict)

    @property
    def throughput_rows_per_sec(self) -> float:
        return self.rows_in / (self.wall_ms / 1000.0) if self.wall_ms else 0.0

    def finish(self) -> "RunMetrics":
        self.wall_ms = int((time.time() - self.started_at) * 1000)
        return self

    def to_dict(self) -> dict:
        return {
            "run_id": self.run_id,
            "rows_in": self.rows_in,
            "rows_per_sink": self.rows_per_sink,
            "parse_miss": self.parse_miss,
            "buckets": self.buckets,
            "wall_ms": self.wall_ms,
            "stages": self.stages,
            "throughput_rows_per_sec": round(self.throughput_rows_per_sec, 2),
        }

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.to_dict(), f, indent=1)
