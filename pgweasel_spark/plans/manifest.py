"""Per-partition checkpoint manifest for resumable runs.

The reference reruns from scratch on failure (SURVEY.md §4); the north-rule
requires that a killed job resume without reprocessing completed partitions.
The unit of resume is the input day partition (``warc_day``): the pipeline
writes each pending day batch with dynamic partition overwrite (idempotent —
a re-run of an incomplete day replaces, never duplicates), then records the
day as complete together with per-sink row counts and timing lineage.
Its ``ledger`` is the one record of the input ``pipeline.run`` has seen.

The manifest is a JSON file written atomically (temp + rename). On a real
cluster it would live next to the Iceberg table and record snapshot ids; the
shape is kept deliberately engine-neutral.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from dataclasses import dataclass, field


@dataclass
class Manifest:
    path: str
    days: dict[str, dict] = field(default_factory=dict)
    #: the input's qualified path (``"input"``), its Spark schema json
    #: (``"schema"``) and, per file, ``{"size", "mtime_ms", "days"}``
    #: (``"files"``)
    ledger: dict = field(default_factory=dict)

    @classmethod
    def load(cls, path: str) -> "Manifest":
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                data = json.load(f)
            return cls(path, data.get("days", {}), data.get("ledger", {}))
        return cls(path=path)

    def save(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        fd, tmp = tempfile.mkstemp(
            dir=os.path.dirname(self.path) or ".", suffix=".manifest"
        )
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            data = {"days": self.days, "ledger": self.ledger}
            json.dump(data, f, indent=2, sort_keys=True)
        os.replace(tmp, self.path)

    def completed_days(self) -> set[str]:
        return {d for d, e in self.days.items() if e.get("status") == "complete"}

    def mark_complete(
        self,
        day: str,
        sink_counts: dict[str, int],
        input_rows: int,
        elapsed_s: float,
        partition_counts: dict[str, int] | None = None,
    ) -> None:
        """Record a completed day. ``partition_counts`` is the full
        per-output-partition lineage — "sink/host_bucket" → rows for
        this day, i.e. row counts at the granularity the table is
        physically partitioned (north rule: per-partition lineage +
        row-count metrics). Bounded: ≤ sinks × n_buckets keys per
        day."""
        self.days[day] = {
            "status": "complete",
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "input_rows": input_rows,
            "sink_counts": sink_counts,
            "elapsed_s": round(elapsed_s, 3),
        }
        if partition_counts is not None:
            self.days[day]["partition_counts"] = partition_counts
        self.save()
