"""Checkpointed lineage + idempotent resume for the pipeline.

Mirrors the reference's per-archive transactional stats commit
(job-orchestration compression_task.py:404-489: each archive's metadata is
committed to the DB as it completes, so a crashed job resumes without
re-compressing finished archives). Here each *stage* commits a manifest entry
(fingerprint of its inputs/config + metrics + per-sink row counts/checksums)
atomically via write-to-temp + rename; ``run_pipeline(resume=True)`` skips
stages whose fingerprint matches and whose output exists.

Per-partition metrics: the route stage records one row per sink (row count +
order-insensitive checksum of doc_ids), rolled up from the per-file stats of
its fused post-route pass over the written files — audit rows derived from
what was actually committed, not from what the job intended to write. The
aggregate stage publishes those counts as agg_sink_counts.
"""

from __future__ import annotations

import hashlib
import json
import os
import time


class LineageLog:
    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.path = os.path.join(work_dir, "_lineage.json")
        os.makedirs(work_dir, exist_ok=True)

    def _load(self) -> dict:
        if not os.path.exists(self.path):
            return {"stages": {}}
        with open(self.path) as f:
            return json.load(f)

    def is_done(self, stage: str, fingerprint: str) -> bool:
        entry = self._load()["stages"].get(stage)
        return (
            bool(entry)
            and entry["fingerprint"] == fingerprint
            and entry.get("status", "done") == "done"
        )

    def metrics(self, stage: str) -> dict | None:
        entry = self._load()["stages"].get(stage)
        return entry["metrics"] if entry else None

    def _write(self, data: dict) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f, indent=2, default=str)
        os.replace(tmp, self.path)  # atomic commit

    def begin(self, stage: str, fingerprint: str) -> None:
        """Mark a stage running (the job state machine the reference's
        schedulers poll, compression_scheduler.py poll_running_jobs): a crash
        leaves the entry in 'running', which resume treats as not-done."""
        data = self._load()
        data["stages"][stage] = {
            "fingerprint": fingerprint,
            "metrics": {},
            "status": "running",
            "started_at": time.time(),
        }
        self._write(data)

    def commit(self, stage: str, fingerprint: str, metrics: dict) -> None:
        data = self._load()
        entry = {
            "fingerprint": fingerprint,
            "metrics": metrics,
            "status": "done",
            "committed_at": time.time(),
        }
        prev = data["stages"].get(stage)
        if prev and "started_at" in prev:
            entry["started_at"] = prev["started_at"]
        data["stages"][stage] = entry
        self._write(data)

    def job_status(self) -> dict[str, str]:
        """stage -> 'done' | 'running' (poll-able job state)."""
        return {
            s: e.get("status", "done")
            for s, e in self._load()["stages"].items()
        }

    def invalidate(self, stage: str) -> None:
        data = self._load()
        data["stages"].pop(stage, None)
        self._write(data)


def fingerprint(obj) -> str:
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]
