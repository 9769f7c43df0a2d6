"""Spans recorded by the benchmark around calls into the package, and
the per-stage table read back from Spark's event log.

Spans are kept in memory (name, start, end, parent) and written out once
at the end of a traced run.  Spark phases are tagged with a job
description so the event log's stages can be attributed to them.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def uncovered_share(self, root_name: str, layer_prefixes: tuple[str, ...]) -> float:
        """Share of the root span's wall time that no layer span covers."""
        roots = [s for s in self.spans if s["name"] == root_name and s["end"] is not None]
        if not roots:
            return 1.0
        lo, hi = roots[0]["start"], roots[0]["end"]
        ivals = sorted(
            (max(s["start"], lo), min(s["end"], hi))
            for s in self.spans
            if s["end"] is not None and s["name"].startswith(layer_prefixes)
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivals:
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return max(0.0, 1.0 - covered / (hi - lo)) if hi > lo else 0.0

    def write(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans, indent=1))


@contextmanager
def spark_phase(sc, phase: str):
    """Tag every Spark job started inside the block with ``phase``."""
    sc.setJobDescription(phase)
    try:
        yield
    finally:
        sc.setJobDescription(None)


def stage_table(event_log_dir: Path) -> list[dict]:
    """One row per completed stage: phase, tasks, run and CPU seconds,
    shuffle bytes, spill, and max/median task run time."""
    phase_of_stage: dict[int, str] = {}
    stages: dict[int, dict] = {}
    for path in sorted(p for p in event_log_dir.rglob("*") if p.is_file()):
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line of an unfinished log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    phase = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    for sid in ev.get("Stage IDs", []):
                        phase_of_stage[sid] = phase
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(
                        ev["Stage ID"],
                        {"tasks": 0, "run_ms": [], "cpu_ns": 0, "shuffle_write": 0,
                         "shuffle_read": 0, "spill": 0},
                    )
                    st["tasks"] += 1
                    st["run_ms"].append(m.get("Executor Run Time", 0))
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    rows = []
    for sid, st in sorted(stages.items()):
        med = statistics.median(st["run_ms"]) if st["run_ms"] else 0
        rows.append(
            {
                "stage": sid,
                "phase": phase_of_stage.get(sid, ""),
                "tasks": st["tasks"],
                "run_s": sum(st["run_ms"]) / 1e3,
                "cpu_s": st["cpu_ns"] / 1e9,
                "shuffle_write_mb": st["shuffle_write"] / 2**20,
                "shuffle_read_mb": st["shuffle_read"] / 2**20,
                "spill_mb": st["spill"] / 2**20,
                "task_skew": (max(st["run_ms"]) / med) if med > 0 else 1.0,
            }
        )
    return rows
