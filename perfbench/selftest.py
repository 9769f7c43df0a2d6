"""Self-test of the benchmark definition.

    python3 perfbench/selftest.py          # static checks only
    python3 perfbench/selftest.py --smoke  # plus a tiny run of every workload, both modes

Run from the repository root.  Checks that every name in
``BENCHMARK.json`` matches ``[A-Za-z0-9_.-]+`` and is used once, that
``spec.py`` has sizes for exactly its workloads and a ``moves`` entry for
exactly its per-layer metrics, that the generated events timeline has the
distributions measured on sf0.1, and (with ``--smoke``) that the result
line of each tiny run holds exactly the metrics ``BENCHMARK.json`` lists.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import numpy as np  # noqa: E402

from inputs import events_timeline_pdf  # noqa: E402
from spec import BENCHMARK, EVENTS_SF01, MOVES, WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
SMOKE_LIMIT_S = 60


def _names(key: str) -> list[str]:
    return [m["name"] for m in BENCHMARK[key]]


def static_problems() -> list[str]:
    problems = []
    names = _names("workloads") + _names("end_to_end") + _names("per_layer")
    problems += [f"bad name {n!r}" for n in names if not NAME.fullmatch(n)]
    if len(set(names)) != len(names):
        problems.append("a name is used twice")
    if set(_names("workloads")) != set(WORKLOADS):
        problems.append("spec.py sizes other workloads than BENCHMARK.json lists")
    if set(_names("per_layer")) != set(MOVES):
        problems.append("spec.MOVES covers other per-layer metrics than BENCHMARK.json lists")
    setup = [m for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s"]
    if not setup or (setup[0]["unit"], setup[0]["better"]) != ("s", "lower"):
        problems.append("setup_s (unit s, lower is better) is missing")
    return problems + events_problems()


def events_problems() -> list[str]:
    """The generated timeline, at sf0.1 size, against the measured table."""
    ref = EVENTS_SF01
    n_entities = 1500
    tl = events_timeline_pdf(round(ref["events_per_entity"] * n_entities), 64, n_entities, seed=0)
    per_entity = tl["entity_id"].value_counts().reindex(range(n_entities), fill_value=0)
    ts = tl["ts"].to_numpy().astype(np.int64)
    gaps = np.diff(ts)
    got = {
        "events_per_entity": per_entity.mean(),
        "events_per_entity_std": per_entity.std(),
        "purchase_share": (tl["kind"] == "query").mean(),
        "span_days": (ts[-1] - ts[0]) / 86_400e6,
        "gap_cv": gaps.std() / gaps.mean(),
    }
    # relative tolerances: a few standard errors of each statistic at 100k rows
    tol = {"events_per_entity": 0.01, "events_per_entity_std": 0.1, "purchase_share": 0.03,
           "span_days": 0.01, "gap_cv": 0.03}
    problems = [
        f"generated events: {k} {got[k]:.4g}, measured on sf0.1 {ref[k]:.4g}"
        for k in ref
        if abs(got[k] / ref[k] - 1.0) > tol[k]
    ]
    if tl["ts"].duplicated().any():
        problems.append("generated events share a timestamp")
    return problems


def smoke_problems() -> list[str]:
    problems = []
    for workload in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
                 "--seconds", "2", "--trace", str(trace), "--smoke"],
                cwd=ROOT, capture_output=True, text=True, timeout=180,
            )
            wall = time.perf_counter() - t0
            tag = f"{workload} --trace {trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(result)}")
            if list(result["metrics"]) != _names(key):
                problems.append(f"{tag}: printed metrics differ from BENCHMARK.json {key}")
            if not result["correct"]:
                problems.append(f"{tag}: verification failed")
            if wall > SMOKE_LIMIT_S:
                problems.append(f"{tag}: smoke run took {wall:.0f} s")
            print(f"{tag}: ok in {wall:.0f} s", flush=True)
    return problems


def main() -> int:
    problems = static_problems()
    if "--smoke" in sys.argv[1:]:
        problems += smoke_problems()
    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
