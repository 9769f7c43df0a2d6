"""sf0.1 SCALE GATE for the heavy dedup/ANN family (round-4 verdict
item 4): the bucketing / df-cap / LSH-sizing claims are SCALE claims,
and the driver's sf0.01 gate (500 docs / 500 embeddings) cannot see a
plan regression that only bites at 10x the rows.  This sweep re-runs
the oracle comparison at sf0.1 (5,000 docs / 2,000 embeddings /
100,000 events) with the embedded oracle artifacts (IVF centroids, PQ
codebooks, corpus-sized LSH plane count) retrained on the SAME corpus
for both sides, and records per-query wall time.

Usage:
    python scripts/scale_gate.py            # writes SCALE_GATE_r05.json

Implementation: a thin wrapper over scripts/gatecheck.py — it sets
SF_DIR / SPARK_GRAFT_ORACLE_SF_DIR / GATECHECK_OUT and execs the
gatecheck sweep over the queries tagged ``scale_gate=True`` in
``__spark_entry__.py`` in a FRESH interpreter (__spark_entry__
snapshots ORACLE_SF_DIR at import time).
"""

from __future__ import annotations

import os
import subprocess
import sys

def main() -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    env = dict(os.environ)
    env["SF_DIR"] = env.get("SF_DIR", "/root/testdata/sf0.1")
    env["SPARK_GRAFT_ORACLE_SF_DIR"] = env["SF_DIR"]
    env["GATECHECK_OUT"] = env.get(
        "GATECHECK_OUT",
        os.path.join(os.path.dirname(here), "SCALE_GATE_r05.json"),
    )
    env.setdefault("CPUS", "32")
    return subprocess.call(
        [sys.executable, os.path.join(here, "gatecheck.py"), "scale_gate"],
        env=env,
    )


if __name__ == "__main__":
    raise SystemExit(main())
