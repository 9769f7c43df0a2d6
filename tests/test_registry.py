"""The driver registry: every module-level ``q_<name>`` function in
``__spark_entry__.py`` is the query ``<name>``, its roles are ``_tag``
decorator tags, and ``queries()`` orders it for the driver gate.  These
pins run no Spark job."""

from __future__ import annotations

import hashlib
import json
import re
from pathlib import Path

import pytest

import __spark_entry__ as em

ROOT = Path(em.__file__).resolve().parent

# the 196 names registered when the registry moved onto the q_ functions
N_REGISTERED = 196
REGISTRY_SHA256 = "ec80c3413fa0ef0eb08d290f2ad17851162900f600d18b0e2dfce52be81c5259"

# bench.py's headline `value` sums the flagship plus exactly these
RELATIONAL = {
    "asof_join", "asof_nearest", "lag_lead", "forward_fill", "sessionize",
    "session_stats", "sliding_1h", "tumbling_hourly", "topk_per_user",
    "pricing_summary", "top_customers",
}

GROUP_SIZES = {
    "relational": 11, "extended": 8, "extended_r3": 8, "extended_r3b": 8,
    "extended_r3c": 8, "extended_r4": 12, "extended_r4b": 4,
    "extended_r5": 8, "extended_r5b": 17, "extended_r5c": 18,
    "extended_r5d": 18,
}


def _definition_order() -> list[str]:
    """Query names in source order, read from the module text."""
    text = (ROOT / "__spark_entry__.py").read_text()
    return re.findall(r"^def q_(\w+)\(", text, flags=re.M)


def _last_round() -> dict[str, int]:
    last: dict[str, int] = {}
    for p in ROOT.glob("CORRECTNESS_r*.json"):
        rnd = int(re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name).group(1))
        for name in json.loads(p.read_text()):
            last[name] = max(last.get(name, 0), rnd)
    return last


def test_registry_names_pinned():
    names = sorted(em.queries())
    assert len(names) == N_REGISTERED
    digest = hashlib.sha256("\n".join(names).encode()).hexdigest()
    assert digest == REGISTRY_SHA256
    assert set(names) == set(_definition_order())


def test_rows_only_queries():
    assert set(em.queries()) - set(em.oracle_sql()) == {
        "pit_featurize_asof", "snapshot_lineage",
    }


def test_gate_window_leads_with_least_recently_gated():
    """The driver gate checks the first 50 entries: never-gated queries
    first, then the oldest last-gated round, ties in definition order."""
    last = _last_round()
    order = _definition_order()
    expect = sorted(order, key=lambda n: (last.get(n, 0), order.index(n)))
    got = list(em.queries())
    assert got == expect
    if {p.name for p in ROOT.glob("CORRECTNESS_r*.json")} == {
        f"CORRECTNESS_r0{r}.json" for r in range(1, 6)
    }:
        window = got[:50]
        assert sum(n not in last for n in window) == 38
        assert [last[n] for n in window if n in last] == [2] * 12


def test_bench_groups():
    groups: dict[str, set[str]] = {}
    for name, group in em.tagged("bench").items():
        groups.setdefault(group, set()).add(name)
    assert groups["relational"] == RELATIONAL
    assert {g: len(v) for g, v in groups.items()} == GROUP_SIZES


def test_tagged_queries_are_registered():
    registered = set(em.queries())
    sizes = {"bench": sum(GROUP_SIZES.values()), "scale_gate": 48, "eager": 20}
    for tag, n in sizes.items():
        names = em.tagged(tag)
        assert len(names) == n, tag
        assert set(names) <= registered, tag
    assert set(em.tagged("scale_gate").values()) == {True}
    assert set(em.tagged("eager").values()) == {True}


def test_unknown_tag_rejected():
    with pytest.raises(AssertionError):
        em._tag(headline=True)
    with pytest.raises(AssertionError):
        em.tagged("headline")
