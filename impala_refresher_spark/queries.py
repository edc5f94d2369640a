"""Assembles the full declared-query registry.

Importing this module imports every operator module, which registers
its queries/oracles via the ``@query`` decorator into
``impala_refresher_spark.registry``, then orders the registry.

The registry order is the driver's next correctness window (it checks
the first 50 entries each round), and the driver evidence is its only
source: oracled queries come first, oldest last-green round first
(never-green and net-new names lead, name breaks ties), and the two
rows-only native-sketch queries sit at the tail. The window rotates by
itself whenever a ``CORRECTNESS_r*.json`` file lands. Nothing is
re-queued by hand: any change to the package sources is re-verified by
a clean full-registry ``scripts/driver_sim.py --vanilla`` sweep, whose
certificate ``scripts/gen_ledger.py`` checks against the tree.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import re

from impala_refresher_spark.registry import ORACLES, QUERIES

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_OPERATOR_MODULES = [
    "impala_refresher_spark.operators.relational",
    "impala_refresher_spark.operators.refresh",
    "impala_refresher_spark.operators.windows",
    "impala_refresher_spark.operators.udfs",
    "impala_refresher_spark.operators.text",
    "impala_refresher_spark.operators.dedup",
    "impala_refresher_spark.operators.similarity",
    "impala_refresher_spark.operators.multimodal",
    "impala_refresher_spark.operators.asof",
    "impala_refresher_spark.operators.pipeline",
    "impala_refresher_spark.operators.rollup_hypertable",
    "impala_refresher_spark.operators.analytics",
    "impala_refresher_spark.operators.profiling",
    "impala_refresher_spark.operators.linkage",
    "impala_refresher_spark.operators.evaluation",
    "impala_refresher_spark.operators.lakehouse",
    "impala_refresher_spark.operators.graph",
    "impala_refresher_spark.operators.tpch",
    "impala_refresher_spark.functions.scalar",
    "impala_refresher_spark.sources.sinks",
    "impala_refresher_spark.streaming.windows",
]


def _load() -> None:
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)


def last_green_rounds(root: str = _ROOT) -> dict[str, int]:
    """``{name: newest round whose CORRECTNESS_r<N>.json row has
    hash_match}`` over the correctness files in ``root``; a file with
    any other suffix (``CORRECTNESS_r10_c8.json``) is not evidence."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m is None:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            for name, row in json.load(f).items():
                if row.get("hash_match"):
                    last[name] = max(last.get(name, 0), rnd)
    return last


def registry_order(names, oracled, last_green: dict[str, int]) -> list[str]:
    """Oracled names first, oldest last-green round first (never-green
    counts as round 0), name as tie-break; rows-only names last."""
    return sorted(names, key=lambda n: (n not in oracled, last_green.get(n, 0), n))


def _reorder() -> None:
    ordered = registry_order(QUERIES, ORACLES, last_green_rounds())
    for reg in (QUERIES, ORACLES):
        snap = {n: reg[n] for n in ordered if n in reg}
        reg.clear()
        reg.update(snap)


_load()
_reorder()

__all__ = ["QUERIES", "ORACLES"]
