"""Small statistics and naming helpers shared by the runner and its tests."""

from __future__ import annotations

import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
MAX_END_TO_END = 16
MAX_PER_LAYER = 128


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def metric_problems(spec: dict) -> list[str]:
    """Violations of the metric naming and size rules in a BENCHMARK.json."""
    problems = []
    e2e, layer = spec.get("end_to_end", []), spec.get("per_layer", [])
    if not 1 <= len(e2e) <= MAX_END_TO_END:
        problems.append(f"{len(e2e)} end-to-end metrics (1-{MAX_END_TO_END} allowed)")
    if not 1 <= len(layer) <= MAX_PER_LAYER:
        problems.append(f"{len(layer)} per-layer metrics (1-{MAX_PER_LAYER} allowed)")
    names = [m["name"] for m in e2e + layer] + [w["name"] for w in spec.get("workloads", [])]
    problems += [f"bad name {n!r}" for n in names if not NAME_RE.match(n)]
    problems += [f"duplicate name {n!r}" for n in sorted(set(names)) if names.count(n) > 1]
    problems += [f"bad unit {m['unit']!r}" for m in e2e + layer if not UNIT_RE.match(m["unit"])]
    return problems
