"""The per-layer metrics: each is a field of the spans of one name, taken as
the median over every span of that name in the traced passes. A layer the
workload never calls reports 0 — the prediction for a workload that
bypasses it. Layers only the manual workloads call (MS2 scoring,
pathway_bfs, registry queries outside query_mix's subset) are reported only
when traced."""

from __future__ import annotations

import statistics

from perfbench.query_mix import REGISTRY_SUBSET

UNITS = {"wall_s": "s", "self_s": "s", "build_s": "s", "exec_s": "s", "exec_run_s": "s",
         "exec_cpu_s": "s", "jobs": "count", "jobs_in_build": "count", "stages": "count",
         "shuffle_write_b": "B", "spill_b": "B", "bytes_written": "B"}
GEN_EXPANSION = ("wall_s", "self_s", "jobs", "stages", "exec_run_s", "exec_cpu_s",
                 "shuffle_write_b", "spill_b")
GEN_FILTERS = ("wall_s", "self_s", "jobs", "stages", "exec_run_s", "shuffle_write_b")


def _spec(queries, generations: int = 2) -> list[tuple[str, str, str]]:
    """(metric name, span name, span field)."""
    out = [("readers." + f, "readers", f) for f in ("wall_s", "self_s", "jobs")]
    out.append(("expansion.start.wall_s", "expansion.start", "wall_s"))
    for g in range(1, generations + 1):
        out += [(f"expansion.g{g}.{f}", f"expansion.g{g}", f) for f in GEN_EXPANSION]
        out += [(f"filters.g{g}.{f}", f"filters.g{g}", f) for f in GEN_FILTERS]
    out += [("network.assign_ids." + f, "network.assign_ids", f)
            for f in ("wall_s", "jobs", "stages", "shuffle_write_b")]
    out += [("writers." + f, "writers", f) for f in ("wall_s", "self_s", "jobs", "bytes_written")]
    out += [("metabolomics.find_db_hits." + f, "metabolomics.find_db_hits", f)
            for f in ("wall_s", "jobs", "exec_run_s")]
    for q in queries:
        out += [(f"registry.{q}.build_s", f"registry.{q}.build", "wall_s"),
                (f"registry.{q}.exec_s", f"registry.{q}.exec", "wall_s"),
                (f"registry.{q}.jobs_in_build", f"registry.{q}.build", "jobs")]
        out += [(f"registry.{q}.{f}", f"registry.{q}", f) for f in ("stages", "exec_run_s", "shuffle_write_b")]
    return out


def _ratio(spans, name_prefix: str, num: str, den: str) -> float:
    n = sum(s.get(num, 0) for s in spans if s["name"].startswith(name_prefix))
    d = sum(s.get(den, 0) for s in spans if s["name"].startswith(name_prefix))
    return n / d if d else 0.0


def _per_pass(spans, name_prefix: str, key: str) -> float:
    passes = {s["rid"] for s in spans if s["name"].startswith(name_prefix)}
    total = sum(s.get(key, 0) for s in spans if s["name"].startswith(name_prefix))
    return total / len(passes) if passes else 0.0


def layer_metrics(spans: list[dict], boot_s: float) -> dict[str, tuple[float, str]]:
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    ran = {s["name"].split(".")[1] for s in spans if s["name"].startswith("registry.")}
    queries = list(REGISTRY_SUBSET) + sorted(ran - set(REGISTRY_SUBSET))
    spec = _spec(queries)
    for span, fields in (("metabolomics.score_stored_spectra", ("wall_s", "jobs", "exec_run_s")),
                         ("network.pathway_bfs", ("wall_s", "jobs", "stages"))):
        if span in by_name:
            spec += [(f"{span}.{f}", span, f) for f in fields]
    out = {"session.boot_s": (boot_s, "s")}
    for metric, span, f in spec:
        vals = [s.get(f, 0) for s in by_name.get(span, [])]
        out[metric] = (statistics.median(vals) if vals else 0, UNITS[f])
    out["expansion.frontier_rows"] = (_per_pass(spans, "expansion.g", "frontier_rows"), "rows")
    out["expansion.rxn_out"] = (_per_pass(spans, "expansion.g", "rxn_out"), "rows")
    out["expansion.new_cpd_per_frontier"] = (_ratio(spans, "expansion.g", "new_cpd", "frontier_rows"), "ratio")
    out["filters.kept_ratio"] = (_ratio(spans, "filters.g", "kept", "candidates"), "ratio")
    out["metabolomics.hits_per_window"] = (
        _ratio(spans, "metabolomics.find_db_hits", "hits", "windows"), "ratio")
    return out


def metric_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    return [(k, u) for k, (_, u) in layer_metrics([], 0.0).items()] + [("trace.overhead_s", "s")]
