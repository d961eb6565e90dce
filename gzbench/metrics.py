"""Metric names, units and how they are computed from the passes."""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass


@dataclass
class Pass:
    """One timed pass. ``wall_s`` is the sum of its operation spans (the
    engine's time); ``gross_s`` also counts the benchmark's bookkeeping
    between operations. CPU is the whole process tree's over the pass."""
    traced: bool
    wall_s: float
    gross_s: float
    cpu_s: float
    spans: list

    @property
    def shuffle_mb(self) -> float:
        return sum(s.stats["shuffle_mb"] for s in self.spans)

    @property
    def jobs(self) -> int:
        return sum(s.stats["jobs"] for s in self.spans)

# name: (unit, better, bound). Only set-up time and counts that repeat
# exactly are gated: on the shared 4-core host the pass wall, its CPU
# time and peak RSS drift by 18-45% between runs of identical code, so
# they are reported with the per-layer metrics instead.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "shuffle_mb": ("MB", "lower", 0.1),
    "jobs": ("count", "lower", 0.1),
}

BATCH = {"wall_s": ("s", "lower"), "task_s": ("s", "lower"),
         "gc_s": ("s", "lower"), "shuffle_mb": ("MB", "lower"),
         "jobs": ("count", "lower")}
PYTHON = {"python_s": ("s", "lower")}

# span -> does its final plan run Python workers (python_s is read from
# that plan; knn.grid's cogroup runs in jobs before its cached output)
GEO_SPANS = {
    "queries.decode_points": False, "udfs.codec": True,
    "pip_join.broadcast": True, "pip_join.shuffle": True,
    "bbox_select.viewport": False, "cols.cell_counts": False,
    "tiling.tile_counts": False,
    "tiling.mvt": True, "raster.tiles": True, "knn.grid": False,
    "meta.stage_write": False, "meta.stage_resume": False,
}
CORPUS_SPANS = {
    "textstats.quality": True, "dedup.exact": False,
    "dedup.minhash": False, "dedup.clusters": False,
    "similarity.cosine": True, "similarity.lsh": True,
    "similarity.ivf": True,
}
EXTRAS = {
    "pass.wall_s": ("s", "lower"),
    "pass.rows_per_s": ("rows/s", "higher"),
    "pass.cpu_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "pip_join.broadcast.yield": ("ratio", "higher"),
    "similarity.lsh.yield": ("ratio", "higher"),
    "tiling.mvt.bytes": ("bytes", "lower"),
    "meta.stage_write.tasks": ("count", "higher"),
    "host_ref_ms": ("ms", "lower"),
    "trace_overhead": ("ratio", "lower"),
}


def per_layer_units() -> dict:
    """Every per-layer metric name -> (unit, better), in output order."""
    out = {}
    for span, py in {**GEO_SPANS, **CORPUS_SPANS}.items():
        for m, ub in {**BATCH, **(PYTHON if py else {})}.items():
            out[f"{span}.{m}"] = ub
    out.update(EXTRAS)
    return out


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(passes, setup_s: float) -> dict:
    vals = {
        "setup_s": setup_s,
        "shuffle_mb": _med([p.shuffle_mb for p in passes]),
        "jobs": _med([p.jobs for p in passes]),
    }
    return {k: {"value": v, "unit": END_TO_END[k][0]}
            for k, v in vals.items()}


def _max_join_rows(rows: dict) -> int:
    """Candidate rows of a yield: the largest join output in the span's
    final plan (PIP cover matches, LSH bucket matches)."""
    return max([r for cls, rs in rows.items() if "Join" in cls
                for r in rs] or [0])


def per_layer(passes, host_ms, peak_rss_mb: float,
              pass_rows: int) -> dict:
    """Medians over the traced passes (``pass.*``: the untraced ones).
    Every name is emitted on every workload; the spans of the other
    workload read 0."""
    traced = [p for p in passes if p.traced]
    plain = [p for p in passes if not p.traced]
    by: dict[str, list] = {}
    for p in traced:
        for s in p.spans:
            by.setdefault(s.name, []).append(s)
    vals = {}
    for span, py in {**GEO_SPANS, **CORPUS_SPANS}.items():
        ss = by.get(span, [])
        vals[f"{span}.wall_s"] = _med([s.wall_s for s in ss])
        for m in ("task_s", "gc_s", "shuffle_mb", "jobs"):
            vals[f"{span}.{m}"] = _med([s.stats[m] for s in ss])
        if py:
            vals[f"{span}.python_s"] = _med(
                [s.stats.get("python_s", 0.0) for s in ss])

    def yld(span):
        return _med([s.rows / j for s in by.get(span, [])
                     if (j := _max_join_rows(s.stats.get("rows", {})))])

    vals["pip_join.broadcast.yield"] = yld("pip_join.broadcast")
    vals["similarity.lsh.yield"] = yld("similarity.lsh")
    vals["tiling.mvt.bytes"] = _med(
        [s.stats.get("mvt_bytes", 0) for s in by.get("tiling.mvt", [])])
    vals["meta.stage_write.tasks"] = _med(
        [s.stats["tasks"] for s in by.get("meta.stage_write", [])])
    wall = _med([p.wall_s for p in plain])
    vals["pass.wall_s"] = wall
    vals["pass.rows_per_s"] = pass_rows / wall if wall else 0.0
    vals["pass.cpu_s"] = _med([p.cpu_s for p in plain])
    vals["peak_rss_mb"] = peak_rss_mb
    vals["host_ref_ms"] = _med(host_ms)
    if traced and plain:
        vals["trace_overhead"] = (_med([p.gross_s for p in traced])
                                  / _med([p.gross_s for p in plain]) - 1.0)
    else:
        vals["trace_overhead"] = 0.0
    units = per_layer_units()
    return {k: {"value": float(vals[k]), "unit": units[k][0]}
            for k in units}


def write_trace(path, workload, seed, passes, metrics, fingerprints):
    """Spans (name, start, end, parent, pass id, rows, stage and plan
    stats), the per-layer metrics and each operation's fingerprint."""
    spans = [{"name": s.name, "span_id": s.span_id, "parent": s.parent,
              "pass_id": s.pass_id, "traced": p.traced, "start": s.start,
              "end": s.end, "rows": s.rows,
              "stats": {k: v for k, v in s.stats.items() if k != "rows"},
              "plan_rows": s.stats.get("rows", {})}
             for p in passes for s in p.spans]
    # coverage: share of the gross pass wall inside top-level spans
    passes_out = [{"traced": p.traced, "wall_s": p.wall_s,
                   "gross_s": p.gross_s, "coverage": p.wall_s / p.gross_s,
                   "cpu_s": p.cpu_s, "shuffle_mb": p.shuffle_mb,
                   "jobs": p.jobs}
                  for p in passes]
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed,
                   "passes": passes_out, "spans": spans,
                   "metrics": metrics, "fingerprints": fingerprints},
                  f, indent=1)
