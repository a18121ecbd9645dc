"""Per-layer metrics of a traced run.

Every name is printed on every workload; a layer the workload does not
enter reads 0. The one exception is ``trace.overhead_frac``, left out when
no untraced run of the same workload, seed and code is at hand. A layer
prefix that occurs several times in one pass is summed within the pass;
over passes, and over set-up repetitions, the median is taken.
"""

from __future__ import annotations

import statistics
from pathlib import Path

from perfbench import trace

MB = 1024.0 * 1024.0

PREFIXES = [
    "sources.copurchase_edges",
    "sources.extract_edges", "sources.vertex_map",
    "graph.undirected", "graph.degrees",
    "triangles.triangle_count", "motifs.cycle4_count",
    "labels.discover_star_labels", "labels.discover_star_labels_3",
    "labels.mni_star2_supports",
    "groups.group_count_many", "patterns.clique_count",
    "iterative.label_propagation",
]
CALL_FIELDS = [
    ("wall_s", "s"), ("jobs", "count"), ("task_s", "s"),
    ("shuffle_write_mb", "MB"), ("driver_s", "s"),
]
OTHER = [
    ("groups10.wall_s", "s"),
    ("triangles_per_s", "1/s"),
    ("label_propagation_edges_per_s_per_step", "1/s"),
    ("iterative.label_propagation.step_p50_s", "s"),
    ("superstep.checkpoint_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.gc_s", "s"),
    ("spark.failed_tasks", "count"),
    ("spark.busy_frac", "ratio"),
    ("spark.skew_max", "ratio"),
    ("spark.peak_rss_mb", "MB"),
    ("session.start_s", "s"),
    ("setup.cold_s", "s"),
    ("sources.edges", "count"),
    ("trace.overhead_frac", "ratio"),
]


def names() -> list[tuple[str, str]]:
    return [(f"{p}.{f}", u) for p in PREFIXES for f, u in CALL_FIELDS] + OTHER


def _step_p50(res) -> float:
    walls = {m["superstep"]: m["wall_ms"] for m in res.metrics if m["superstep"] >= 1}
    return statistics.median(walls.values()) / 1000.0 if walls else 0.0


def per_layer(spans, eventlog_dir: Path, pass_spans, cores: int, st: dict,
              outputs, ckpt_bytes: int, session_start_s: float,
              run_s: float, cold_setup_s: float, untraced_run_s: float | None,
              peak_rss_mb: float) -> dict:
    (log,) = [p for p in eventlog_dir.iterdir() if p.is_file()]
    jobs, tasks = trace.parse(trace.read_event_log(log))
    stats = trace.attribute(spans, jobs, tasks)

    by_id = {s.span_id: s for s in spans}

    def top(s):  # the pass or set-up repetition a span belongs to
        while s is not None and s.name not in ("pass", "setup"):
            s = by_id.get(s.parent)
        return s

    groups: dict[str, dict[int, list]] = {}
    for s in spans:
        t = top(s)
        if t is not None and s is not t:
            groups.setdefault(s.name, {}).setdefault(t.span_id, []).append(stats[s.span_id])

    out: dict[str, tuple[float, str]] = {k: (0, u) for k, u in names()}

    def med(name, f):
        per_group = [sum(f(x) for x in g) for g in groups.get(name, {}).values()]
        return statistics.median(per_group) if per_group else 0

    for p in PREFIXES:
        out[f"{p}.wall_s"] = (med(p, lambda x: x.wall_s), "s")
        out[f"{p}.jobs"] = (med(p, lambda x: x.jobs), "count")
        out[f"{p}.task_s"] = (med(p, lambda x: x.task_s), "s")
        out[f"{p}.shuffle_write_mb"] = (med(p, lambda x: x.shuffle_write_bytes / MB), "MB")
        out[f"{p}.driver_s"] = (med(p, lambda x: x.driver_s), "s")
    out["groups10.wall_s"] = (med("groups10", lambda x: x.wall_s), "s")

    vals = dict(outputs)
    tri_wall = out["triangles.triangle_count.wall_s"][0]
    if "triangles" in vals and tri_wall:
        out["triangles_per_s"] = (vals["triangles"] / tri_wall, "1/s")
    if "label_propagation" in vals:
        lp = vals["label_propagation"]
        wall = out["iterative.label_propagation.wall_s"][0]
        out["label_propagation_edges_per_s_per_step"] = (
            st["edges_rows"] * lp.supersteps / wall, "1/s"
        )
        out["iterative.label_propagation.step_p50_s"] = (_step_p50(lp), "s")
        out["superstep.checkpoint_mb"] = (ckpt_bytes / MB, "MB")

    # Spark executor totals over the measured passes
    in_pass = {s.span_id for s in spans if top(s) in pass_spans}
    pass_tasks = [t for sid in in_pass for t in stats[sid].tasks]
    out["spark.spill_mb"] = (sum(t.spill_bytes for t in pass_tasks) / MB, "MB")
    out["spark.gc_s"] = (sum(t.gc_s for t in pass_tasks), "s")
    out["spark.failed_tasks"] = (sum(t.failed for t in pass_tasks), "count")
    out["spark.busy_frac"] = (
        sum(t.run_s for t in pass_tasks) / (run_s * len(pass_spans) * cores), "ratio"
    )
    out["spark.skew_max"] = (trace.stage_skew(pass_tasks, cores), "ratio")
    out["spark.peak_rss_mb"] = (peak_rss_mb, "MB")
    out["session.start_s"] = (session_start_s, "s")
    out["setup.cold_s"] = (cold_setup_s, "s")
    out["sources.edges"] = (st["edges_rows"], "count")
    if untraced_run_s is None:
        del out["trace.overhead_frac"]
    else:
        out["trace.overhead_frac"] = (run_s / untraced_run_s - 1.0, "ratio")
    return out
