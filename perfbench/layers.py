"""Per-layer metrics of the traced passes (``--trace 1``).

Every value is per pass: the sum over one traced pass, averaged over the
traced passes.  ``session.*`` and ``entry.*`` times are
self times (span time minus the time of its traced children);
``operators.*_s``, ``mapreduce.driver_s`` and ``sources.*_s`` are
inclusive driver time of the outermost call; ``spark.*`` and
``mapreduce.python_*`` are Spark's own counters for the pass's job
groups, summed over tasks.
"""

from __future__ import annotations

import os
import statistics

#: A pass's top-level spans must cover its wall time to within this.
SUM_TOLERANCE_S = 0.05
SUM_TOLERANCE_FRAC = 0.02

NAMES = (
    ("session.get_spark_s", "s"), ("session.load_table_s", "s"), ("session.load_table_calls", "count"),
    ("entry.build_s", "s"), ("entry.build_jobs", "count"),
    ("entry.shared_s", "s"), ("entry.shared_calls", "count"), ("entry.shared_builds", "count"),
    ("operators.graph_s", "s"), ("operators.graph_calls", "count"),
    ("operators.dedup_s", "s"), ("operators.dedup_calls", "count"),
    ("mapreduce.driver_s", "s"), ("mapreduce.python_s", "s"), ("mapreduce.python_boot_s", "s"),
    ("mapreduce.python_bytes", "bytes"),
    ("sources.read_s", "s"), ("sources.write_s", "s"), ("sources.bytes_written", "bytes"),
    ("sources.files_written", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.task_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.input_bytes", "bytes"), ("spark.failed_tasks", "count"),
    ("trace.overhead_s", "s"),
)


def _outermost(s, layer) -> bool:
    p = s.parent
    while p is not None:
        if p.layer == layer:
            return False
        p = p.parent
    return True


def record_written(spans) -> None:
    """Size and count the part files each traced writer call left (call
    after the pass, before its directory is removed)."""
    for s in spans:
        if s.layer == "sources.write" and s.extra.get("path"):
            n = size = 0
            for dirpath, _, files in os.walk(s.extra["path"]):
                for f in files:
                    if f.startswith("part-"):
                        n += 1
                        size += os.path.getsize(os.path.join(dirpath, f))
            s.extra["written"] = (size, n)


def pass_metrics(spans, counters) -> dict:
    m = dict.fromkeys((n for n, _ in NAMES), 0.0)
    for s in spans:
        lay = s.layer
        if lay == "session" and s.name == "load_table":
            m["session.load_table_s"] += s.self_s
            m["session.load_table_calls"] += 1
        elif lay == "entry":
            m["entry.build_s"] += s.self_s
            m["entry.build_jobs"] += s.extra.get("jobs", 0)
        elif lay == "entry.shared":
            m["entry.shared_s"] += s.self_s
            m["entry.shared_calls"] += 1
            nested = sum(c.extra.get("new_keys", 0) for c in s.children if c.layer == lay)
            m["entry.shared_builds"] += s.extra.get("new_keys", 0) - nested > 0
        elif lay in ("operators.graph", "operators.dedup"):
            key = lay.split(".")[1]
            m[f"operators.{key}_calls"] += 1
            if _outermost(s, lay):
                m[f"operators.{key}_s"] += s.dur
        elif lay == "mapreduce" and _outermost(s, lay):
            m["mapreduce.driver_s"] += s.dur
        elif lay == "sources.read" and _outermost(s, lay):
            m["sources.read_s"] += s.dur
        elif lay == "sources.write" and _outermost(s, lay):
            m["sources.write_s"] += s.dur
            size, n = s.extra.get("written", (0, 0))
            m["sources.bytes_written"] += size
            m["sources.files_written"] += n
    for k in ("jobs", "stages", "task_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "input_bytes", "failed_tasks"):
        m[f"spark.{k}"] = counters[k]
    for k in ("python_s", "python_boot_s", "python_bytes"):
        m[f"mapreduce.{k}"] = counters[k]
    return m


def self_times(spans) -> dict:
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + s.self_s
    return out


def layer_metrics(bench, plain_wall: float) -> dict:
    """Per-layer metrics; also prints each layer's self time and checks
    that each traced pass's top-level spans add up to its wall time."""
    traced = [r for r in bench.rows if r["kind"] == "traced"]
    per_pass, selfs = [], []
    for r in traced:
        spans = [s for s in bench.tracer.spans if s.run == r["pass"]]
        for s in spans:
            if s.end is None or (s.parent and not (s.parent.start <= s.start <= s.end <= s.parent.end)):
                print(f"# span {s.name} does not nest in {s.parent.name if s.parent else None}")
                bench.trace_ok = False
        top = sum(s.dur for s in spans if s.parent is None)
        gap = r["wall_s"] - top
        tol = max(SUM_TOLERANCE_S, SUM_TOLERANCE_FRAC * r["wall_s"])
        print(f"# pass {r['pass']} top-level spans {top:.3f} s of wall {r['wall_s']:.3f} s "
              f"(gap {gap:.3f}, tolerance {tol:.3f})")
        if abs(gap) > tol or abs(sum(s.self_s for s in spans) - top) > 1e-6:
            bench.trace_ok = False
        per_pass.append(pass_metrics(spans, r["counters"]))
        selfs.append(self_times(spans))
    avg = {k: statistics.fmean(p[k] for p in per_pass) for k, _ in NAMES}
    avg["session.get_spark_s"] = bench.get_spark_s
    avg["trace.overhead_s"] = statistics.median(r["wall_s"] for r in traced) - plain_wall
    layers = sorted({k for s in selfs for k in s})
    print("# self_s per layer " + " ".join(
        f"{k}={statistics.fmean(s.get(k, 0.0) for s in selfs):.3f}" for k in layers))
    return {k: (avg[k], u) for k, u in NAMES}
