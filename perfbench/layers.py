"""Per-layer metrics of a traced run, from its spans, its Spark event
log and the per-operation samples the runner took.

Each metric is summed over the operations of one pass; the reported
value is the median over the traced passes after the first (the first,
cold pass when no later pass was traced). A metric group whose read
fails is reported as ``null`` with the reason and never fails the run.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.trace import attribute_jobs, find_event_log, parse_event_log, self_times

OPERATOR_MODULES = (
    "aggregates", "crosstab", "corpus", "dedup", "text", "ngram_lm",
    "substr_dedup", "similarity", "pq", "clustering", "graph",
)

#: metric -> unit, per source; a source whose read fails nulls its metrics
SOURCES = {
    "spans": {
        "session.load_table_s": "s", "session.load_table_calls": "count",
        "session.min_par_calls": "count", "session.min_par_repartitions": "count",
        "session.min_par_s": "s",
        "io.read_s": "s", "io.codebook_s": "s", "io.sink_s": "s",
        "pipeline.transform_s": "s",
        **{f"operators.{m}.build_s": "s" for m in OPERATOR_MODULES},
        "lifecycle.sweep_s": "s",
        "fetch.collect_s": "s",
    },
    "samples": {
        "io.sink_bytes": "bytes", "pipeline.tables": "count",
        "lifecycle.checkpoint_blocks": "count", "lifecycle.cached_mb": "MB",
        "fetch.rows": "count",
    },
    "catalyst": {
        "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms", "catalyst.plan_chars": "chars",
        "catalyst.exchanges": "count",
    },
    "eventlog": {
        "session.load_table_jobs": "count",
        "io.read_jobs": "count", "io.codebook_jobs": "count", "io.sink_jobs": "count",
        **{f"operators.{m}.build_jobs": "count" for m in OPERATOR_MODULES},
        "exec.build_jobs": "count", "exec.collect_jobs": "count",
        "exec.stages": "count", "exec.tasks": "count", "exec.task_s": "s",
        "exec.busy_frac": "ratio", "exec.shuffle_read_mb": "MB",
        "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
        "exec.untagged_jobs": "count",
    },
    "overhead": {
        "trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead_s": "s",
    },
}
UNITS = {name: unit for metrics in SOURCES.values() for name, unit in metrics.items()}
SOURCE_OF = {name: src for src, metrics in SOURCES.items() for name in metrics}

IO_KIND = {"read_table": "read", "read_codebook": "codebook", "apply_codebook": "codebook"}


def _io_kind(fn: str) -> str | None:
    return IO_KIND.get(fn) or ("sink" if fn.startswith("write_") else None)


def span_metrics(spans, self_s) -> dict:
    m = defaultdict(float)
    for s in spans:
        if s.end is None:
            continue
        dur = s.end - s.start
        fn = s.name.rsplit(".", 1)[-1]
        if s.name == "session.load_table":
            m["session.load_table_s"] += dur
            m["session.load_table_calls"] += 1
        elif s.layer == "session.min_par":
            m["session.min_par_s"] += dur
            m["session.min_par_calls"] += 1
            m["session.min_par_repartitions"] += bool(s.attrs.get("repartitioned"))
        elif s.layer == "io" and _io_kind(fn):
            m[f"io.{_io_kind(fn)}_s"] += dur
        elif s.name == "pipeline.BhtPipeline.transform":
            m["pipeline.transform_s"] += dur
        elif s.layer.startswith("operators."):
            m[f"{s.layer}.build_s"] += self_s[s.id]
        elif s.layer == "lifecycle.sweep":
            m["lifecycle.sweep_s"] += dur
        elif s.layer == "act":
            m["fetch.collect_s"] += dur
    return m


def sample_metrics(ops) -> dict:
    m = defaultdict(float)
    for o in ops:
        m["lifecycle.checkpoint_blocks"] += o.get("ckpt_blocks", 0)
        m["lifecycle.cached_mb"] = max(m["lifecycle.cached_mb"], o.get("cached_mb", 0.0))
        m["fetch.rows"] += o.get("rows", 0)
        m["io.sink_bytes"] += o.get("sink_bytes", 0)
        m["pipeline.tables"] += o.get("tables", 0)
    return m


def catalyst_metrics(ops) -> dict:
    m = defaultdict(float)
    for o in ops:
        cat = o.get("catalyst") or {}
        if "error" in cat:
            raise RuntimeError(f"{o['op']}: {cat['error']}")
        for k, v in cat.items():
            m[f"catalyst.{k}"] += v
    return m


def job_metrics(op_spans, spans, log, wall_s, cores) -> dict:
    by_id = {s.id: s for s in spans}
    spans_by_op = defaultdict(list)
    for s in spans:
        root = s
        while root.parent is not None and root.parent in by_id and root.layer != "op":
            root = by_id[root.parent]
        if root.layer == "op":
            spans_by_op[root.id].append(s)
    attributed, _ = attribute_jobs(log["jobs"], op_spans, spans_by_op)
    m = defaultdict(float)
    for op in op_spans:
        for job, untagged, inner in attributed[op.id]:
            chain, s = [], inner
            while s is not None:
                chain.append(s)
                s = by_id.get(s.parent)
            phase = "collect" if any(c.layer == "act" for c in chain) else "build"
            m[f"exec.{phase}_jobs"] += 1
            m["exec.untagged_jobs"] += untagged
            for sid in job["stages"]:
                st = log["stages"][sid]
                m["exec.stages"] += 1
                m["exec.tasks"] += st["tasks"]
                m["exec.task_s"] += st["run_ms"] / 1000.0
                m["exec.shuffle_read_mb"] += st["sr"] / 1e6
                m["exec.shuffle_write_mb"] += st["sw"] / 1e6
                m["exec.spill_mb"] += st["spill"] / 1e6
            layers = [c.layer for c in chain]
            names = [c.name for c in chain]
            if "session.load_table" in names:
                m["session.load_table_jobs"] += 1
            io = next((_io_kind(c.name.rsplit(".", 1)[-1]) for c in chain if c.layer == "io"), None)
            if io:
                m[f"io.{io}_jobs"] += 1
            mod = next((ly for ly in layers if ly.startswith("operators.")), None)
            if mod:
                m[f"{mod}.build_jobs"] += 1
    m["exec.busy_frac"] = m["exec.task_s"] / (cores * wall_s) if wall_s else 0.0
    return m


def layer_metrics(runner, tracer, event_log_dir, cores) -> tuple[dict, dict]:
    """(metrics for the result line, extra detail: self times per
    layer, overhead, null reasons)."""
    spans = tracer.spans
    self_s = self_times(spans)
    traced = [p for p in runner.passes if p["traced"]]
    chosen = [p for p in traced if p["pass"] > 0] or traced
    errors: dict[str, str] = {}
    log = None
    try:
        log = parse_event_log(find_event_log(event_log_dir))
    except Exception as e:
        errors["eventlog"] = f"{type(e).__name__}: {e}"[:300]

    per_pass = []
    for p in chosen:
        pspans = [s for s in spans if s.pass_no == p["pass"]]
        vals: dict[str, float] = {}
        for src, fn in (
            ("spans", lambda: span_metrics(pspans, self_s)),
            ("samples", lambda: sample_metrics(p["ops"])),
            ("catalyst", lambda: catalyst_metrics(p["ops"])),
            ("eventlog", lambda: job_metrics(
                [s for s in pspans if s.layer == "op"], pspans, log, p["wall_s"], cores)),
        ):
            if src in errors:
                continue
            try:
                vals.update(fn())
            except Exception as e:
                errors[src] = f"{type(e).__name__}: {e}"[:300]
        per_pass.append(vals)

    warm = [p for p in runner.passes if p["pass"] > 0]
    traced_w = [p["wall_s"] for p in warm if p["traced"]]
    plain_w = [p["wall_s"] for p in warm if not p["traced"]]
    if traced_w and plain_w:
        t, u = statistics.median(traced_w), statistics.median(plain_w)
        vals = {"trace.pass_s": t, "trace.untraced_pass_s": u, "trace.overhead_s": t - u}
    else:
        vals = {}
        errors["overhead"] = "needs at least one traced and one untraced later pass"
    per_pass = [{**v, **vals} for v in per_pass] or [vals]

    metrics = {}
    for name, unit in UNITS.items():
        reason = errors.get(SOURCE_OF[name])
        value = None if reason else statistics.median(v.get(name, 0.0) for v in per_pass)
        metrics[name] = {"value": value, "unit": unit}
        if value is None:
            metrics[name]["reason"] = reason

    by_layer = defaultdict(float)
    for s in spans:
        if s.id in self_s and chosen and s.pass_no == chosen[0]["pass"]:
            by_layer[s.layer] += self_s[s.id]
    extra = {
        "traced_passes": [p["pass"] for p in chosen],
        "self_s_by_layer": dict(sorted(by_layer.items(), key=lambda kv: -kv[1])),
        "null_reasons": errors,
    }
    return metrics, extra
