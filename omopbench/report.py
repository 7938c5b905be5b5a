"""Turn the JVM harness's raw report into the benchmark's metrics.

Pure functions, no Spark: `assemble(raw, trace)` returns the result object
(`correct`, `attempted`, `failed`, `metrics`) and a detail object that
records what the metrics alone do not (calibration, sample counts, check
outcomes, rejected metric names).
"""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# name -> unit. Printed with --trace 0.
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "live_heap_mb": "MB",
}

# Layers of one op, each a span around public calls; their durations plus
# `unattributed_s` add up to the op's wall.
SPANS = ("rules.parse", "sources.register", "engine.spine", "engine.plan", "engine.write")

# name -> unit. Printed with --trace 1: medians over the traced warm ops,
# `cold.*` from the traced cold op, `trace.overhead` from traced against
# untraced warm ops of the same run.
PER_LAYER = {
    **{f"{s}_s": "s" for s in SPANS},
    **{f"{s}_share": "ratio" for s in SPANS},
    "unattributed_s": "s",
    "unattributed_share": "ratio",
    "dialect.translate_s": "s",
    "dialect.fragments": "count",
    "engine.spine_jobs": "count",
    "engine.statements": "count",
    "engine.write_jobs": "count",
    "engine.rows_out": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.critical_path_s": "s",
    "spark.driver_gap_s": "s",
    "spark.occupancy": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.gc_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "aqe.replans": "count",
    "codegen.compiles": "count",
    "codegen.compile_s": "s",
    "jvm.jit_s": "s",
    "cold.op_s": "s",
    "cold.engine.spine_s": "s",
    "cold.engine.plan_s": "s",
    "cold.engine.write_s": "s",
    "cold.unattributed_s": "s",
    "cold.spark.jobs": "count",
    "cold.codegen.compiles": "count",
    "cold.codegen.compile_s": "s",
    "cold.jvm.jit_s": "s",
    "trace.overhead": "ratio",
}

# calibration after/before beyond this factor flags a disturbed box
DISTURBED = 1.15


def tail(values):
    """(percentile, value, n) for the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    n = len(values)
    if n < 11:
        return None
    s = sorted(values)
    k = n - 11  # s[k] has exactly ten samples above it
    return (100.0 * (k + 1) / n, s[k], n)


def layer_fields(op):
    """Per-op layer fields: spans, their shares of the span window, and the
    time no span covers."""
    wall = op["span_wall_s"]
    out = {k: v for k, v in op.items() if isinstance(v, (int, float)) and not isinstance(v, bool)}
    out["engine.rows_out"] = op.get("rows_out")
    covered = 0.0
    for s in SPANS:
        v = op.get(f"{s}_s", 0.0)
        covered += v
        out[f"{s}_share"] = v / wall
    out["unattributed_s"] = wall - covered
    out["unattributed_share"] = (wall - covered) / wall
    return out


def op_ok(op):
    return bool(op.get("ok")) and bool(op.get("output_ok"))


def assemble(raw, trace):
    ops = raw.get("ops", [])
    checks = raw.get("checks", {})
    problems = []
    failed_ops = [o for o in ops if not op_ok(o)]
    for o in failed_ops:
        if "error" in o:
            problems.append(f"{o.get('kind')} op failed: {o['error']}")
        else:
            problems.append(f"{o.get('kind')} op wrote wrong output: counts {o.get('counts')}, "
                            f"expected {checks.get('expected_counts')}; golden mismatches "
                            f"{o.get('golden_mismatches')}")
    attempted = len(ops)
    failed = len(failed_ops)

    warm = [o for o in ops if o.get("kind") == "warm" and op_ok(o)]
    cold = [o for o in ops if o.get("kind") == "cold" and op_ok(o)]
    metrics = {}
    if not trace:
        setups = [s["total_s"] for s in raw.get("setups", [])]
        if setups:
            metrics["setup_s"] = raw.get("jvm_start_s", 0.0) + statistics.median(setups)
        if cold:
            metrics["cold_s"] = cold[0]["wall_s"]
        if warm:
            walls = [o["wall_s"] for o in warm]
            metrics["op_p50_s"] = statistics.median(walls)
            metrics["rows_per_s"] = sum(o["rows_out"] for o in warm) / sum(walls)
        if "live_heap_mb" in raw:
            metrics["live_heap_mb"] = raw["live_heap_mb"]
        wanted = END_TO_END
    else:
        traced = [layer_fields(o) for o in warm if o.get("traced")]
        if traced:
            for name in set().union(*traced):
                vals = [t[name] for t in traced if name in t]
                metrics[name] = statistics.median(vals)
        if cold and cold[0].get("traced"):
            c = layer_fields(cold[0])
            metrics["cold.op_s"] = cold[0]["wall_s"]
            for k in ("engine.spine_s", "engine.plan_s", "engine.write_s", "unattributed_s",
                      "spark.jobs", "codegen.compiles", "codegen.compile_s", "jvm.jit_s"):
                if k in c:
                    metrics[f"cold.{k}"] = c[k]
        untraced = [o["wall_s"] for o in warm if not o.get("traced")]
        if traced and untraced:
            metrics["trace.overhead"] = (statistics.median(o["wall_s"] for o in warm if o.get("traced"))
                                         / statistics.median(untraced) - 1.0)
        wanted = PER_LAYER

    units = {**END_TO_END, **PER_LAYER}
    rejected = sorted(n for n in metrics if not NAME_RE.match(n))
    for n in rejected:
        problems.append(f"metric name {n!r} is outside [A-Za-z0-9_.-]; dropped")
    out = {n: {"value": v, "unit": units[n]}
           for n, v in sorted(metrics.items()) if n in wanted and n not in rejected}
    missing = sorted(set(wanted) - set(out))
    if missing:
        problems.append(f"metrics not measured: {missing}")

    before, after = raw.get("calibration_before_s"), raw.get("calibration_after_s")
    ratio = after / before if before and after else None
    walls = [o["wall_s"] for o in warm]
    detail = {
        "calibration": {"before_s": before, "after_s": after, "ratio": ratio,
                        "disturbed": ratio is not None and not (1 / DISTURBED <= ratio <= DISTURBED)},
        "factor": raw.get("factor"),
        "cpus": raw.get("cpus"),
        "jvm_start_s": raw.get("jvm_start_s"),
        "setups": raw.get("setups", []),
        "warm_walls_s": walls,
        "op_tail": tail(walls),
        "checks": checks,
        "problems": problems,
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}
    return result, detail
