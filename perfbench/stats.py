"""Statistics of one benchmark run, computed from the raw samples the
benchmark JVM writes (result.json) and, for a traced run, the parser
layer figures (parser.json)."""
import statistics

# name -> unit; gated metrics of every workload (BENCHMARK.json end_to_end)
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "heap_retained_mb": "MB",
    "short_pass_s": "s",
    "heavy_pass_s": "s",
}

# name -> (unit, the workload it is measured on or None for every
# workload); printed, not gated:
# the op latency statistics rest on one op type's few samples per run and
# spread too widely across runs; failed_ratio is 0 when the run is correct;
# the others are measured on one workload only
WORKLOAD_METRICS = {
    "op_p50_s": ("s", None),
    "op_tail_s": ("s", None),
    "failed_ratio": ("ratio", None),
    "json_mbps": ("MB/s", "scan-pushdown"),
    "csv_mbps": ("MB/s", "scan-pushdown"),
    "append_p50_s": ("s", "table-churn"),
    "delete_p50_s": ("s", "table-churn"),
    "stream_batch_p50_s": ("s", "table-churn"),
    "read_after_write_p50_s": ("s", "table-churn"),
    "write_amp": ("count", "table-churn"),
}

# span names whose self time a traced run reports
SELF_SPANS = ["op", "spark.scan.build", "operators.build", "plan", "exec",
              "exec.job", "exec.stage", "table.append", "stream.drain",
              "table.delete_dv", "table.upsert", "table.close"]

# scan-pushdown ops whose own scan figures a traced run reports
SCAN_OPS = ["json_full", "json_project", "json_filter", "json_nested", "json_count",
            "csv_full", "csv_project", "skip_agg"]
_SCAN_OP_FIGURES = {"bytes_read": "bytes", "skipped_bytes": "bytes", "rows_out": "count"}

# name -> unit (BENCHMARK.json per_layer)
PER_LAYER = {
    "core.json.full_mbps": "MB/s",
    "core.json.skip_mbps": "MB/s",
    "core.json.skipped_fraction": "ratio",
    "core.csv.mbps": "MB/s",
    "spark.plate.row_mbps": "MB/s",
    "spark.plate.columnar_mbps": "MB/s",
    "spark.plate.csv_typed_mbps": "MB/s",
    "spark.scan.bytes_read": "bytes",
    "spark.scan.skipped_bytes": "bytes",
    "spark.scan.rows_out": "count",
    "spark.scan.tasks": "count",
    "spark.scan.task_ms": "ms",
    "spark.scan.read_fraction": "ratio",
    "spark.scan.task_share": "ratio",
    **{f"spark.scan.{o}.{f}": u for o in SCAN_OPS for f, u in _SCAN_OP_FIGURES.items()},
    "operators.build_ms": "ms",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.scheduler_delay_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "table.append_ms": "ms",
    "table.delete_dv_ms": "ms",
    "table.upsert_ms": "ms",
    "table.optimize_ms": "ms",
    "table.checkpoint_ms": "ms",
    "table.files_live": "count",
    "table.log_entries": "count",
    "table.bytes_written": "bytes",
    "stream.batches": "count",
    "stream.addBatch_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "stream.latestOffset_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "jvm.gc_ms": "ms",
    "jvm.alloc_mb": "MB",
    **{f"self_ms.{s}": "ms" for s in SELF_SPANS},
    "trace.pass_s_untraced": "s",
    "trace.pass_s_traced": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}

# per-layer metrics summed from each traced op's counters
_OP_LAYERS = [k for k in PER_LAYER if k.split(".")[0] in ("spark", "plan", "exec", "stream")
              and not k.startswith("spark.plate") and k not in ("spark.scan.read_fraction", "spark.scan.task_share")
              and not any(k.startswith(f"spark.scan.{o}.") for o in SCAN_OPS)
              ] + ["table.bytes_written"]
# per-layer metric -> the span whose total duration it is
_SPAN_LAYERS = {
    "operators.build_ms": "operators.build",
    "table.append_ms": "table.append",
    "table.delete_dv_ms": "table.delete_dv",
    "table.upsert_ms": "table.upsert",
    "table.optimize_ms": "table.optimize",
    "table.checkpoint_ms": "table.checkpoint",
}
# op families that read an input whose size the op records
_READ_FAMILIES = ("json", "csv", "query", "read")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile). With n samples that is the (n-10)-th smallest
    sample, the (n-10)/n percentile; with ten or fewer samples no
    percentile qualifies and the smallest sample is returned."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    k = max(n - 10, 1)
    return xs[k - 1], 100.0 * k / n if n > 10 else 0.0


def failed_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("no op was attempted")
    return failed / attempted


def write_amp(bytes_written, user_bytes):
    """Bytes written under the table directory per user byte appended."""
    if user_bytes <= 0:
        raise ValueError("no user bytes were appended")
    return bytes_written / user_bytes


def _per_pass(ops, passes, f):
    """Median over passes of f(ops of that pass)."""
    return median([f([o for o in ops if o["pass"] == p["pass"]]) for p in passes])


def _op_seconds(ops):
    """The time a pass spends in graft: the sum of its op times. The
    benchmark's own work between ops (making inputs, updating the model,
    checking results) is not counted."""
    return sum(o["seconds"] for o in ops)


def _rate(ops, families):
    sel = [o for o in ops if o["family"] in families]
    secs = sum(o["seconds"] for o in sel)
    return sum(o["bytes"] for o in sel) / 1e6 / secs if secs else 0.0


def summarize(result):
    """End-to-end and workload metrics of the untraced passes, plus the
    attempted and failed op counts of the whole run."""
    passes = [p for p in result["passes"] if not p["traced"]]
    ops = [o for o in result["ops"] if o["pass"] >= 0 and not o["traced"]]
    secs = [o["seconds"] for o in ops]
    tail_s, tail_pct = tail(secs)
    attempted = len(result["ops"])
    failed = sum(1 for o in result["ops"] if not o["ok"])

    def kind_s(kind):
        return _per_pass(ops, passes, lambda os_: _op_seconds([o for o in os_ if o["kind"] == kind]))

    def family_p50(family):
        return median([o["seconds"] for o in ops if o["family"] == family])

    e2e = {
        "setup_s": result["session_start_s"] + median(result["setup_rounds_s"]) + result["warmup_s"],
        "pass_s": _per_pass(ops, passes, _op_seconds),
        "heap_retained_mb": result["heap_retained_mb"],
        "short_pass_s": kind_s("short"),
        "heavy_pass_s": kind_s("heavy"),
    }
    w = result["workload"]
    wm = {"op_p50_s": median(secs), "op_tail_s": tail_s,
          "failed_ratio": failed_ratio(attempted, failed)}
    if w == "scan-pushdown":
        wm["json_mbps"] = _per_pass(ops, passes, lambda os_: _rate(os_, ("json",)))
        wm["csv_mbps"] = _per_pass(ops, passes, lambda os_: _rate(os_, ("csv",)))
    if w == "table-churn":
        wm["append_p50_s"] = family_p50("append")
        wm["delete_p50_s"] = family_p50("delete")
        wm["stream_batch_p50_s"] = median([b for p in passes for b in p["stream_batch_ms"]]) / 1e3
        wm["read_after_write_p50_s"] = family_p50("read")
        wm["write_amp"] = write_amp(sum(p["bytes_written"] for p in passes),
                                    sum(p["user_bytes"] for p in passes))
    notes = {"op_tail_percentile": tail_pct, "op_samples": len(secs), "passes": len(passes)}
    return e2e, wm, notes, attempted, failed


def layers(result, parser):
    """Per-layer metrics of a traced run: each op-level figure is summed
    over a traced pass and averaged over the traced passes."""
    traced = [p for p in result["passes"] if p["traced"]]
    untraced = [p for p in result["passes"] if not p["traced"]]
    tops = [o for o in result["ops"] if o["traced"]]
    n = max(len(traced), 1)
    out = {k: 0.0 for k in PER_LAYER}
    for o in tops:
        for k in _OP_LAYERS:
            out[k] += o["layers"].get(k, 0.0) / n
        if o["op"] in SCAN_OPS:
            for f in _SCAN_OP_FIGURES:
                out[f"spark.scan.{o['op']}.{f}"] += o["layers"].get(f"spark.scan.{f}", 0.0) / n
    for p in traced:
        for k, span in _SPAN_LAYERS.items():
            out[k] += p["span_ms"].get(span, 0.0) / n
        for s in SELF_SPANS:
            out[f"self_ms.{s}"] += p["self_ms"].get(s, 0.0) / n
        out["table.files_live"] += p.get("files_live", 0) / n
        out["table.log_entries"] += p.get("log_entries", 0) / n
        out["trace.spans"] += p["spans"] / n
        out["jvm.gc_ms"] += p["jvm_gc_ms"] / n
        out["jvm.alloc_mb"] += p["jvm_alloc_mb"] / n
    read_in = sum(o["bytes"] for o in tops if o["family"] in _READ_FAMILIES)
    read = sum(o["layers"].get("spark.scan.bytes_read", 0.0) for o in tops
               if o["family"] in _READ_FAMILIES)
    out["spark.scan.read_fraction"] = read / read_in if read_in else 0.0
    # the share of the cores' time during read ops that scan tasks take
    read_ops = [o for o in tops if o["family"] in _READ_FAMILIES]
    slot_ms = result["cpus"] * sum(o["seconds"] for o in read_ops) * 1e3
    scan_ms = sum(o["layers"].get("spark.scan.task_ms", 0.0) for o in read_ops)
    out["spark.scan.task_share"] = scan_ms / slot_ms if slot_ms else 0.0
    out.update(parser)
    uops = [o for o in result["ops"] if o["pass"] >= 0 and not o["traced"]]
    out["trace.pass_s_untraced"] = _per_pass(uops, untraced, _op_seconds)
    out["trace.pass_s_traced"] = _per_pass(tops, traced, _op_seconds)
    out["trace.overhead_s"] = out["trace.pass_s_traced"] - out["trace.pass_s_untraced"]
    return out
