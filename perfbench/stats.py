"""Metric arithmetic over a run record: percentiles, span self time, and
the end-to-end and per-layer metric sets. Pure functions, no I/O."""
import statistics


def percentile(values, p):
    """Nearest-rank percentile `p` (0-100) of `values`, with the sample
    count it rests on: {"value": x, "n": len(values)}."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100)
    return {"value": xs[int(rank) - 1], "n": len(xs)}


def median(values):
    return {"value": statistics.median(values), "n": len(values)}


def _covered_ns(lo, hi, intervals):
    """Length of [lo, hi) covered by the union of `intervals`."""
    total, end = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times_ms(spans):
    """Per span name, the summed self time in ms: each span's duration
    minus the part of it that its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        own = (hi - lo) - _covered_ns(lo, hi, children.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + own / 1e6
    return out


def subtree(spans, roots):
    """The spans under (and including) the spans whose ids are in `roots`."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if s["id"] in roots]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def failures(executions, mismatches):
    """(attempted, failed): every execution is attempted; one fails when it
    threw, or when its query's checked result was wrong. Only the cold
    pass's results are checked, so a wrong query counts once."""
    threw = [e for e in executions if not e["ok"]]
    cold_threw = {e["q"] for e in threw if e["pass"] == 0}
    wrong = [q for q, m in mismatches.items() if m and q not in cold_threw]
    return len(executions), len(threw) + len(wrong)


def median_pass(executions):
    """A warm pass of per-query medians: the sum over queries of each
    query's median latency in s, with the number of passes it rests on.
    One slow pass, or one slow execution, moves it less than a pass wall."""
    lat = {}
    for e in executions:
        lat.setdefault(e["q"], []).append(e["latency_ms"] / 1e3)
    return {"value": sum(statistics.median(v) for v in lat.values()),
            "n": min(len(v) for v in lat.values())}


def end_to_end(rec, setup_samples, failed, attempted):
    """The end-to-end metrics of one untraced run, each {"value", "n"}."""
    warm = [p for p in rec["passes"] if p["kind"] == "warm"]
    warm_ids = {p["pass"] for p in warm}
    cold = [p for p in rec["passes"] if p["pass"] == 0]
    ex = [e for e in rec["executions"] if e["pass"] in warm_ids]
    pass_s = median_pass(ex)
    m = {
        "setup_s": median(setup_samples),
        "cold_pass_s": {"value": cold[0]["wall_s"], "n": 1},
        "pass_s": pass_s,
        "latency_p50_s": percentile([e["latency_ms"] / 1e3 for e in ex], 50),
        "latency_p90_s": percentile([e["latency_ms"] / 1e3 for e in ex], 90),
        "peak_rss_mb": {"value": rec["peak_rss_mb"], "n": 1},
        "ok_frac": {"value": 1.0 - failed / attempted, "n": attempted},
    }
    if any("batches" in e for e in ex):
        data = [[b for b in e["batches"] if b["rows"] > 0] for e in ex]
        rows = sum(b["rows"] for bs in data for b in bs)
        # a query's first micro-batch also starts its state stores; that
        # start-up is in the latencies, the percentiles describe the rest
        secs = [b["duration_ms"]["triggerExecution"] / 1e3 for bs in data for b in bs[1:]]
    else:
        rows = sum(e.get("scan_rows", 0) for e in ex)
        secs = [e["exec_ms"] / 1e3 for e in ex]
    m["rows_per_s"] = {"value": rows / len(warm) / pass_s["value"], "n": len(warm)}
    m["batch_p50_s"] = percentile(secs, 50)
    m["batch_p90_s"] = percentile(secs, 90)
    return m


def _sum_phases(sched, key, phases=None):
    return sum(c[key] for ph, c in sched.items() if phases is None or ph in phases)


def per_layer(rec, cores):
    """Per-layer metrics of one traced run: per query, the median over
    its traced warm executions; then summed (counts, times), maxed
    (peaks) or divided (ratios) over the workload. Also returns the
    per-query table."""
    traced = [e for e in rec["executions"] if e["traced"] and e["ok"]]
    warm_ids = {p["pass"] for p in rec["passes"] if p["kind"] == "warm"}
    warm = [e for e in traced if e["pass"] in warm_ids]
    cold = [e for e in traced if e["pass"] == 0]
    per_q = {}
    for e in warm:
        s = e["sched"]
        execute = {"execute"} if "batches" not in e else None
        row = {
            "api.build_ms": e.get("build_ms", 0.0),
            "api.build_jobs": s.get("build", {}).get("jobs", 0),
            "plan.analysis_ms": e.get("analysis_ms", 0.0),
            "plan.optimization_ms": e.get("optimization_ms", 0.0),
            "plan.planning_ms": e.get("planning_ms", 0.0),
            "plan.nodes": e.get("plan_nodes", 0),
            "plan.exchanges": e.get("plan_exchanges", 0),
            "plan.codegen_stages": e.get("plan_codegen_stages", 0),
            "plan.non_codegen_nodes": e.get("plan_non_codegen_nodes", 0),
            "aqe.replans": e.get("replans", 0),
            "sched.jobs": _sum_phases(s, "jobs", execute),
            "sched.stages": _sum_phases(s, "stages", execute),
            "sched.tasks": _sum_phases(s, "tasks", execute),
            "sched.task_wait_ms": _sum_phases(s, "task_wait_ms"),
            "codegen.compiles": e.get("codegen_compiles", 0),
            "codegen.compile_ms": e.get("codegen_ms", 0.0),
            "exec.run_ms": _sum_phases(s, "run_ms"),
            "sched.execute_run_ms": _sum_phases(s, "run_ms", execute),
            "exec.cpu_ms": _sum_phases(s, "cpu_ms"),
            "exec.deser_ms": _sum_phases(s, "deser_ms"),
            "exec.gc_ms": _sum_phases(s, "gc_ms"),
            "exec.peak_mem_mb": max([c["peak_mem_bytes"] for c in s.values()] or [0]) / 2**20,
            "exec.result_rows": e.get("result_rows", 0),
            "scan.bytes": _sum_phases(s, "input_bytes"),
            "scan.rows": _sum_phases(s, "input_rows"),
            "shuffle.write_bytes": _sum_phases(s, "shuffle_write_bytes"),
            "shuffle.read_bytes": _sum_phases(s, "shuffle_read_bytes"),
            "shuffle.fetch_wait_ms": _sum_phases(s, "fetch_wait_ms"),
            "shuffle.write_ms": _sum_phases(s, "shuffle_write_ms"),
            "spill.mem_bytes": _sum_phases(s, "spill_mem_bytes"),
            "spill.disk_bytes": _sum_phases(s, "spill_disk_bytes"),
            "exec.wall_ms": e["exec_ms"],
        }
        row.update(_stream_row(e.get("batches")))
        per_q.setdefault(e["q"], []).append(row)
    table = {q: {k: statistics.median(r[k] for r in rows) for k in rows[0]}
             for q, rows in per_q.items()}
    total = {}
    for row in table.values():
        for k, v in row.items():
            total[k] = max(total.get(k, 0), v) if k == "exec.peak_mem_mb" else total.get(k, 0) + v
    busy = total["exec.wall_ms"]
    # the execute phase's task time against its wall; build-phase jobs
    # (an eager checkpoint, a file listing) run outside that wall
    total["sched.idle_frac"] = 1.0 - total["sched.execute_run_ms"] / (cores * busy) if busy else 0.0
    total["scan.rows_per_result_row"] = (total["scan.rows"] / total["exec.result_rows"]
                                         if total["exec.result_rows"] else 0.0)
    total["codegen.cold_compiles"] = sum(e.get("codegen_compiles", 0) for e in cold)
    total["codegen.cold_compile_ms"] = sum(e.get("codegen_ms", 0.0) for e in cold)
    # self time per warm pass: each query's traced warm executions, scaled
    # to one execution per query
    roots = {e["exec"] for e in warm}
    for name, ms in self_times_ms(subtree(rec["spans"], roots)).items():
        total[f"self.{name.replace('-', '_')}_ms"] = ms * len(per_q) / len(roots)
    total["trace.overhead_frac"] = _overhead(rec["executions"], warm_ids)
    return total, table


def _overhead(executions, warm_ids):
    """Traced over untraced warm latency, per query medians summed, minus 1."""
    lat = {}
    for e in executions:
        if e["pass"] in warm_ids and e["ok"]:
            lat.setdefault(e["q"], {}).setdefault(e["traced"], []).append(e["latency_ms"])
    both = [v for v in lat.values() if len(v) == 2]
    traced = sum(statistics.median(v[True]) for v in both)
    untraced = sum(statistics.median(v[False]) for v in both)
    return traced / untraced - 1.0


def _stream_row(batches):
    if batches is None:
        return {}
    data = [b for b in batches if b["rows"] > 0]
    last = batches[-1]["state"] if batches else []
    d = lambda k: sum(b["duration_ms"].get(k, 0) for b in batches)
    return {
        "stream.batches": len(data),
        "stream.add_batch_ms": d("addBatch"),
        "stream.get_batch_ms": d("getBatch"),
        "stream.planning_ms": d("queryPlanning"),
        "stream.wal_ms": d("walCommit"),
        "state.rows": sum(o["rows"] for o in last),
        "state.memory_bytes": sum(o["memory_bytes"] for o in last),
        "state.rows_removed": sum(o["rows_removed"] for b in batches for o in b["state"]),
        "state.commit_ms": sum(o["commit_ms"] for b in batches for o in b["state"]),
    }
