#!/usr/bin/env python3
"""graft's benchmark: one closed-loop workload run, driven from outside the
program through its public entry points.

    python3 perfbench/run.py --workload olap-sf0.1 --seed 1 --seconds 22 --trace 0

builds the program and its inputs if needed (see build.py), runs the
workload in one JVM on local[nproc], checks the results against DuckDB,
prints every metric with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics; `--trace 1` runs with the scheduler listener and
spans on and reports the per-layer metrics. The full record of the run
goes to <build dir>/runs/<workload>/seed<seed>-trace<t>/record.json.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import stats  # noqa: E402

OLAP = ["q01_agg", "q03_join_agg_top", "q12_window_rank", "q19_asof_join", "q37_mode",
        "q80_tumble", "q82_session", "q101_tpch5_local_volume", "q103_tpch13_custdist",
        "q202_ds27_rollup_avgs", "q204_ds47_yoy_monthly"]
LLM = ["q60b_text_stats_full", "q63_dedup_keep_first", "q65_minhash_pairs",
       "q68_embedding_topk", "q71_quality_pipeline"]

# Stream-replay: SF1 events, sorted by arrival = ts + jitter, in equal
# files read one per micro-batch. Jitter stays under the watermark delay.
STREAM = {"sf": "1.0", "files": 10, "delay_s": 7200, "jitter_s": 5400, "within_s": 86400}

WORKLOADS = {
    "olap-sf0.1": {"mode": "batch", "sf": "0.1", "queries": OLAP, "warmup": 0},
    "olap-sf1": {"mode": "batch", "sf": "1.0", "queries": OLAP, "warmup": 0},
    "llm-sf1": {"mode": "batch", "sf": "1.0", "queries": LLM, "warmup": 0},
    # unmeasured passes after the cold one: the JIT is still speeding the
    # stream's code up through its first warm pass. On olap-sf0.1 a warm-up
    # pass left the spread as it was and made a run 9 s longer.
    "stream-replay": {"mode": "stream", "sf": STREAM["sf"], "warmup": 1},
}

SETUP_SAMPLES = 3
HEAP = "4g"
# every input any workload reads, made on the first run; sf0.1 also
# serves the q01 anchor
DATA_SFS = ("0.1", "1.0")
# a run after the build must end within 180 s; stop the JVMs short of that
RUN_BUDGET_S = 170


def units(kind):
    """{metric: unit} of BENCHMARK.json's `end_to_end` or `per_layer` list."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def unit_of(metric):
    """Unit of a per-layer reading BENCHMARK.json does not list."""
    for suffix, unit in (("_ms", "ms"), ("_bytes", "bytes"), ("_frac", "frac"), ("_mb", "MB")):
        if metric.endswith(suffix):
            return unit
    return "count"


def write_backlog(events, out, seed):
    """The stream input for `seed`: events ordered by ts plus a seeded
    jitter in [0, jitter_s), split into STREAM["files"] files."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    t = pq.read_table(events, columns=["event_id", "ts", "user_id", "event_type", "value"])
    ts = t.column("ts").cast(pa.timestamp("us"))
    t = t.set_column(1, pa.field("ts", pa.timestamp("us")), ts)
    us = ts.cast(pa.int64()).to_numpy()
    jitter = np.random.default_rng(seed).integers(0, STREAM["jitter_s"] * 10**6, len(us))
    t = t.take(np.lexsort((t.column("event_id").to_numpy(), us + jitter)))
    os.makedirs(out)
    n = STREAM["files"]
    step = -(-t.num_rows // n)
    base = int(time.time()) - n
    for i in range(n):
        p = os.path.join(out, f"batch-{i:05d}.parquet")
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (base + i, base + i))  # the file source reads oldest first


def raise_priority():
    """Run this process, and every process it starts, at the highest
    scheduling priority it may take: other processes on the same machine
    then take less CPU from the measured JVMs. Returns the niceness."""
    try:
        os.setpriority(os.PRIO_PROCESS, 0, -20)
    except OSError:
        pass  # not permitted: measure at the inherited priority
    return os.getpriority(os.PRIO_PROCESS, 0)


def run_jvm(cmd, timeout, nice, **kw):
    """subprocess.run for a measured JVM. Under autogroup scheduling a
    niceness only ranks a process against the others of its own session,
    so the JVM gets a session of its own and that session's autogroup
    gets `nice`. The JVM is killed on every way out of this call."""
    with subprocess.Popen(cmd, start_new_session=True, **kw) as p:
        try:
            with open(f"/proc/{p.pid}/autogroup", "w") as f:
                f.write(str(nice))
        except OSError:
            pass  # no autogroups, or not permitted: the niceness alone
        try:
            out, err = p.communicate(timeout=timeout)
        except BaseException:
            p.kill()
            p.wait()
            raise
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


def host_facts(rec, nice):
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                                capture_output=True).stdout.strip() or None
    except OSError:
        commit = None
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "xmx_mb": rec["xmx_mb"], "spark_version": rec["spark_version"],
            "git_commit": commit, "source_sha256": build.source_digest(),
            "q01_warm_s": rec["q01_warm_s"], "nice": nice}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    cores = len(os.sched_getaffinity(0))
    nice = raise_priority()

    try:
        cls = build.classes()
        data = {sf: build.data(sf, cls, cores) for sf in DATA_SFS}
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    deadline = time.monotonic() + RUN_BUDGET_S

    def left():
        return max(1.0, deadline - time.monotonic())

    out = os.path.join(build.OUT, "runs", a.workload, f"seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jvm = build.java_cmd(cls, HEAP) + ["perfbench.Main"]
    common = ["--data", data[w["sf"]], "--out", out, "--cores", str(cores)]

    # set-up: process start to a ready session, several fresh processes
    setup = []
    for _ in range(SETUP_SAMPLES - 1):
        r = run_jvm(jvm + common + ["--setup-only", "1", "--t0", repr(time.time())], left(), nice,
                    stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=out)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-4000:])
            return 3
        setup.append(json.loads(r.stdout.strip().splitlines()[-1])["setup_s"])

    args = common + ["--anchor-data", data["0.1"], "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--warmup-passes", str(w["warmup"]), "--trace", str(a.trace),
                     "--record", os.path.join(out, "jvm.json")]
    if w["mode"] == "batch":
        args += ["--mode", "batch", "--queries", ",".join(w["queries"])]
    else:
        backlog = os.path.join(out, "backlog")
        write_backlog(os.path.join(data[w["sf"]], "events.parquet"), backlog, a.seed)
        args += ["--mode", "stream", "--backlog", backlog, "--files-per-batch", "1",
                 "--watermark", f"{STREAM['delay_s']} seconds"]
    log = open(os.path.join(out, "jvm.log"), "w")
    try:
        r = run_jvm(jvm + args + ["--t0", repr(time.time())], left(), nice, stdout=log, stderr=log,
                    cwd=out)
    finally:
        log.close()
    if r.returncode != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        return 4
    with open(os.path.join(out, "jvm.json")) as f:
        rec = json.load(f)
    setup.append(rec["setup_s"])

    # correctness, untimed: the cold pass's results against DuckDB
    results = os.path.join(out, "results")
    if w["mode"] == "batch":
        mismatches = check.batch(data[w["sf"]], results, rec["oracle_sql"], w["queries"])
    else:
        mismatches = check.stream(backlog, results, STREAM["delay_s"], STREAM["within_s"])
    wrong = {q: m for q, m in mismatches.items() if m}
    threw = [e for e in rec["executions"] if not e["ok"]]
    attempted, failed = stats.failures(rec["executions"], mismatches)
    for e in threw:
        print(f"[perfbench] FAILED {e['exec']}: {e['error']}", file=sys.stderr)
    for q, m in wrong.items():
        print(f"[perfbench] WRONG {q}: {m}", file=sys.stderr)

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "host": host_facts(rec, nice), "confs": rec["confs"], "checks": mismatches}
    if a.trace:
        # every per-layer reading goes to the record and the listing; the
        # result line carries BENCHMARK.json's list, which leaves out the
        # times that read 0 on one of its workloads
        shown, table = stats.per_layer(rec, cores)
        declared = units("per_layer")
        record.update(per_layer=shown, per_query=table)
    else:
        e2e = stats.end_to_end(rec, setup, failed, attempted)
        shown = {k: m["value"] for k, m in e2e.items()}
        declared = units("end_to_end")
        record.update(end_to_end=e2e)
    metrics = {k: {"value": float(shown.get(k, 0.0)), "unit": u} for k, u in declared.items()}
    with open(os.path.join(out, "record.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    for scratch in ("ckpt", "backlog", "local"):
        shutil.rmtree(os.path.join(out, scratch), ignore_errors=True)
    for k in sorted(shown):
        n = "" if a.trace else f"n={e2e[k]['n']}"
        print(f"{k:28s} {shown[k]:>16.6g} {declared.get(k) or unit_of(k):6s} {n}")
    print("host " + json.dumps(record["host"], sort_keys=True))
    print(json.dumps({"correct": not wrong and not threw, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    # a SIGTERM unwinds like an exception, so run_jvm kills its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except subprocess.TimeoutExpired as e:
        print(f"[perfbench] a JVM overran the {RUN_BUDGET_S} s run budget", file=sys.stderr)
        sys.exit(5)
