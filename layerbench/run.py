"""Layer benchmark for spark-graft: one command per workload run.

Usage:
  python3 layerbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps, all inside this checkout:
  1. build the engine and the harness from source (build.py; cached);
  2. generate the workload's input tables from --seed (gen.py);
  3. start the harness JVM; setup_s runs from process spawn until the
     Spark session is up and the query registry is resolved;
  4. run the harness: one cold pass, five warm-up passes, then measured
     passes for --seconds; metrics are medians over the first seven
     measured passes;
  5. check every execution: its row count against the DuckDB oracle, and
     the last pass's full output against the oracle's rows;
  6. print every metric by name with its unit, then one JSON line.

With --trace 0 the JSON carries the end-to-end metrics; with --trace 1 the
per-layer metrics from the traced passes. Each run's full record is kept in
.work/results/ for compare.py.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import check  # noqa: E402  (the repository's DuckDB oracle compare)

WORK = os.path.join(HERE, ".work")
JVM_TIMEOUT_S = 150

END_TO_END_UNITS = {
    "setup_s": "s", "cold_wall_s": "s", "wall_s": "s", "query_geomean_s": "s",
    "live_heap_mb": "MB", "cpu_s": "s",
}
LAYER_UNITS = {
    "tables.load_s": "s", "tables.load_jobs": "count",
    "construct.s": "s", "construct.jobs": "count", "construct.tasks": "count",
    "construct.actions": "count", "construct.executor_run_s": "s", "construct.share": "ratio",
    "catalyst.s": "s", "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.exchanges": "count", "catalyst.scans": "count",
    "catalyst.broadcast_joins": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.core_util": "ratio", "exec.task_wait_s": "s",
    "stream.batches": "count", "stream.input_rows": "count", "stream.add_batch_s": "s",
    "stream.commit_s": "s", "stream.state_rows": "count", "stream.state_commit_s": "s",
    "sink.bytes_written": "bytes", "sink.records_written": "count",
    "sink.bytes_per_record": "bytes", "sink.tmp_bytes_left": "bytes",
    "jvm.gc_s": "s", "trace.overhead_s": "s",
}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)["workloads"]


def cores():
    return len(os.sched_getaffinity(0))


def jvm_heap():
    """The heap of the repository's Tier-1 test command: half of MemTotal,
    clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def jvm(cp, sandbox, args, timeout):
    heap = jvm_heap()
    # A fixed heap size: a growing heap made later passes faster than
    # earlier ones by a varying amount. Fixed compiler threads keep the
    # JIT's CPU, which cpu_s leaves out, countable. Two GC and two
    # compiler threads, so that they and the task slots do not run more
    # threads at once than the box has cores.
    cmd = ["java", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
           "-XX:CICompilerCount=2", "-XX:ParallelGCThreads=2",
           f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={sandbox}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "layerbench.LayerBench"] + args
    log = open(os.path.join(sandbox, "jvm.log"), "a")
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:  # also on SIGTERM: no JVM outlives the run
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if code != 0:
        with open(os.path.join(sandbox, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"harness JVM failed: {code}")
    return t0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def check_outputs(res, data_dir, verify_dir):
    """Failed executions: threw, returned a row count other than the
    oracle's, or belong to a query whose dumped output differs from it.
    The compare is the repository's own (tools/check.py).
    """
    con = check.connect(data_dir)
    expected, bad_content = {}, {}
    for q, sql in res["oracle_sql"].items():
        files = glob.glob(os.path.join(verify_dir, q, "*.parquet"))
        try:
            ok, msg, expected[q] = (check.run_one(con, files, sql) if files
                                    else (False, "no output dumped", None))
        except Exception as e:  # the oracle SQL itself failed
            ok, msg, expected[q] = False, f"oracle: {e}", None
        if not ok:
            bad_content[q] = msg
    con.close()
    failed = []
    for e in res["execs"]:
        q = e["query"]
        why = (e["error"] or (q not in expected and "no oracle SQL")
               or (e["rows"] != expected[q] and f"rows {e['rows']} != oracle {expected[q]}")
               or bad_content.get(q))
        if why:
            failed.append(f"p{e['pass']}/{q}: {why}")
    return failed


def end_to_end(res, setup_s):
    stat = set(res["stat_passes"])
    warm = [p for p in res["passes"] if p["pass"] in stat]
    per_q = {}
    for e in res["execs"]:
        if e["pass"] in stat and not e["error"]:
            per_q.setdefault(e["query"], []).append(
                e["construct_s"] + e["catalyst_s"] + e["exec_s"])
    return {
        "setup_s": setup_s,
        "cold_wall_s": res["passes"][0]["wall_s"],
        "wall_s": median([p["wall_s"] for p in warm]),
        "query_geomean_s": geomean([median(v) for v in per_q.values()]),
        "live_heap_mb": median([p["live_heap_mb"] for p in warm]),
        "cpu_s": median([p["cpu_s"] for p in warm]),
    }


def per_layer(res):
    stat = set(res["stat_passes"])
    traced = [p for p in res["passes"] if p["pass"] in stat and p["traced"]]
    untraced = [p for p in res["passes"] if p["pass"] in stat and not p["traced"]]
    m = {k: median([p["layers"][k] for p in traced]) for k in traced[0]["layers"]}
    for k in ("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
              "catalyst.exchanges", "catalyst.scans", "catalyst.broadcast_joins"):
        m[k] = median([sum(s["stats"][k] for s in res["plans"] if s["pass"] == p["pass"])
                       for p in traced])
    m["sink.tmp_bytes_left"] = median(
        [p["tmp_bytes_left"] for p in res["passes"] if p["pass"] in stat])
    m["jvm.gc_s"] = median([p["gc_s"] for p in traced])
    m["trace.overhead_s"] = (median([p["wall_s"] for p in traced])
                             - median([p["wall_s"] for p in untraced]))
    return m


def per_query(res):
    """Per query: cold seconds and median warm seconds (measured passes)."""
    stat = set(res["stat_passes"])
    out = {}
    for e in res["execs"]:
        if (e["pass"] == 0 or e["pass"] in stat) and not e["error"]:
            q = out.setdefault(e["query"], {"cold_s": None, "warm": []})
            t = e["construct_s"] + e["catalyst_s"] + e["exec_s"]
            if e["pass"] == 0:
                q["cold_s"] = t
            else:
                q["warm"].append(t)
    return {k: {"cold_s": v["cold_s"], "warm_s": median(v["warm"])} for k, v in sorted(out.items())}


def query_split(res):
    """Per query: median construct / catalyst / exec seconds and jobs over
    the measured traced passes (the split table of baseline.md).
    """
    out = {}
    for e in res["execs"]:
        if e["traced"] and e["pass"] in res["stat_passes"]:
            out.setdefault(e["query"], []).append(e)
    return {q: {k: median([e[k] for e in es]) for k in
                ("construct_s", "catalyst_s", "exec_s", "construct_jobs", "exec_jobs")}
            for q, es in sorted(out.items())}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workloads = load_workloads()
    if a.workload not in workloads:
        raise SystemExit(f"unknown workload {a.workload}; have {sorted(workloads)}")
    queries = workloads[a.workload]["queries"]
    cp = build.build()

    sandbox = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(sandbox, ignore_errors=True)
    for d in ("tmp", "local", "verify", "data"):
        os.makedirs(os.path.join(sandbox, d))
    start = time.time()
    try:
        data_dir = os.path.join(sandbox, "data")
        gen.write(data_dir, a.seed)
        gen_s = time.time() - start
        n = cores()
        # One core is left to the main thread, GC and JIT, so that the
        # run keeps no more threads busy than the box has cores.
        n_slots = max(1, n - 1)
        common = ["--workload", a.workload, "--queries", ",".join(queries),
                  "--data", data_dir, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--verify-dir", os.path.join(sandbox, "verify"),
                  "--tmp-dir", os.path.join(sandbox, "tmp"),
                  "--local-dir", os.path.join(sandbox, "local"), "--cores", str(n_slots)]
        out = os.path.join(sandbox, "result.json")
        t0 = jvm(cp, sandbox, common + ["--out", out], JVM_TIMEOUT_S)
        with open(out) as f:
            res = json.load(f)
        setup_s = res["ready_ms"] / 1e3 - t0
        jvm_s = time.time() - t0
        failed = check_outputs(res, data_dir, os.path.join(sandbox, "verify"))
        check_s = time.time() - t0 - jvm_s
        spans = []
        if a.trace:
            with open(out + ".spans.json") as f:
                spans = json.load(f)
    finally:
        shutil.rmtree(sandbox, ignore_errors=True)

    attempted = len(res["execs"])
    if a.trace:
        metrics = per_layer(res)
        units = LAYER_UNITS
    else:
        metrics = end_to_end(res, setup_s)
        units = END_TO_END_UNITS
    warm = [p for p in res["passes"] if p["pass"] in res["stat_passes"]]
    context = {
        "seed": a.seed, "nproc": n, "task_slots": n_slots, "loadavg_1m": res["loadavg_1m"],
        "peak_rss_mb": res["peak_rss_mb"],
        "ext_cpu_cores": median([p["ext_cpu_cores"] for p in warm]),
        "calibration_probe_s": res["calibration_probe_s"],
        "warm_passes": len(warm), "measured_s": res["measured_s"],
        "pass_wall_s": [p["wall_s"] for p in res["passes"]],
        "registry_s": (res["ready_ms"] - res["session_ms"]) / 1e3,
        "failed_ratio": len(failed) / attempted, "gen_s": gen_s, "jvm_s": jvm_s,
        "check_s": check_s, "run_s": time.time() - start,
    }
    record = {"workload": a.workload, "trace": a.trace, "seed": a.seed,
              "queries": queries, "time": time.time(), "context": context,
              "metrics": metrics, "attempted": attempted, "failed": failed,
              "per_query": per_query(res),
              "execs": [[e["pass"], e["query"], e["construct_s"] + e["catalyst_s"] + e["exec_s"]]
                        for e in res["execs"]]}
    if a.trace:
        record["query_split"] = query_split(res)
        record["spans"] = spans
    rdir = os.path.join(WORK, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{a.workload}-t{a.trace}-s{a.seed}-{int(time.time())}.json"),
              "w") as f:
        json.dump(record, f)

    for msg in failed[:20]:
        print(f"[layerbench] FAILED {msg}")
    print(f"[layerbench] workload={a.workload} seed={a.seed} trace={a.trace} "
          f"failed_ratio={context['failed_ratio']:.4f} ({len(failed)}/{attempted})")
    print("[layerbench] context " + json.dumps(context))
    for k in sorted(metrics):
        print(f"[layerbench] {k} = {metrics[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
