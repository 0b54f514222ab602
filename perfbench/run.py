#!/usr/bin/env python3
"""The repository's benchmark: seeded closed-loop workloads over the
public query entry points, with oracle-checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --report [--seed <n>] [--seconds <s>]

One run builds the program from the checkout's sources (perfbench/
build.py; skipped when unchanged) and runs one JVM with one client
thread at local[nproc] over the sf0.1 test tables: a copy, in
perfbench/data/sf0.1, of the project's fixed seed-42 fixture
(TESTDATA.md). The seed sets the order of the ops in every pass and
where the DAG runs fall. Outputs are checked against
their DuckDB oracles outside the timed windows. The last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
run makes one untimed settling pass, then untraced and traced passes in
the order u, t, t, u, and reports the per-layer metrics of the traced ones, plus the tracing
overhead (traced against untraced ops per second). Per-run records
(result.json with provenance, failures and span self times, spans.json,
the JVM log) go to .bench_build/perfbench/runs/. --report runs every
workload once untraced and once traced and prints every end-to-end
metric by name and unit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import build  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
WORK = build.OUT
DATA = os.path.join(BENCH, "data", "sf0.1")
DEADLINE_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_config():
    with open(os.path.join(BENCH, "workloads.json")) as fh:
        return json.load(fh)


def nproc():
    return len(os.sched_getaffinity(0))


def data_stamp():
    """Content hash of the input tables; keys the oracle cache."""
    h = hashlib.sha256()
    for t in sorted(os.listdir(DATA)):
        if t.endswith(".parquet"):
            h.update(t.encode())
            with open(os.path.join(DATA, t), "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def make_plan(cfg, name, seed, seconds, trace):
    """(warm-up list, number of settling passes, [(traced, checked, ops)])
    for one run. The number of timed passes is fixed by --seconds and the
    workload's nominal pass time, so every seed measures the same amount
    of work. The warm-up output of every query is checked against its
    oracle; every op of the last pass of each kind (untraced, traced) is
    checked against it."""
    wl = cfg["workloads"][name]
    n = max(wl["min_passes"], round(seconds / wl["nominal_pass_s"]))
    settle = 0
    if trace:
        # Ops still speed up by about a fifth over the first pass after
        # the warm-up (JIT), which would bias the tracing overhead: a
        # traced run first makes one untimed pass, then an even number
        # of timed ones, half of them traced.
        settle = 1
        n += 1 + (n + 1) % 2
    dag = wl.get("dag")
    warmup, passes = metrics.schedule(
        wl["mix"], seed, settle + n,
        dag["query"] if dag else None, dag["per_pass"] if dag else 0)
    kinds = [False] * settle + (metrics.trace_kinds(n) if trace else [False] * n)
    last = {k: i for i, k in enumerate(kinds)}
    return warmup, settle, [(k, last[k] == i, p)
                            for i, (k, p) in enumerate(zip(kinds, passes))]


def write_plan(path, cfg, name, data, out, warmup, passes, verified):
    lines = [f"workload {name}", f"data {data}", f"out {out}"]
    for fam, spec in cfg["families"].items():
        lines.append(f"family {fam} {spec['workload']} " + " ".join(spec["patterns"]))
    for q, reason in cfg["excluded"].items():
        lines.append(f"exclude {q} {reason}")
    lines.append("warmup " + " ".join(warmup))
    for traced, checked, ops in passes:
        lines.append(f"pass {'traced' if traced else 'untraced'} "
                     f"{'checked' if checked else 'unchecked'} " + " ".join(ops))
    lines += [f"verified {n} {sql} {d}" for n, sql, d in sorted(verified)
              if n in warmup]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def run_jvm(cp, plan, run_dir, heap, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = ["java", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Runner", plan]
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    shutil.rmtree(tmp, ignore_errors=True)
    return rc, env["SPARK_GRAFT_CPUS"]


def read_jsonl(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def check_outputs(run_dir, warmup_ops, orc):
    """Oracle-check each query's reference output; returns {name: cause}
    for the queries that fail."""
    with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    wrong = {}
    try:
        for op in warmup_ops:
            name = op["name"]
            if op["error"]:
                wrong[name] = f"warm-up execution failed: {op['error']}"
            elif name not in sqls:
                wrong[name] = "query has no oracle"
            elif not op["reference_written"]:
                if (name, oracle.sha256(sqls[name]), op["digest"]) not in orc.verified:
                    wrong[name] = "output was neither written nor verified before"
            else:
                cause = orc.check(name, sqls[name], os.path.join(run_dir, "outputs"))
                if cause:
                    wrong[name] = f"oracle mismatch: {cause}"
                else:
                    orc.passed(name, sqls[name], op["digest"])
    finally:
        orc.close()
    return wrong


def finite(v):
    return v == v and v not in (float("inf"), float("-inf"))


def run(args):
    t_main = time.time()
    cfg = load_config()
    if args.workload not in cfg["workloads"]:
        log(f"unknown workload {args.workload!r}")
        return 2
    try:
        cp = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    data, stamp = DATA, data_stamp()
    t_start = time.time()
    trace = args.trace == 1
    warmup, settle, passes = make_plan(cfg, args.workload, args.seed, args.seconds, trace)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan = os.path.join(run_dir, "plan.txt")
    orc = oracle.Oracle(data, os.path.join(WORK, "oracle-cache"), stamp)
    write_plan(plan, cfg, args.workload, data, run_dir, warmup, passes, orc.verified)
    heap = os.environ.get("SPARK_DRIVER_MEM", "4g")
    load_before = os.getloadavg()
    rc, cpus = run_jvm(cp, plan, run_dir, heap, DEADLINE_S - (time.time() - t_start))
    load_after = os.getloadavg()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        log(f"runner failed ({rc}); log in {os.path.relpath(run_dir, ROOT)}/jvm.log")
        return 1

    ops = read_jsonl(os.path.join(run_dir, "ops.jsonl"))
    spans = read_jsonl(os.path.join(run_dir, "spans.jsonl"))
    ledger = read_jsonl(os.path.join(run_dir, "ledger.jsonl"))
    with open(os.path.join(run_dir, "meta.json")) as fh:
        meta = json.load(fh)
    timed = [o for o in ops if o["pass"] >= settle]
    wrong = check_outputs(run_dir, [o for o in ops if o["pass"] == -1], orc)
    _, failures = metrics.account(timed, wrong)
    for f in failures:
        log(f"FAILED {f['name']} (op {f['op']}): {f['cause']}")

    extra = {}
    if trace:
        # Per-family figures of the listed workloads' families (the ones
        # BENCHMARK.json names), and of this run's own.
        fams = [f for f, spec in cfg["families"].items()
                if cfg["workloads"][spec["workload"]]["in_benchmark"]
                or spec["workload"] == args.workload]
        values = metrics.per_layer(timed, spans, ledger, failures, meta, fams)
    else:
        values, extra = metrics.end_to_end(timed, failures, meta)
    bad = [k for k, (v, _) in values.items() if not finite(v)]
    for k in bad:
        log(f"metric {k} could not be measured")
    line = {"correct": not failures and not bad, "attempted": len(timed),
            "failed": len(failures),
            "metrics": {k: {"value": v if finite(v) else None, "unit": u}
                        for k, (v, u) in values.items()}}

    extra_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if extra_conf:
        log("SPARK_GRAFT_EXTRA_CONF is set: this run is non-standard "
            "and excluded from comparisons")
    self_s = metrics.self_times(spans)
    by_name = {}
    for s in spans:
        s["self_s"] = self_s[s["id"]]
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + s["self_s"]
    result = dict(line)
    result.update(extra)
    result["failures"] = failures
    result["span_self_s"] = by_name
    result["provenance"] = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "passes": len(passes), "settling_passes": settle,
        "nproc": nproc(),
        "spark_graft_cpus": cpus, "driver_heap": heap,
        "heap_max_mb": meta["heap_max_mb"], "cores": meta["cores"],
        "main_s": meta["main_s"], "queries_s": meta["queries_s"],
        "session_s": meta["session_s"], "run_wall_s": time.time() - t_main,
        "git_commit": git_commit(), "load_avg_before": load_before,
        "load_avg_after": load_after, "spark_graft_extra_conf": extra_conf,
        "standard": not extra_conf, "data_stamp": stamp,
        "queries_placed": meta["queries_placed"],
        "queries_excluded": meta["queries_excluded"]}
    try:
        with open(os.path.join(run_dir, "spans.json"), "w") as fh:
            json.dump(spans, fh)
        with open(os.path.join(run_dir, "result.json"), "w") as fh:
            json.dump(result, fh, indent=1)
    except OSError as e:
        log(f"could not write the result file: {e}")
    print(json.dumps(line), flush=True)
    return 0


def report(args):
    """Every workload once untraced and once traced; one table."""
    cfg = load_config()
    rows = []
    for name in cfg["workloads"]:
        res = {}
        for t in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(t)]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            if r.returncode != 0:
                log(f"{name} trace={t} failed ({r.returncode})")
                return 1
            res[t] = json.loads(r.stdout.strip().splitlines()[-1])
        e2e, lay = res[0], res[1]
        for k, m in e2e["metrics"].items():
            rows.append((name, k, m["value"], m["unit"]))
        rows.append((name, "failed_frac", e2e["failed"] / e2e["attempted"], "ratio"))
        for k in ("jvm.peak_rss_mb", "pipeline.dag_s_p50", "pipeline.stage_coverage",
                  "trace.ops_per_s", "trace.untraced_ops_per_s", "trace.overhead_frac"):
            m = lay["metrics"][k]
            rows.append((name, k, m["value"], m["unit"]))
        rows.append((name, "correct", int(e2e["correct"] and lay["correct"]), "bool"))
    if os.environ.get("SPARK_GRAFT_EXTRA_CONF"):
        print("NON-STANDARD: SPARK_GRAFT_EXTRA_CONF is set; do not compare these figures")
    print(f"{'workload':<16} {'metric':<28} {'value':>14}  unit")
    for w, k, v, u in rows:
        print(f"{w:<16} {k:<28} {float('nan') if v is None else v:>14.6g}  {u}")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true")
    args = ap.parse_args()
    if args.report:
        return report(args)
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
