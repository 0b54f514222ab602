"""Pure functions behind the benchmark's numbers: the seeded schedule,
medians and the tail-percentile rule, failure accounting, span self
time, and the end-to-end and per-layer metrics of one run."""
import random
import statistics

MB = 1048576.0


def trace_kinds(passes):
    """Which passes of a traced run record spans: untraced and traced
    passes in the balanced order u, t, t, u (repeated), so neither kind
    runs on average later, with warmer JIT, than the other."""
    return [i % 4 in (1, 2) for i in range(passes)]


def schedule(mix, seed, passes, dag=None, dag_per_pass=0):
    """Seeded op order: a warm-up list (each distinct query once) and
    `passes` further passes, each a fresh permutation of `mix` with
    `dag_per_pass` runs of the `dag` query put at seeded positions."""
    rng = random.Random(seed)
    warmup = list(mix) + ([dag] if dag and dag_per_pass else [])
    rng.shuffle(warmup)
    out = []
    for _ in range(passes):
        order = list(mix)
        rng.shuffle(order)
        for _ in range(dag_per_pass if dag else 0):
            order.insert(rng.randrange(len(order) + 1), dag)
        out.append(order)
    return warmup, out


def median(values):
    return statistics.median(values) if values else float("nan")


def tail(values, beyond=10):
    """The latency at the highest percentile that has at least `beyond`
    samples above it: with n sorted samples, the one at rank n - beyond
    (1-based), whose percentile is 100 * rank / n. None when n <= beyond."""
    n = len(values)
    rank = n - beyond
    if rank < 1:
        return None
    return sorted(values)[rank - 1], 100.0 * rank / n


def account(ops, wrong):
    """Failure accounting. `wrong` maps a query name to the cause of its
    failed oracle check. An op fails when it threw, when its output
    differs from its query's reference execution, or when that reference
    failed its oracle check. Every op counts as attempted; a failed op is
    left out of latency. Returns (ok_ops, failures)."""
    ok, failures = [], []
    for op in ops:
        cause = op.get("error") or wrong.get(op["name"])
        if cause:
            failures.append({"op": op["op"], "name": op["name"], "cause": cause})
        else:
            ok.append(op)
    return ok, failures


def latency(op):
    return op["build_s"] + op["exec_s"]


def self_times(spans):
    """Self time of every span: its duration minus the part of that
    interval its children cover. Returns {span id: seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _timed(o):
    return sum(o[k] for k in ("build_s", "exec_s", "release_s") if o[k] == o[k])


def ops_per_s(ops, failed_ids):
    """Ops completed per second of measured wall time: build, exec and
    release of every op, the untimed check windows excluded. A failed op
    adds its time but no completion."""
    wall = sum(_timed(o) for o in ops)
    done = sum(1 for o in ops if o["op"] not in failed_ids)
    return done / wall if wall > 0 else float("nan")


def end_to_end(ops, failures, meta):
    failed_ids = {f["op"] for f in failures}
    lat = [latency(o) for o in ops if o["op"] not in failed_ids]
    t = tail(lat)
    return {
        "setup_s": (meta["setup_s"], "s"),
        "ops_per_s": (ops_per_s(ops, failed_ids), "1/s"),
        "latency_p50_s": (median(lat), "s"),
        "latency_tail_s": (t[0] if t else float("nan"), "s"),
    }, {"latency_tail_percentile": t[1] if t else None,
        "latency_samples": len(lat), "peak_rss_mb": meta["peak_rss_mb"]}


DAG_FAMILY = "pipeline"
PIPELINE_STAGES = ["pages", "flatten_clean", "stats", "csv", "catalog", "serve"]
SPARK_FIELDS = ["jobs", "stages", "tasks", "task_s", "task_overhead_s",
                "core_util", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                "peak_task_mem_mb", "failed_tasks"]


def _phase(group):
    """'17|op/build/pipeline.csv' -> 'build'; None for a group the
    benchmark did not set."""
    if "|" not in group:
        return None
    path = group.split("|", 1)[1].split("/")
    return path[1] if len(path) > 1 else path[0]


def per_layer(ops, spans, ledger, failures, meta, families):
    """Per-layer metrics of the traced passes, as (value, unit). Sums are
    per pass (divided by the number of traced passes); `families` names
    the query families, each reported whether or not the run used it."""
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    n_pass = max(1, len({o["pass"] for o in traced}))
    failed_ids = {f["op"] for f in failures}
    cores = meta["cores"]
    m = {"jvm.peak_rss_mb": (meta["peak_rss_mb"], "MB")}

    def per_pass(values):
        return sum(values) / n_pass

    build = per_pass(o["build_s"] for o in traced if o["build_s"] == o["build_s"])
    exe = per_pass(o["exec_s"] for o in traced if o["exec_s"] == o["exec_s"])
    m["packs.build_s"] = (build, "s")
    m["packs.exec_s"] = (exe, "s")
    m["packs.build_share"] = (build / (build + exe) if build + exe > 0 else 0.0, "ratio")
    for fam in families:
        mine = [o for o in traced if o["family"] == fam and o["build_s"] == o["build_s"]]
        m[f"packs.{fam}.build_s"] = (per_pass(o["build_s"] for o in mine), "s")
        m[f"packs.{fam}.exec_s"] = (per_pass(o["exec_s"] for o in mine
                                             if o["exec_s"] == o["exec_s"]), "s")

    m["lifecycle.release_s"] = (per_pass(o["release_s"] for o in traced), "s")
    m["lifecycle.live_checkpoints"] = (
        per_pass(o["live_checkpoints"] or 0 for o in traced), "count")
    m["lifecycle.cached_mb"] = (max([o["cached_mb"] or 0 for o in traced] or [0]), "MB")

    # The DAG's latency is taken from the untraced ops, which call
    # Pipeline.run itself; the traced ones call its stage functions one
    # by one (their output is checked against Pipeline.run's) to time
    # each stage. Spark is lazy: flatten_clean and stats only build
    # plans, which the csv stage then executes.
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    dag_ops = [o for o in traced if o["family"] == DAG_FAMILY
               and o["op"] not in failed_ids]
    dag_runs = [latency(o) for o in untraced
                if o["family"] == DAG_FAMILY and o["op"] not in failed_ids]
    stage_s = {st: [] for st in PIPELINE_STAGES}
    coverage = []
    for o in dag_ops:
        sp = by_op.get(o["op"], [])
        covered = 0.0
        for st in PIPELINE_STAGES:
            d = sum(s["end"] - s["start"] for s in sp if s["name"] == f"pipeline.{st}")
            stage_s[st].append(d)
            covered += d
        coverage.append(covered / latency(o))
    for st in PIPELINE_STAGES:
        m[f"pipeline.{st}_s"] = (median(stage_s[st]) if dag_ops else 0.0, "s")
    m["pipeline.dag_s_p50"] = (median(dag_runs) if dag_runs else 0.0, "s")
    m["pipeline.stage_coverage"] = (median(coverage) if dag_ops else 0.0, "ratio")

    phases = {"build": {}, "exec": {}}
    for row in ledger:
        ph = phases.get(_phase(row["group"]))
        if ph is None:
            continue
        for k, v in row.items():
            if k == "group":
                continue
            if k == "peak_task_mem_bytes":
                ph[k] = max(ph.get(k, 0), v)
            else:
                ph[k] = ph.get(k, 0) + v
    input_b = sum(p.get("input_bytes", 0) for p in phases.values())
    output_b = sum(p.get("output_bytes", 0) for p in phases.values())
    m["sources.input_mb"] = (input_b / MB / n_pass, "MB")
    m["sources.output_mb"] = (output_b / MB / n_pass, "MB")
    m["sources.records_written"] = (
        sum(p.get("records_written", 0) for p in phases.values()) / n_pass, "count")
    m["sources.write_amp"] = (output_b / input_b if input_b else 0.0, "ratio")
    walls = {"build": build, "exec": exe}
    for name, p in phases.items():
        task_s = p.get("task_ms", 0) / 1000.0 / n_pass
        vals = {
            "jobs": (p.get("jobs", 0) / n_pass, "count"),
            "stages": (p.get("stages", 0) / n_pass, "count"),
            "tasks": (p.get("tasks", 0) / n_pass, "count"),
            "task_s": (task_s, "s"),
            "task_overhead_s": (p.get("overhead_ms", 0) / 1000.0 / n_pass, "s"),
            "core_util": (task_s / (walls[name] * cores) if walls[name] > 0 else 0.0, "ratio"),
            "shuffle_read_mb": (p.get("shuffle_read_bytes", 0) / MB / n_pass, "MB"),
            "shuffle_write_mb": (p.get("shuffle_write_bytes", 0) / MB / n_pass, "MB"),
            "spill_mb": (p.get("spill_bytes", 0) / MB / n_pass, "MB"),
            "peak_task_mem_mb": (p.get("peak_task_mem_bytes", 0) / MB, "MB"),
            "failed_tasks": (p.get("failed_tasks", 0) / n_pass, "count"),
        }
        for f in SPARK_FIELDS:
            m[f"spark.{name}.{f}"] = vals[f]

    # Tracing overhead compares the same code: the DAG ops are left out
    # of both rates, since traced and untraced ones run different calls.
    t_rate = ops_per_s([o for o in traced if o["family"] != DAG_FAMILY], failed_ids)
    u_rate = ops_per_s([o for o in untraced if o["family"] != DAG_FAMILY], failed_ids)
    m["trace.ops_per_s"] = (t_rate, "1/s")
    m["trace.untraced_ops_per_s"] = (u_rate, "1/s")
    m["trace.overhead_frac"] = (1.0 - t_rate / u_rate if u_rate > 0 else 0.0, "ratio")
    m["failed_frac"] = (len(failures) / len(ops) if ops else 0.0, "ratio")
    return m
