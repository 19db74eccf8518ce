"""Seeded benchmark of the graft engine.

    python3 perfbench/run.py --workload mr_sql --seed 1 --seconds 10 --trace 0

Builds the engine and the harness (perfbench/build.py), generates the
seed's fixture (perfbench/fixture.py), times one set-up-only JVM, then
starts the measured JVM with a GraftSession on half the local cores
and drives `SparkEntry.queries` through it (perfbench/harness), checks
every result against the DuckDB oracle (perfbench/oracle.py) and
prints the metrics. The last stdout line is one JSON object:
`correct`, `attempted`, `failed`, `metrics`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones
(see perfbench/README.md).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import fixture  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402

ROOT = build.ROOT
# Registry modules with a query in some workload; `core` and `pipeline`
# have none, so their figures would always read 0.
MODULES = ["operators", "text", "dedup", "sim", "multimodal", "streaming"]
# JVM launches per run for setup_s: the measured run plus set-up-only
# ones. Each costs about 5 s, and the time budget for all runs leaves
# room for two.
SETUP_SAMPLES = 2
# A fixed heap, so peak RSS does not move with when the collector
# chose to grow it.
JVM_MEMORY = ["-Xms2g", "-Xmx2g"]
# Both JVMs of a run must end this many seconds after the build.
RUN_TIMEOUT_S = 165
STORE_GLOB_PREFIX = "graft_"
STORE_ROOT = "/tmp"
MB = 1024.0 * 1024.0
# query_tail_s is the highest percentile with this many samples beyond it.
TAIL_BEYOND = 10

# Untimed warm passes after the cold pass; the first writes the results
# for the oracle check. The first warm passes are 10-15 % slower than
# later ones (the JIT is still compiling Spark's hot paths), so they
# run but are not measured.
WARMUP_PASSES = 2

# Each workload: source fixture, sampled fraction of its fact keys, the
# least number of measured warm passes, and the queries in the order
# every pass runs them. Seven queries times four passes give 28 latency
# samples: the 50th percentile is then rank 14 and the tail (10 samples
# beyond) rank 18, each the second of one query's four samples, so
# neither sits on the edge between two queries' times.
WORKLOADS = {
    # Short relational, event and graph-fixpoint queries and the
    # reference's two MapReduce apps: planning, shuffle and driver
    # loops; no shared store and no vector kernel.
    "mr_sql": ("sf0.1", 0.1, 4, [
        "wc_wordcount", "sm_string_match", "q1_pricing_summary",
        "q3_top_orders", "q19_asof_last_event", "q60_bfs",
        "st_session_30m"]),
    # Warm reads of shared stores (near-dup signatures, the IVF index)
    # after their first build, plus vector, text and image kernels.
    "llm_serve": ("sf0.1", 0.1, 4, [
        "dd_minhash_lsh", "dd_simhash", "dd_embed_cosine", "ss_ivf_topk",
        "ss_cosine_topk", "ta_tfidf", "mm_phash_dedup"]),
}

# JVM flags Spark 4 needs on JDK 17 outside spark-submit (the same list
# build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def task_slots():
    """Spark task slots: half the machine's cores, at least 1. The JIT,
    GC and driver threads keep the other half busy (README, "Task
    slots")."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def launch_jvm(work, out, extra, deadline):
    """Run the harness JVM in `work`; raise if it fails or is still
    running at `deadline` (epoch seconds)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_MEMORY + ["-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.runtime_classpath(), "perfbench.Harness",
            "--cores", str(task_slots()), "--out", out]
    for k, v in extra.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log = os.path.join(out, "jvm.log")
    os.makedirs(out, exist_ok=True)
    with open(log, "w") as f:
        cmd += ["--launch-ms", str(int(time.time() * 1000))]
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=f, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"run exceeded {RUN_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"harness JVM exited with {code}")


def store_dirs(before):
    """Engine stores under /tmp created since `before` was listed."""
    now = {n for n in os.listdir(STORE_ROOT) if n.startswith(STORE_GLOB_PREFIX)}
    return sorted(os.path.join(STORE_ROOT, n) for n in now - before)


def tree_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def median_sample(sorted_xs):
    """Nearest-rank 50th percentile of an ascending list."""
    return sorted_xs[(len(sorted_xs) + 1) // 2 - 1]


def tail(sorted_xs):
    """(percentile, value): the highest nearest-rank percentile with
    exactly 10 samples beyond it."""
    n = len(sorted_xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples leave no tail percentile")
    return 100.0 * (n - TAIL_BEYOND) / n, sorted_xs[n - TAIL_BEYOND - 1]


def end_to_end(run, setups, ok_ratio):
    warm = [p for p in run["warm"] if not p["traced"]]
    samples = sorted(t for p in warm for t in p["times"].values())
    tail_p, tail_s = tail(samples)
    m = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_s": (run["cold"]["wall_s"], "s"),
        "warm_s": (statistics.median(p["wall_s"] for p in warm), "s"),
        "warm_cpu_s": (statistics.median(p["cpu_s"] for p in warm), "s"),
        "query_p50_s": (median_sample(samples), "s"),
        "query_tail_s": (tail_s, "s"),
        "pinned_mb": (run["pinned_mb"]["last"], "MB"),
        "rss_peak_mb": (run["rss_peak_mb"], "MB"),
        "ok_ratio": (ok_ratio, "ratio"),
    }
    detail = {"query_tail_percentile": tail_p, "query_samples": len(samples),
              "warm_passes": len(warm)}
    return m, detail


def per_layer(run, span_list, disk_bytes, input_bytes):
    m = {}
    warm = run["warm"]
    modules = run["modules"]
    for mod in MODULES:
        names = [q for q, x in modules.items() if x == mod]
        m[f"{mod}.queries"] = (len(names), "count")
        m[f"{mod}.cold_s"] = (sum(run["cold"]["times"][q] for q in names), "s")
        m[f"{mod}.warm_s"] = (statistics.median(
            sum(p["times"][q] for q in names) for p in warm), "s")
    lin = run["lineage"]
    store_mb = disk_bytes / MB
    m["lineage.build_s"] = (lin["build_s"], "s")
    m["lineage.stores_built"] = (lin["stores_built"], "count")
    m["lineage.warm_rebuilds"] = (lin["warm_rebuilds"], "count")
    m["lineage.pinned_mb_per_pass"] = (
        (run["pinned_mb"]["last"] - run["pinned_mb"]["first"]) / run["passes"], "MB")
    m["store.disk_mb"] = (store_mb, "MB")
    m["store.write_amp"] = (store_mb / (input_bytes / MB), "ratio")

    traced = [p for p in warm if p["traced"]]
    n = len(traced)

    def per_pass(key):
        return sum(p["counts"].get(key, 0.0) for p in traced) / n
    for k in ("plans.analysis_s", "plans.optimization_s", "plans.planning_s"):
        m[k] = (per_pass(k), "s")
    m["plans.executions"] = (per_pass("plans.executions"), "count")
    self_s = spans.self_times(span_list, spans.TRACED_PASS)
    m["driver.self_s"] = (
        sum(v for layer, v in self_s.items() if layer not in ("harness", "spark")) / n, "s")
    for k in ("jobs", "stages", "stages_skipped", "tasks", "single_task_stages"):
        m[f"spark.{k}"] = (per_pass(f"spark.{k}"), "count")
    for k in ("task_run_s", "task_cpu_s", "gc_s"):
        m[f"spark.{k}"] = (per_pass(f"spark.{k}"), "s")
    for k in ("shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb"):
        m[f"spark.{k}"] = (per_pass(f"spark.{k}"), "MB")
    m["spark.max_stage_tasks"] = (
        max(p["counts"].get("spark.max_stage_tasks", 0.0) for p in traced), "count")
    job_s = spans.job_seconds(span_list)
    m["spark.slot_util"] = (
        per_pass("spark.task_run_s") * n / (job_s * run["cores"]) if job_s else 0.0, "ratio")
    tasks = per_pass("spark.tasks")
    m["spark.task_retry_ratio"] = (
        per_pass("spark.task_retries") / tasks if tasks else 0.0, "ratio")
    m["trace.overhead_ratio"] = (spans.overhead(span_list) or 0.0, "ratio")
    return m


def execution_failures(run, mismatches):
    """(attempted, failed, named failures) over every query execution."""
    attempted = failed = 0
    named = {}
    for p in [run["cold"]] + run["warmup"] + run["warm"]:
        attempted += len(p["times"])
        failed += len(p["errors"])
        for q, why in p["errors"].items():
            named.setdefault(q, f"{p['label']}: {why}")
    for q, why in mismatches.items():
        # A query that threw in the pass writing results already counts.
        if why is not None and q not in run["warmup"][0]["errors"]:
            failed += 1
            named.setdefault(q, f"oracle: {why}")
    return attempted, failed, named


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.strip().splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sf, fraction, passes, queries = WORKLOADS[a.workload]
    build.build()
    deadline = time.time() + RUN_TIMEOUT_S
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        input_bytes = fixture.make(sf, fraction, a.seed, data)
        setups = []
        for i in range(SETUP_SAMPLES - 1):
            out = os.path.join(work, f"setup{i}")
            launch_jvm(work, out, {"setup-only": 1}, deadline)
            with open(os.path.join(out, "setup.json")) as f:
                setups.append(json.load(f)["setup_s"])
        before = {n for n in os.listdir(STORE_ROOT) if n.startswith(STORE_GLOB_PREFIX)}
        out = os.path.join(work, "run")
        try:
            launch_jvm(work, out, {"data": data, "queries": ",".join(queries),
                                   "warmup": WARMUP_PASSES, "seconds": a.seconds,
                                   "passes": passes, "trace": a.trace}, deadline)
        finally:
            stores = store_dirs(before)
            disk_bytes = sum(tree_bytes(p) for p in stores)
            for p in stores:
                shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
        with open(os.path.join(out, "run.json")) as f:
            run = json.load(f)
        setups.append(run["setup_s"])
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        missing = [q for q in queries if q not in oracle_sql]
        if missing:
            raise RuntimeError(f"no oracle SQL for {missing}")
        mismatches = oracle.check(data, os.path.join(out, "results"), oracle_sql)
        attempted, failed, named = execution_failures(run, mismatches)
        if a.trace:
            span_list = spans.load(os.path.join(out, "spans.jsonl"))
            metrics = per_layer(run, span_list, disk_bytes, input_bytes)
            detail = {"self_s": spans.self_times(span_list, spans.TRACED_PASS)}
        else:
            metrics, detail = end_to_end(run, setups, 1.0 - failed / attempted)
        detail.update({"workload": a.workload, "seed": a.seed,
                       "fail_ratio": failed / attempted, "failures": named,
                       "setup_samples_s": setups, "store_dirs": len(stores)})
        print(json.dumps({"detail": detail}, sort_keys=True))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # A terminated benchmark still stops its JVM and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main(sys.argv[1:])
    except Exception as e:
        sys.stderr.write(f"perfbench: {type(e).__name__}: {e}\n")
        sys.exit(1)
