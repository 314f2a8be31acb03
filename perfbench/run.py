#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the benchmark
runner from source (perfbench/build.sbt, once per source state), makes the
seed's inputs (inputs.py, cached per seed and generator stamp), then runs
one JVM in which one client thread runs the workload's ordered key list
(workloads.json) through `graft.SparkEntry.queries(key)` and collects each
result: one cold pass, then warm passes for S seconds (at least six).
Every key's cold result is checked against the DuckDB oracle with
tools/check_oracle.py; every warm result must equal the cold one. The expected results are
cached per input set, DuckDB version and SQL text.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with --trace 0,
the per-layer metrics of a traced run with --trace 1). The line before it
holds every end-to-end metric with its unit, the failed keys and a compact
record per key.

PERFBENCH_FAULTS (`throw:KEY,corrupt:KEY`) injects failures into the
named keys of the workload; it exists for the benchmark's negative-control
test.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 175          # a run ends within 180 s, the first build aside
BUILD_TIMEOUT_S = 800
MIN_TAIL_BEYOND = 10      # samples a tail percentile must have above it
MIN_COVERAGE = 0.95       # share of a traced phase's job time its key spans must own


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def heap():
    """Half of MemTotal in whole GB, clamped to 2..8 g, as the Tier-1 verify
    line sizes the test JVM."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    tracked = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for base, dirs, files in os.walk(d):
            dirs.sort()
            tracked += [os.path.join(base, f) for f in sorted(files)]
    for p in tracked:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(heap().encode())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the JVM launch
    arguments (the program's fork options and the classpath)."""
    stamp_file = os.path.join(WORK, "build.stamp")
    args_file = os.path.join(HERE, "target", "launch.args")
    stamp = source_stamp()
    if os.path.exists(args_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return open(args_file).read().split("\n")[:-1]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=heap())
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchArgs"],
                       HERE, env, out, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(args_file):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}); see {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(args_file).read().split("\n")[:-1]


def steal_s():
    """Seconds of CPU time the hypervisor gave to other guests, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run_child(cmd, cwd, env, out, timeout):
    """Runs `cmd` in its own process group; on timeout the whole group is
    killed and waited for. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ---------------------------------------------------------------- oracle

def expected_tables(in_dir, sqls):
    """One DuckDB file per (input set, DuckDB version, key, SQL text) holding
    the oracle's result as table `expected`, computed on first use. The
    input set's directory name carries the seed and the generator's stamp."""
    import duckdb
    root = os.path.join(WORK, "oracle", f"{os.path.basename(in_dir)}-duckdb-{duckdb.__version__}")
    os.makedirs(root, exist_ok=True)
    paths = {}
    for key, sql in sqls.items():
        path = os.path.join(root, f"{key}-{hashlib.sha1(sql.encode()).hexdigest()[:12]}.duckdb")
        if not os.path.exists(path):
            tmp = f"{path}.tmp-{os.getpid()}"
            con = duckdb.connect(tmp)
            for t in inputs.TABLES:
                con.execute(f"CREATE TEMP VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{in_dir}/{t}.parquet')")
            con.execute(f"CREATE TABLE expected AS {sql}")
            con.close()
            os.rename(tmp, path)
        paths[key] = path
    return paths


def oracle_check(in_dir, dump, keys):
    """Runs tools/check_oracle.py unchanged over the cold dump; its SQL per
    key reads the cached expected result. Returns {key: None | failure}."""
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        sqls = json.load(f)
    verdict = {k: "no oracle SQL" for k in keys if k not in sqls}
    cached = expected_tables(in_dir, {k: sqls[k] for k in keys if k in sqls})
    os.replace(os.path.join(dump, "oracle_sql.json"), os.path.join(dump, "oracle_source.json"))
    with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
        json.dump({k: f"ATTACH IF NOT EXISTS '{p}' AS o{i} (READ_ONLY); "
                      f"SELECT * FROM o{i}.expected"
                   for i, (k, p) in enumerate(sorted(cached.items()))}, f)
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        in_dir, dump] + sorted(cached), capture_output=True, text=True,
                       timeout=120)
    for line in p.stdout.splitlines():
        if line.startswith("PASS "):
            verdict[line.split()[1]] = None
        elif line.startswith("FAIL "):
            key, _, msg = line[5:].partition(": ")
            verdict[key] = msg
    for k in cached:
        verdict.setdefault(k, "not reported by check_oracle.py")
    return verdict


# ---------------------------------------------------------------- metrics

def tail(samples):
    """The highest whole percentile with at least MIN_TAIL_BEYOND samples
    above its nearest-rank value; the median when there are too few."""
    xs = sorted(samples)
    n = len(xs)
    pct = max(50, (100 * (n - MIN_TAIL_BEYOND)) // n) if n > MIN_TAIL_BEYOND else 50
    rank = max(1, -(-pct * n // 100))
    return xs[rank - 1], pct, n - rank


def own_cpu(x):
    """CPU seconds of a pass or an execution less its JIT compiler threads'
    share: the compilation a fresh JVM still does in its first passes, which
    falls pass by pass and says nothing of the program."""
    return x["cpu_s"] - x["jit_cpu_s"]


def end_to_end(res, failed_exec, warm):
    """The end-to-end metrics. The per-key figures are the median over keys
    of each key's median over the warm passes: pooling the samples of a
    short key list would put the median in the gap between a slow and a
    fast key, where it moves with the smallest change in either."""
    cold = res["passes"][0]
    lat, cpu = {}, {}
    for p in warm:
        for e in p["execs"]:
            if not failed_exec(p, e):
                lat.setdefault(e["key"], []).append(e["construct_s"] + e["execute_s"])
                cpu.setdefault(e["key"], []).append(own_cpu(e))
    ok = [x for xs in lat.values() for x in xs]
    q_tail, pct, beyond = tail(ok) if ok else (None, 50, 0)
    per_key = lambda d: (statistics.median(statistics.median(xs) for xs in d.values())
                         if ok else None)
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "cold_s": (cold["wall_s"], "s"),
        "cold_cpu_s": (own_cpu(cold), "s"),
        "warm_s": (statistics.median(p["wall_s"] for p in warm), "s"),
        "cpu_s": (statistics.median(own_cpu(p) for p in warm), "s"),
        "query_p50_s": (per_key(lat), "s"),
        "query_tail_s": (q_tail, "s"),
        "query_cpu_s": (per_key(cpu), "s"),
        "retained_mb": (res["retained_mb"], "MB"),
    }, {"tail_percentile": pct, "tail_beyond": beyond, "warm_samples": len(ok)}


def _sum(spans, names, key):
    return sum(spans.get(n, {}).get(key, 0.0) for n in names)


def union_ms(intervals, lo, hi):
    """Milliseconds of [lo, hi] covered by at least one interval."""
    covered, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > max(a, end):
            covered += b - max(a, end)
            end = b
    return covered


def span_coverage(jobs, passes):
    """The share of the job time inside `passes` that ran in jobs attributed
    to the key span running when they started; 1.0 when no job ran."""
    total = attributed = 0
    for a, b, ok in jobs:
        for p in passes:
            t = max(0, min(b, p["end_ms"]) - max(a, p["start_ms"]))
            total += t
            attributed += t if ok else 0
    return attributed / total if total else 1.0


def layers(res, workload_modules):
    """Per-layer metrics of a traced run, per phase. Warm figures are per
    traced warm pass."""
    t = res["trace"]
    spans = t["spans"]
    keys = res["keys"]
    out = {}

    def put(name, value, unit):
        out[name] = (value, unit)

    put("bench.session_s", statistics.median(res["session_s"]), "s")
    cores = int(res["cpus"])
    for phase in ("cold", "warm"):
        passes = [p for p in res["passes"] if p["phase"] == phase and p["traced"]]
        n = len(passes)
        names = lambda part: [f"{phase}|{p['index']}|{k}|{part}" for p in passes for k in keys]
        both = names("construct") + names("execute")
        per = lambda v: v / n
        s = lambda key, parts=both: per(_sum(spans, parts, key))
        wall = per(sum(p["wall_s"] for p in passes))
        execs = [e for p in passes for e in p["execs"]]
        construct = per(sum(e["construct_s"] for e in execs))
        execute = per(sum(e["execute_s"] for e in execs))
        pre = f"{phase}."
        put(pre + "ops.construct_s", construct, "s")
        put(pre + "ops.execute_s", execute, "s")
        put(pre + "ops.actions", s("executions", names("construct")), "count")
        for mod in workload_modules:
            put(pre + f"ops.module.{mod}_s",
                per(sum(e["construct_s"] + e["execute_s"] for e in execs
                        if res["modules"][e["key"]] == mod)), "s")
        put(pre + "spark.sched.jobs", s("jobs"), "count")
        put(pre + "spark.sched.stages", s("stages"), "count")
        put(pre + "spark.sched.tasks", s("tasks"), "count")
        intervals = [(a, b) for a, b, _ in t["jobs"]]
        busy = sum(union_ms(intervals, p["start_ms"], p["end_ms"]) for p in passes)
        put(pre + "spark.sched.driver_gap_s", per(max(0.0, sum(p["wall_s"] for p in passes)
                                                      - busy / 1000)), "s")
        put(pre + "spark.sched.sched_delay_s", s("sched_delay_ms") / 1000, "s")
        put(pre + "spark.plan.analysis_s", s("analysis_ms") / 1000, "s")
        put(pre + "spark.plan.optimizer_s", s("optimizer_ms") / 1000, "s")
        put(pre + "spark.plan.physical_s", s("physical_ms") / 1000, "s")
        put(pre + "spark.plan.executions", s("executions"), "count")
        put(pre + "spark.exec.task_cpu_s", s("task_cpu_ns") / 1e9, "s")
        put(pre + "spark.exec.task_run_s", s("task_run_ms") / 1000, "s")
        put(pre + "spark.exec.busy_frac", s("task_run_ms") / 1000 / (wall * cores), "ratio")
        put(pre + "spark.shuffle.write_mb", s("shuffle_write_b") / 2**20, "MB")
        put(pre + "spark.shuffle.read_mb", s("shuffle_read_b") / 2**20, "MB")
        put(pre + "spark.shuffle.fetch_wait_s", s("fetch_wait_ms") / 1000, "s")
        put(pre + "spark.shuffle.spill_mb", s("spill_b") / 2**20, "MB")
        for j in ("bhj", "smj", "shj", "bnlj"):
            put(pre + f"spark.join.{j}", s(j), "count")
        put(pre + "spark.join.broadcast_mb", s("broadcast_b") / 2**20, "MB")
        store = res["store"][phase]
        put(pre + "spark.store.cached_mb", store["cached_mb"], "MB")
        put(pre + "spark.store.cached_rdds", store["cached_rdds"], "count")
        put(pre + "jvm.gc_s", per(sum(p["jvm"]["gc_ms"] for p in passes)) / 1000, "s")
        put(pre + "jvm.gc_count", per(sum(p["jvm"]["gc_count"] for p in passes)), "count")
        put(pre + "jvm.jit_s", per(sum(p["jvm"]["jit_ms"] for p in passes)) / 1000, "s")
        put(pre + "jvm.heap_peak_mb", max(p["jvm"]["heap_peak_mb"] for p in passes), "MB")
        batches = [b for nm in both for b in spans.get(nm, {}).get("batch_ms", [])]
        put(pre + "stream.batches", per(len(batches)), "count")
        put(pre + "stream.batch_p50_s", statistics.median(batches) / 1000 if batches else 0.0, "s")
        put(pre + "stream.batch_tail_s", tail(batches)[0] / 1000 if batches else 0.0, "s")
        put(pre + "stream.add_batch_s", s("add_batch_ms") / 1000, "s")
        put(pre + "stream.planning_s", s("planning_ms") / 1000, "s")
        put(pre + "stream.commit_s", s("commit_ms") / 1000, "s")
        put(pre + "stream.input_rows", s("input_rows"), "count")
        put(pre + "trace.span_coverage", span_coverage(t["jobs"], passes), "ratio")
    untraced = [p["wall_s"] for p in res["passes"] if p["phase"] == "warm" and not p["traced"]]
    traced = [p["wall_s"] for p in res["passes"] if p["phase"] == "warm" and p["traced"]]
    put("trace.overhead_frac",
        statistics.median(traced) / statistics.median(untraced) - 1, "ratio")
    return out


def per_key(res, failed_exec, warm):
    """A compact record per key: cold seconds, and over the `warm` passes
    warm seconds, CPU seconds less JIT and the construct and execute
    split, and, in a traced
    run, jobs, shuffle MB and joins per traced warm execution."""
    spans = (res["trace"] or {}).get("spans", {})
    recs = []
    for key in res["keys"]:
        cold = next(e for e in res["passes"][0]["execs"] if e["key"] == key)
        ws = [e for p in warm for e in p["execs"] if e["key"] == key and not failed_exec(p, e)]
        med = lambda f: round(statistics.median(f(e) for e in ws), 4) if ws else None
        rec = {"key": key, "module": res["modules"][key],
               "cold_s": round(cold["construct_s"] + cold["execute_s"], 4),
               "warm_s": med(lambda e: e["construct_s"] + e["execute_s"]),
               "cpu_s": med(own_cpu),
               "construct_s": med(lambda e: e["construct_s"]),
               "execute_s": med(lambda e: e["execute_s"])}
        traced = [p for p in res["passes"] if p["phase"] == "warm" and p["traced"]]
        if traced:
            names = [f"warm|{p['index']}|{key}|{part}" for p in traced
                     for part in ("construct", "execute")]
            s = lambda m: _sum(spans, names, m) / len(traced)
            rec["jobs"] = s("jobs")
            rec["shuffle_mb"] = round((s("shuffle_write_b") + s("shuffle_read_b")) / 2**20, 3)
            rec["joins"] = {j: s(j) for j in ("bhj", "smj", "shj", "bnlj")}
        recs.append(rec)
    return recs


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    for p in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, p)):
            die(f"run from the root of a checkout of the program: {p} is missing")
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in spec["workloads"]:
        die(f"unknown workload {a.workload!r}; known: {', '.join(spec['workloads'])}")
    if a.seed < 0:
        die("--seed must be >= 0")
    keys = spec["workloads"][a.workload]["keys"]

    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "lock"), "w") as lock:
        # one run at a time per checkout: builds and caches are shared
        fcntl.flock(lock, fcntl.LOCK_EX)
        jvm_args = build()
        t_ready = time.monotonic()
        in_dir = inputs.ensure(a.seed, os.path.join(WORK, "inputs"))

        runs = os.path.join(WORK, "runs")
        shutil.rmtree(runs, ignore_errors=True)
        out = os.path.join(runs, f"{a.workload}-s{a.seed}-t{a.trace}")
        os.makedirs(out)
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # a fixed set of JIT compiler threads, so the runner can count their
        # CPU time (a dynamic one would take its count with it when it ends)
        cmd = (["java", f"-Djava.io.tmpdir={tmp}", "-XX:-UseDynamicNumberOfCompilerThreads"]
               + jvm_args +
               ["perfbench.Runner", "--input", in_dir, "--keys", ",".join(keys),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out])
        for f in filter(None, os.environ.get("PERFBENCH_FAULTS", "").split(",")):
            cmd += ["--fault", f]
        left = DEADLINE_S - (time.monotonic() - t_ready) - 15
        steal0 = steal_s()
        with open(os.path.join(out, "jvm.log"), "w") as log:
            rc = run_child(cmd, ROOT, os.environ, log, left)
        steal = steal_s() - steal0
        if rc != 0:
            sys.stderr.write(open(os.path.join(out, "jvm.log")).read()[-4000:])
            die("benchmark JVM " + ("timed out" if rc is None else f"exited with {rc}"), 4)
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        verdict = oracle_check(in_dir, os.path.join(out, "dump"), keys)
        shutil.rmtree(os.path.join(out, "dump"), ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    cold = {e["key"]: e for e in res["passes"][0]["execs"]}

    def failed_exec(p, e):
        return (e["error"] is not None or verdict.get(e["key"]) is not None
                or e["digest"] != cold[e["key"]]["digest"])

    execs = [(p, e) for p in res["passes"] for e in p["execs"]]
    failed = sum(failed_exec(p, e) for p, e in execs)
    warm = [p for p in res["passes"] if p["phase"] == "warm" and not p["traced"]]
    e2e, tail_info = end_to_end(res, failed_exec, warm)
    e2e["failed_frac"] = (failed / len(execs), "ratio")
    failures = {}
    for p, e in execs:
        if failed_exec(p, e) and e["key"] not in failures:
            failures[e["key"]] = e["error"] or verdict.get(e["key"]) or "result differs from cold run"

    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "query_tail": tail_info,
        "setup_samples_s": res["setup_s"],
        "warm_passes": len(warm),
        "failed_keys": failures,
        "per_key": per_key(res, failed_exec, warm),
        "input_rows": inputs.row_counts(in_dir),
        "host_steal_s": round(steal, 2),
        "run_s": round(time.monotonic() - t_start, 2),
    }
    # exactly the metrics BENCHMARK.json declares for this kind of run
    computed = layers(res, spec["modules"]) if a.trace else e2e
    for phase in ("cold", "warm") if a.trace else ():
        coverage = computed[f"{phase}.trace.span_coverage"][0]
        if coverage < MIN_COVERAGE:
            die(f"{phase} key spans are attributed only {coverage:.3f} of the job time; "
                "the per-layer figures would be misplaced", 5)
    metrics = {m["name"]: computed[m["name"]]
               for m in bench[("per_layer" if a.trace else "end_to_end")]}
    print(json.dumps(detail, separators=(",", ":")))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(execs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
