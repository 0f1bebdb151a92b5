#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, one JVM, one run.

usage: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the harness
(perfbench/harness, an sbt project compiled against the engine's sources)
into .bench_build/; later runs reuse it while the sources are unchanged.
A run then:

  1. starts the harness JVM, which generates the inputs from the seed
     (graft.tools.ScaleGenV2.generate), runs one warm-up pass that writes
     every query's result, and times passes for --seconds seconds
     (perfbench/harness/src/main/scala/perfbench/Main.scala);
  2. checks every query's result against its DuckDB oracle
     (graft.SparkEntry.oracleSql), normalised as tools/selfcheck.py does;
     oracle digests are cached per (workload sizes, seed);
  3. prints a summary on stderr and, as the last line of stdout, one JSON
     object: the end-to-end metrics with --trace 0, the per-layer metrics
     with --trace 1.

The full record of a run (samples, traced counters, spans, run context)
is kept under .bench_build/results/ for perfbench/compare.py. A query that
throws or mismatches its oracle is named on stderr and makes the run exit
with code 1; failed queries stay in every timing.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import pwd
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
HARNESS = HERE / "harness"
# the engine sources the harness compiles against; if they are missing
# this is not a checkout of the engine and there is nothing to measure
ENGINE = ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala"
RUN_DEADLINE_S = 170  # the whole run, build excluded
BUILD_TIMEOUT_S = 700  # with a run, inside the first run's 900 s
# set in the environment of a run relaunched under a login shell
LOGIN_SHELL_MARK = "PERFBENCH_LOGIN_SHELL"

# name -> (unit, better). The end-to-end metrics come from untraced passes.
# query_tail_s and failed_frac are printed on stderr and recorded, but not
# bounded: a run has 6-16 query samples, too few for a tail that host
# noise does not swing past any bound, and failed_frac is 0.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "query_p50_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}
MODULES = ["sources", "ops", "pipelines", "text", "neardup", "sim"]
MODULE_METRICS = {
    "build_s": ("s", "lower"), "exec_s": ("s", "lower"),
    "build_jobs": ("count", "lower"), "jobs": ("count", "lower"),
    "stages": ("count", "lower"), "tasks": ("count", "lower"),
    "driver_s": ("s", "lower"), "task_cpu_s": ("s", "lower"),
    "shuffle_write_mb": ("MB", "lower"), "spill_mb": ("MB", "lower"),
    "cache_mb": ("MB", "lower"),
}
ENGINE_METRICS = {
    "catalyst.plan_s": ("s", "lower"),
    "catalyst.exchanges": ("count", "lower"),
    "scheduler.task_wait_s": ("s", "lower"),
    "scheduler.core_util": ("ratio", "higher"),
    "executor.gc_s": ("s", "lower"),
    "executor.peak_exec_mem_mb": ("MB", "lower"),
    "shuffle.read_mb": ("MB", "lower"),
    "shuffle.fetch_wait_s": ("s", "lower"),
    "cache.leftover_mb": ("MB", "lower"),
    "tasks.failed": ("count", "lower"),
    "trace.overhead_s": ("s", "lower"),
}
PER_LAYER = {f"{m}.{k}": v for m in MODULES for k, v in MODULE_METRICS.items()}
PER_LAYER.update(ENGINE_METRICS)
WORKLOADS = ["etl_facts", "corpus"]
# the opens Spark needs on JDK 17 outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
MB = 1 << 20


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def check_metric_table():
    """The metric names and units this script emits must be exactly those
    BENCHMARK.json declares; a drift fails before anything runs."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for key, ours in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        theirs = {m["name"]: (m["unit"], m["better"]) for m in spec[key]}
        if theirs != ours:
            problems.append(f"{key}: BENCHMARK.json and run.py differ on "
                            f"{sorted(set(theirs.items()) ^ set(ours.items()))}")
    names = [w["name"] for w in spec["workloads"]]
    if sorted(names) != sorted(WORKLOADS):
        problems.append(f"workloads: BENCHMARK.json {names} vs {WORKLOADS}")
    return problems


def source_stamp():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*.scala"))
    files += [ROOT / "src/test/scala/graft/tools/ScaleGenV2.scala",
              ROOT / "src/test/scala/graft/FixtureInvariants.scala",
              ROOT / "build.sbt", ROOT / "project/build.properties",
              HARNESS / "build.sbt", HARNESS / "project/build.properties"]
    files += sorted((HARNESS / "src").rglob("*.scala"))
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def missing_tools():
    """What a run needs but this environment does not provide."""
    missing = [t for t in ("sbt", "java") if shutil.which(t) is None]
    if importlib.util.find_spec("duckdb") is None:
        missing.append(f"the duckdb module for {sys.executable}")
    return missing


def login_env():
    """The environment a login shell sets up, captured once per checkout
    (a login profile can take seconds to run)."""
    saved = BUILD / "login.env"
    if not saved.exists():
        env = dict(os.environ)
        # as login(1) would set it; the profile finds the toolchain by it
        env.setdefault("HOME", pwd.getpwuid(os.getuid()).pw_dir)
        # the mark sets env's output apart from anything the profile prints
        mark = "\0perfbench-env\0"
        out = subprocess.run(
            ["bash", "-lc", "printf '\\0perfbench-env\\0'; env -0"],
            env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, timeout=60).stdout.decode()
        if mark not in out:
            sys.exit("[perfbench] could not read a login shell's environment")
        BUILD.mkdir(exist_ok=True)
        saved.write_text(out.split(mark, 1)[1])
    return dict(kv.split("=", 1)
                for kv in saved.read_text().split("\0") if "=" in kv)


def relaunch_in_login_shell(why):
    """Re-runs this script, with the same arguments and process id, in the
    environment of a login shell. The toolchain (sbt and its offline
    resolver settings, the Python that has duckdb) may be set up only by
    the login profile, which a caller that starts this script with a bare
    environment skips. Exits if the script already runs that way."""
    if os.environ.get(LOGIN_SHELL_MARK):
        sys.exit(f"[perfbench] {why}, also in a login shell's environment")
    log(f"{why}; running again in a login shell's environment")
    env = login_env()
    env[LOGIN_SHELL_MARK] = "1"
    python = shutil.which("python3", path=env.get("PATH"))
    if python is None:
        sys.exit("[perfbench] a login shell finds no python3")
    sys.stdout.flush()
    sys.stderr.flush()
    os.execve(python, [python, str(Path(__file__).resolve())] + sys.argv[1:],
              env)


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    stamp_file, cp_file = BUILD / "harness.stamp", BUILD / "harness.classpath"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() \
            and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building the harness (sbt) ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    with open(BUILD / "build.log", "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false",
                 "export Runtime/fullClasspath"],
                cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=out,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
            code, stdout = r.returncode, r.stdout
        except subprocess.TimeoutExpired as e:
            code, stdout = "timeout", e.stdout or ""
            stdout = stdout if isinstance(stdout, str) else stdout.decode()
        out.write(stdout)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if code != 0 or not lines or "[" in lines[-1]:
        print("\n".join((BUILD / "build.log").read_text().splitlines()[-20:]),
              file=sys.stderr)
        sys.exit(f"[perfbench] build failed ({code}); "
                 f"see {BUILD / 'build.log'}")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1]


def cpu_ticks():
    """(total, steal) jiffies from /proc/stat (user..steal), or None."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text()
             .splitlines()[0].split()[1:9]]
        return sum(f), f[7]
    except (OSError, ValueError, IndexError):
        return None


def java_processes():
    n = 0
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                if b"java" in (p / "cmdline").read_bytes().split(b"\0")[0]:
                    n += 1
            except OSError:
                pass
    return n


def run_context(ticks0):
    ticks1 = cpu_ticks()
    steal = -1.0
    if ticks0 and ticks1 and ticks1[0] > ticks0[0]:
        steal = 100.0 * (ticks1[1] - ticks0[1]) / (ticks1[0] - ticks0[0])
    try:
        boot = Path("/proc/sys/kernel/random/boot_id").read_text().strip()
    except OSError:
        boot = "unknown"
    return {"nproc": len(os.sched_getaffinity(0)), "boot_id": boot,
            "steal_pct": round(steal, 2), "load_avg": os.getloadavg()[0],
            "other_jvms": java_processes()}


def run_jvm(classpath, args, run_dir, deadline):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    # A fixed heap keeps peak RSS from following the collector's resizing.
    # C1 only: a run is far too short for C2 to settle (pass times still
    # fell 30% from the 1st to the 5th pass, with its compiler threads
    # taking a quarter of the CPU). Halved compile thresholds move most of
    # C1's compilation into the warm-up passes instead of a burst in the
    # third execution of each query.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:TieredStopAtLevel=1",
           "-XX:CompileThresholdScaling=0.5",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dderby.system.home={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    log_file = run_dir / "jvm.log"
    with open(log_file, "w") as out:
        try:
            r = subprocess.run(cmd, cwd=run_dir, env=env, stdout=out,
                               stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL,
                               timeout=max(1.0, deadline - time.time()))
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0:
        print("\n".join(log_file.read_text().splitlines()[-30:]),
              file=sys.stderr)
        sys.exit(f"[perfbench] harness JVM failed ({code}); log: {log_file}")


def inputs_key(record):
    """What the generated inputs depend on: the workload sizes, the seed
    and the generator's code."""
    h = hashlib.sha256()
    for f in ("src/test/scala/graft/tools/ScaleGenV2.scala",
              "src/test/scala/graft/FixtureInvariants.scala"):
        h.update((ROOT / f).read_bytes())
    return (f"{record['workload']}_{record['sizes']}_seed{record['seed']}"
            f"_{h.hexdigest()[:12]}")


def load_selfcheck():
    spec = importlib.util.spec_from_file_location(
        "selfcheck", ROOT / "tools" / "selfcheck.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(rel, selfcheck):
    rows, cols = rel.fetchall(), list(rel.columns)
    table, names = selfcheck.table_of(rows, cols)
    return hashlib.sha256(repr((names, table)).encode()).hexdigest()


def oracle_check(record, data_dir, out_dir, cores):
    """Digest each query's warm-up result and its oracle's over the same
    inputs; returns ({query: reason} for every mismatch, {table: rows})."""
    import duckdb
    selfcheck = load_selfcheck()
    cache_file = BUILD / "oracle" / f"{inputs_key(record)}.json"
    cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    con = duckdb.connect()
    con.execute(f"SET threads={cores}")
    con.execute("SET memory_limit='2GB'")
    rows = {}
    for t in sorted(p.name[:-len(".parquet")]
                    for p in data_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
        rows[t] = con.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
    bad = {}
    for q, sql in sorted(record["oracle_sql"].items()):
        res = out_dir / "results" / q
        if not res.is_dir():
            bad[q] = "no result (the query failed)"
            continue
        key = hashlib.sha256(sql.encode()).hexdigest()
        t0 = time.time()
        if cache.get(q, {}).get("sql") != key:
            try:
                cache[q] = {"sql": key, "digest": digest(con.sql(sql), selfcheck)}
            except duckdb.Error as e:
                bad[q] = f"oracle error: {e}"
                continue
        got = digest(con.sql(f"SELECT * FROM read_parquet('{res}/*.parquet')"),
                     selfcheck)
        if got != cache[q]["digest"]:
            bad[q] = "result differs from the oracle"
        if time.time() - t0 > 5:
            log(f"oracle {q}: {time.time() - t0:.1f} s")
    cache_file.parent.mkdir(parents=True, exist_ok=True)
    cache_file.write_text(json.dumps(cache, indent=1, sort_keys=True))
    return bad, rows


def tail(values):
    """The highest percentile with at least ten samples beyond it, and its
    rank in percent. Below 100 samples that rank is under p90, which is no
    tail, so the maximum (rank 100) is reported instead."""
    v = sorted(values)
    if len(v) < 100:
        return v[-1], 100.0
    return v[-11], 100.0 * (len(v) - 10) / len(v)


def end_to_end(record):
    """{metric: (value, samples)} for END_TO_END, then the query tail as
    (value, rank in percent, samples)."""
    timed = [s for s in record["samples"] if s["pass"] > 0 and not s["traced"]]
    passes = [p for p in record["passes"] if not p["traced"]]
    q = [s["build_s"] + s["exec_s"] for s in timed]
    return {
        "setup_s": (record["setup_s"], 1),
        "pass_s": (statistics.median(p["wall_s"] for p in passes), len(passes)),
        "query_p50_s": (statistics.median(q), len(q)),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), len(passes)),
        "peak_rss_mb": (record["peak_rss_mb"], 1),
    }, tail(q) + (len(q),)


def self_ms(span, children):
    """The part of span's interval no child span covers, in ms."""
    covered, end = 0, span["start"]
    for c in sorted(children, key=lambda c: c["start"]):
        s, e = max(c["start"], end), min(c["end"], span["end"])
        if e > s:
            covered += e - s
            end = e
    return span["end"] - span["start"] - covered


def per_layer(record):
    module_of = record["modules"]
    spans = record["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in spans}
    counters = {(c["pass"], c["query"]): c for c in record["counters"]}
    traced = [p for p in record["passes"] if p["traced"]]
    leftover = {}
    for l in record["leftover"]:
        leftover[l["pass"]] = max(leftover.get(l["pass"], 0), l["bytes"])
    per_pass = []
    for p in traced:
        n = p["pass"]
        m = {k: 0.0 for k in PER_LAYER}
        for s in record["samples"]:
            if s["pass"] != n:
                continue
            q, mod = s["query"], module_of[s["query"]]
            c = counters[(n, q)]
            m[f"{mod}.build_s"] += s["build_s"]
            m[f"{mod}.exec_s"] += s["exec_s"]
            m[f"{mod}.build_jobs"] += c["build_jobs"]
            m[f"{mod}.jobs"] += c["jobs"]
            m[f"{mod}.stages"] += c["stages"]
            m[f"{mod}.tasks"] += c["tasks"]
            m[f"{mod}.task_cpu_s"] += c["task_cpu_ns"] / 1e9
            m[f"{mod}.shuffle_write_mb"] += c["shuffle_write_b"] / MB
            m[f"{mod}.spill_mb"] += c["spill_b"] / MB
            m[f"{mod}.cache_mb"] = max(m[f"{mod}.cache_mb"], c["cache_b"] / MB)
            for phase in ("build", "exec"):
                span = by_id.get(f"p{n}/{q}/{phase}")
                if span:
                    m[f"{mod}.driver_s"] += self_ms(
                        span, kids.get(span["id"], [])) / 1e3
            m["catalyst.plan_s"] += c["plan_ms"] / 1e3
            m["catalyst.exchanges"] += c["exchanges"]
            m["scheduler.task_wait_s"] += c["task_wait_ms"] / 1e3
            m["scheduler.core_util"] += c["task_run_ms"] / 1e3
            m["executor.gc_s"] += c["gc_ms"] / 1e3
            m["executor.peak_exec_mem_mb"] = max(
                m["executor.peak_exec_mem_mb"], c["peak_exec_mem_b"] / MB)
            m["shuffle.read_mb"] += c["shuffle_read_b"] / MB
            m["shuffle.fetch_wait_s"] += c["fetch_wait_ms"] / 1e3
            m["tasks.failed"] += c["failed_tasks"]
        m["scheduler.core_util"] /= p["wall_s"] * record["cores"]
        m["cache.leftover_mb"] = leftover.get(n, 0) / MB
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in PER_LAYER}
    untraced = [p["wall_s"] for p in record["passes"] if not p["traced"]]
    out["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                               - statistics.median(untraced))
    return out, len(per_pass)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run raises SystemExit, on which subprocess.run kills
    # and reaps the child (sbt or the harness JVM) before we exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not ENGINE.exists():
        sys.exit(f"[perfbench] {ENGINE.relative_to(ROOT)} is missing: run "
                 "from the root of a checkout of the engine")
    problems = check_metric_table()
    if problems:
        sys.exit("[perfbench] " + "\n".join(problems))
    missing = missing_tools()
    if missing:
        relaunch_in_login_shell("not found: " + ", ".join(missing))
    BUILD.mkdir(exist_ok=True)
    classpath = build()

    deadline = time.time() + RUN_DEADLINE_S
    cores = len(os.sched_getaffinity(0))
    run_dir = BUILD / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    data_dir, out_dir = run_dir / "data", run_dir / "out"
    shutil.rmtree(run_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)
    ticks0 = cpu_ticks()
    run_jvm(classpath, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(cores), "--data", str(data_dir), "--out", str(out_dir),
    ], run_dir, deadline)
    context = run_context(ticks0)
    record = json.loads((out_dir / "record.json").read_text())
    t0 = time.time()
    bad, rows = oracle_check(record, data_dir, out_dir, cores)
    oracle_s = time.time() - t0

    threw = {s["query"] for s in record["samples"] if s["error"]}
    failed_q = threw | set(bad)
    attempted = len(record["samples"])
    failed = sum(1 for s in record["samples"] if s["query"] in failed_q)
    e2e, (tail_s, tail_rank, tail_n) = end_to_end(record)
    for q in sorted(threw):
        log(f"FAILED {q}: threw (see {run_dir / 'jvm.log'})")
    for q, why in sorted(bad.items()):
        log(f"FAILED {q}: {why}")
    log(f"{a.workload} seed {a.seed}: {len(record['passes'])} timed passes; "
        f"generation {record['gen_s']:.1f} s, oracle check {oracle_s:.1f} s;"
        f" rows {rows}")
    for k, (v, n) in e2e.items():
        log(f"  {k} = {v:.4f} {END_TO_END[k][0]}, n={n}")
    log(f"  query_tail_s = {tail_s:.4f} s (p{tail_rank:.1f}), n={tail_n}")
    log(f"  failed_frac = {failed}/{attempted} = {failed / attempted:.4f}")
    log(f"  context {context}")

    result = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "seconds": a.seconds, "context": context,
              "rows": rows, "oracle_s": oracle_s,
              "failed_queries": sorted(failed_q),
              "failed_frac": failed / attempted,
              "end_to_end": {k: {"value": v, "unit": END_TO_END[k][0],
                                 "samples": n} for k, (v, n) in e2e.items()},
              "query_tail_s": {"value": tail_s, "unit": "s",
                               "rank_pct": tail_rank, "samples": tail_n},
              "record": record}
    if a.trace:
        layers, n_traced = per_layer(record)
        result["per_layer"] = layers
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]}
                   for k, v in layers.items()}
        log(f"  {n_traced} traced passes; overhead "
            f"{layers['trace.overhead_s']:.3f} s")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]}
                   for k, (v, _) in e2e.items()}
    results = BUILD / "results" / a.workload
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{time.strftime('%Y%m%dT%H%M%S')}_seed{a.seed}_trace{a.trace}"
               f"_{os.getpid()}.json").write_text(json.dumps(result))
    shutil.rmtree(run_dir)
    print(json.dumps({"correct": not failed_q, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(1 if failed_q else 0)


if __name__ == "__main__":
    main()
