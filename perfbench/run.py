#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the driver (sbt, into
perfbench/target; the classpath is kept in $CARGO_TARGET_DIR or
.bench_build). A run generates its inputs from the seed, runs the driver JVM
(perfbench/src, Spark local[nproc], one client, closed loop), checks every
checked output against DuckDB, prints a human-readable report and, as the
last stdout line, one JSON object: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. See perfbench/README.md for the map of
metrics to layers and workloads.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

JVM_TIMEOUT_S = 150
HEAP = "3g"

# Per workload: input rows, the untimed warm passes that end the set-up, the
# passes every run makes at least (which also fixes the tail percentile, see
# tail_pct) and the JIT (see jvm_opts).
WORKLOADS = {
    "ev_batch": dict(rows=100_000, warmups=2, min_passes=3, jit=["-XX:TieredStopAtLevel=1"]),
    "core_scale": dict(rows=800_000, keys=10_000, files=4, warmups=1, min_passes=2, jit=[]),
}

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "1/s"), ("live_heap_peak_mb", "MB"),
]
CORE_CALLS = ["core.window.count", "core.asof.take", "functions.ewma",
              "streaming.call.count_slices"]
PER_LAYER = (
    [("latency_p50_ms", "ms"), ("latency_tail_ms", "ms"), ("batch_p50_ms", "ms"),
     ("batch_tail_ms", "ms"), ("first_batch_ms", "ms"), ("failed_frac", "fraction")]
    + [(f"queries.{p}_ms", "ms") for p in ("construct", "analyze", "optimize", "plan", "execute")]
    + [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.task_ms", "ms"), ("spark.exec_util", "fraction"),
       ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
       ("spark.spill_bytes", "bytes"), ("spark.gc_ms", "ms"), ("spark.input_rows", "count")]
    + [(f"streaming.{m}", u) for m, u in (
        ("queries", "count"), ("batches", "count"), ("start_ms", "ms"), ("trigger_ms", "ms"),
        ("add_batch_ms", "ms"), ("query_planning_ms", "ms"), ("wal_commit_ms", "ms"),
        ("latest_offset_ms", "ms"), ("get_batch_ms", "ms"), ("residual_ms", "ms"),
        ("state_rows", "count"), ("state_memory_bytes", "bytes"), ("state_commit_ms", "ms"),
        ("dropped_by_watermark", "count"))]
    + [(f"{c}.{m}", u) for c in CORE_CALLS
       for m, u in (("ns_per_row", "ns"), ("jobs", "count"), ("shuffle_bytes", "bytes"))]
    + [("oracle.duck_s", "s"), ("trace.overhead_frac", "fraction")]
)


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tail_pct(n):
    """Highest of these percentiles with at least ten samples beyond it."""
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (100 - p) / 100 >= 10:
            return p
    return 50.0


def pct(xs, p):
    """Linear-interpolated percentile; 0 for no samples (a layer the
    workload does not run, or a run in which every call threw)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100
    i = int(k)
    return xs[i] if i + 1 >= len(xs) else xs[i] + (xs[i + 1] - xs[i]) * (k - i)


# ---- build -------------------------------------------------------------------

def sources(root):
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, base)):
            for f in sorted(fs):
                yield os.path.join(d, f)
    yield os.path.join(root, "perfbench/build.sbt")
    yield os.path.join(root, "perfbench/project/build.properties")


def classpath(root):
    """The driver's classpath, building it first if the sources changed."""
    build = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    h = hashlib.sha256()
    for p in sorted(sources(root)):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(build, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = f.read().split("\n", 1)
        if saved[0] == stamp:
            return saved[1].strip()
    os.makedirs(os.path.join(build, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build}/tmp"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-error",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(root, "perfbench"), env=env, capture_output=True,
                       text=True, timeout=840, stdin=subprocess.DEVNULL)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l or "classes" in l]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die(f"build failed (sbt exit {r.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    print(f"built driver in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def jvm_opts(workload):
    mods = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    out = []
    for m in mods:
        out += ["--add-opens", f"java.base/{m}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no /tmp/hsperfdata file, so nothing is written outside the checkout.
    # ev_batch runs C1 only (-XX:TieredStopAtLevel=1): in a one-minute JVM the C2
    # compilation of Spark's planner is still running during the timed passes, and
    # on 4 cores its timing moved ev_batch's pass time by a third between runs
    # (wall_s spread over five seeds: 0.36 with C2, 0.08 with C1). core_scale keeps
    # the default JIT, because its per-row kernels are what C2 compiles, and its
    # passes are long enough to be steady with it (spread 0.05 over five seeds).
    return out + WORKLOADS[workload]["jit"] + [
        f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC"]


# ---- one run -----------------------------------------------------------------

def generate(workload, seed, data):
    """The workload's inputs; returns the seconds it took (part of set-up)."""
    import gen
    w = WORKLOADS[workload]
    t0 = time.perf_counter()
    if workload == "core_scale":
        gen.core(seed, data, w["rows"], w["keys"], w["files"])
    else:
        gen.events(seed, data, w["rows"])
    return time.perf_counter() - t0


def run_jvm(cp, args, log_path):
    with open(log_path, "w") as log:
        p = subprocess.Popen(["java"] + jvm_opts(args["workload"]) + ["-Djava.io.tmpdir=" + args["scratch"] + "/tmp",
                              "-cp", cp, "perfbench.Main"]
                             + [x for k, v in args.items() for x in (f"--{k}", str(v))],
                             stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def account(res, verdicts):
    """attempted / failed over every checked execution. An item whose
    checked output differs from the oracle fails in every execution, since
    every later output had to equal it."""
    attempted = failed = 0
    bad = {}
    for name, it in res["items"].items():
        attempted += it["execs"]
        v = verdicts.get(name, "NOT-CHECKED")
        if v != "OK":
            failed += it["execs"]
            bad[name] = v + (f"; {it['error']}" if it["error"] else "")
        else:
            failed += it["failed"]
            if it["failed"]:
                bad[name] = it["error"]
    return attempted, failed, bad


def metrics(workload, res, gen_s, traced, duck_s, n_items):
    w = WORKLOADS[workload]
    walls = [x for x, t in zip(res["pass_wall_s"], res["pass_traced"]) if not t]
    lats = [x for it in res["items"].values() for x in it["lat_ms"]]
    rows = sum(it["rows"] for it in res["items"].values())
    wall = pct(walls, 50)
    tp = tail_pct(n_items * w["min_passes"])
    bp = tail_pct(len(res["batch_ms"]))
    out = {
        "setup_s": (gen_s + res["setup_jvm_s"],
                    f"inputs {gen_s:.2f} + JVM start to first timed call {res['setup_jvm_s']:.2f}"),
        "wall_s": (wall, f"median of {len(walls)} passes: " + " ".join(f"{x:.2f}" for x in walls)),
        "latency_p50_ms": (pct(lats, 50), f"n={len(lats)}"),
        "latency_tail_ms": (pct(lats, tp), f"p{tp:g}, n={len(lats)}"),
        "rows_per_s": (rows / wall, f"{rows} input rows per pass"),
        "live_heap_peak_mb": (max(res["pass_heap_mb"]), "old gen after full GC, max over passes"),
        "batch_p50_ms": (pct(res["batch_ms"], 50), f"n={len(res['batch_ms'])}"),
        "batch_tail_ms": (pct(res["batch_ms"], bp), f"p{bp:g}, n={len(res['batch_ms'])}"),
        "first_batch_ms": (pct(res["first_batch_ms"], 50), f"n={len(res['first_batch_ms'])}"),
    }
    if traced:
        for k, v in res["layers"].items():
            out[k] = (pct(v, 50), f"median of {len(v)} traced passes")
        for c in CORE_CALLS:
            it = res["items"].get(c)
            if it and it["lat_ms"]:
                out[f"{c}.ns_per_row"] = (pct(it["lat_ms"], 50) * 1e6 / it["rows"], "")
        tw = [x for x, t in zip(res["pass_wall_s"], res["pass_traced"]) if t]
        out["trace.overhead_frac"] = (pct(tw, 50) / wall - 1, "traced / untraced wall - 1")
        out["oracle.duck_s"] = (duck_s, "DuckDB, 1 thread")
    return out


def self_times(trace_path, top=12):
    """Self time (span minus its children) summed per span name."""
    with open(trace_path) as f:
        spans = json.load(f)
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    agg = {}
    for s in spans:
        key = s["name"] if s["name"] in ("pass", "construct", "action", "optimize", "plan",
                                         "micro_batch") else "item"
        agg[key] = agg.get(key, 0) + s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
    return sorted(agg.items(), key=lambda kv: -kv[1])[:top]


def run(args):
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "src/main/scala/graft"))
            and os.path.isfile(os.path.join(root, "perfbench/build.sbt"))):
        die("run from the root of a checkout of the repository (src/main/scala/graft missing)")
    cp = classpath(root)
    run_dir = os.path.join(root, ".bench_run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out, scratch = (os.path.join(run_dir, d) for d in ("data", "out", "scratch"))
    for d in (out, scratch + "/tmp"):
        os.makedirs(d)
    try:
        gen_s = generate(args.workload, args.seed, data)
        w = WORKLOADS[args.workload]
        jargs = dict(workload=args.workload, data=data, out=out, scratch=scratch,
                     seconds=args.seconds, trace=args.trace, cpus=os.cpu_count(),
                     warmups=w["warmups"], rows=w["rows"],
                     **{"min-passes": max(w["min_passes"], 2 if args.trace else 1)})
        code = run_jvm(cp, jargs, os.path.join(run_dir, "jvm.log"))
        res_path = os.path.join(out, "result.json")
        if code != 0 or not os.path.exists(res_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            die(f"driver JVM failed (exit {code})", 1)
        with open(res_path) as f:
            res = json.load(f)

        import oracle
        if args.workload == "core_scale":
            oracles = {k: v for k, v in oracle.CORE_ORACLES.items() if k in res["items"]}
        else:
            with open(os.path.join(out, "oracle_sql.json")) as f:
                oracles = json.load(f)
        con = oracle.connect(scratch + "/tmp", 1 if args.trace else os.cpu_count())
        verdicts, duck_s = oracle.check(con, args.workload, data,
                                        os.path.join(out, "check"), oracles)
        con.close()
        attempted, failed, bad = account(res, verdicts)
        m = metrics(args.workload, res, gen_s, args.trace, duck_s, len(res["items"]))
        m["failed_frac"] = (failed / attempted, f"{failed}/{attempted}")

        print(f"== perfbench {args.workload} seed={args.seed} cpus={os.cpu_count()} "
              f"items={len(res['items'])} passes={len(res['pass_wall_s'])} "
              f"trace={args.trace} (closed loop, 1 client, local[{os.cpu_count()}])")
        for name, why in sorted(bad.items()):
            print(f"FAILED {name}: {why}")
        shown = [n for n, _ in END_TO_END + PER_LAYER[:6]]
        units = dict(END_TO_END + PER_LAYER)
        for n in shown:
            print(f"{n:>22} {m[n][0]:14.4f} {units[n]:<8} {m[n][1]}")
        names = [n for n, _ in END_TO_END] if not args.trace else [n for n, _ in PER_LAYER]
        if args.trace:
            trace_src = os.path.join(out, "trace.json")
            for name, ns in self_times(trace_src):
                print(f"  self time {name:<12} {ns / 1e6:12.1f} ms")
            keep = os.path.join(root, ".bench_run", f"trace-{args.workload}-s{args.seed}.json")
            shutil.copy(trace_src, keep)
            print(f"trace: {keep}")
        report = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": float(m[n][0]) if n in m else 0.0, "unit": units[n]}
                        for n in names},
        }
        print(json.dumps(report))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        import selftest
        sys.exit(selftest.main())
    if not args.workload:
        ap.error("--workload is required")
    run(args)


if __name__ == "__main__":
    main()
