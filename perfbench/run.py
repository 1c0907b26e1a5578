"""sybil_spark benchmark: three workloads, end-to-end metrics untraced,
per-layer metrics from a traced run.

    python3 perfbench/run.py --workload sybil_queries --seed 1 \\
        --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1   # each in a fresh process

Run from the repository root. One run is one fresh process on
local[nproc]: inputs are generated from --seed into a fresh temp dir,
the session starts, the workload sets up and makes one untimed cold
pass over its op list, then the timed passes run and the outputs are
checked (untimed). `metric <name> <value> <unit>` lines go to stdout;
the last stdout line is the JSON result. With --trace 1 the timed
passes run untraced, traced, traced, untraced, and the JSON holds the
per-layer metrics (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s",
              "op_tail_s": "s", "peak_rss_mb": "MB"}


def process_start() -> float:
    """Wall-clock time this process started (from /proc, so the
    interpreter's own start-up counts as set-up)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return time.time() - (up - ticks / os.sysconf("SC_CLK_TCK"))


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def heap_peak_mb(spark) -> float:
    """Sum of the JVM heap pools' peak committed sizes: the part of
    the JVM's VmHWM that the garbage collector's sizing decides."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getCommitted()
               for p in mf.getMemoryPoolMXBeans()
               if p.getType().toString() == "Heap memory") / 1048576.0


def probe_par_s(threads: int) -> float:
    """Seconds for a fixed CPU loop on `threads` threads (sha256
    releases the GIL); a contended host reads higher."""
    buf = b"x" * (1 << 20)

    def work():
        h = hashlib.sha256()
        for _ in range(64):
            h.update(buf)

    def once():
        ts = [threading.Thread(target=work) for _ in range(threads)]
        t0 = time.perf_counter()
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        return time.perf_counter() - t0
    return min(once() for _ in range(3))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine's CPUs from /proc/stat:
    steal is time the hypervisor ran someone else on our CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def steal_frac(a: tuple[int, int], b: tuple[int, int]) -> float:
    return (b[0] - a[0]) / max(1, b[1] - a[1])


def tail(lat: list[float]) -> tuple[float, float, int]:
    """The highest order statistic with >= 10 samples beyond it. Below
    100 samples that statistic lies under p90 (at 12 samples it is the
    second fastest), so there the slowest op stands in.
    Returns (value, its percentile, sample count)."""
    s = sorted(lat)
    i = len(s) - 11 if len(s) >= 100 else len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s), len(s)


class Ctx:
    def __init__(self, seed, size, tmp, corrupt):
        self.seed, self.size, self.tmp = seed, size, tmp
        self.corrupt = corrupt
        self.spark = None


def start_session(name: str, tmp: str, cores: int):
    from sybil_spark.session import get_spark
    spark = get_spark(f"perfbench-{name}", master=f"local[{cores}]",
                      extra_conf={
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        # keep every job of a run in the status store for the trace
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_pass(w, spark, tr, pass_no: int):
    w.begin_pass(pass_no)
    recs, results = [], {}
    t0 = time.time()
    for op in w.ops:
        with tr.op(op.name, pass_no):
            s = time.time()
            try:
                results[op.name] = w.run_op(spark, tr, op, pass_no)
                ok = True
            except Exception as e:  # counted in fail_frac
                print(f"# op {op.name} failed: {e!r}"[:400], file=sys.stderr)
                ok = False
            lat = time.time() - s
        recs.append({"name": op.name, "kind": op.kind, "lat": lat,
                     "ok": ok, "pass": pass_no})
    wall = time.time() - t0
    if tr.active:  # untimed, but its jobs still need an owner
        spark.sparkContext.setJobGroup("end_pass", "end_pass")
    w.end_pass(spark)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return recs, results, wall, t0


def run_one(args) -> int:
    started = process_start()
    if not os.path.isfile(os.path.join(ROOT, "sybil_spark", "__init__.py")):
        print(f"perfbench: no sybil_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import spans
    import workloads as W

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-"
                       f"{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    meta = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "trace": args.trace, "size": args.size,
            "probe_par_s_before": probe_par_s(cores)}
    ticks0 = cpu_ticks()
    ctx = Ctx(args.seed, args.size, tmp, args.corrupt_check)
    w = W.WORKLOADS[args.workload](ctx)
    spark = None
    try:
        t = time.time()
        w.inputs()
        meta["inputs_s"] = time.time() - t
        t = time.time()
        spark = ctx.spark = start_session(args.workload, tmp, cores)
        session_s = time.time() - t
        t = time.time()
        w.setup(spark)
        meta["workload_setup_s"] = time.time() - t
        meta["cold_pass_s"] = run_pass(w, spark, W.NullTracer(), 0)[2]
        meta["warm_pass_s"] = [run_pass(w, spark, W.NullTracer(), -i)[2]
                               for i in range(1, w.WARM_PASSES + 1)]

        n = max(1, round(args.seconds / w.PASS_S))
        tracer = jobs_before = None
        if args.trace:
            # passes run untraced, traced, traced, untraced: the ABBA
            # order cancels the JVM's warm-up drift out of the overhead
            n = 4 * math.ceil(n / 4)
            tracer = spans.Tracer(spark)
        sc = spark.sparkContext
        # timed: the untraced passes' op records; attempted: every timed
        # op, for the failure count
        timed, attempted_recs, walls, traced_walls = [], [], [], []
        results, first_op = {}, None
        ticks1 = cpu_ticks()
        meta["pass_steal"] = []
        pass_no = 0

        def timed_pass(tr):
            nonlocal pass_no
            pass_no += 1
            if tracer and not tr.active:  # keep its jobs out of the trace
                sc.setJobGroup("untraced", "untraced")
            t = cpu_ticks()
            out = run_pass(w, spark, tr, pass_no)
            meta["pass_steal"].append(steal_frac(t, cpu_ticks()))
            return out

        for p in range(1, n + 1):
            if tracer and p % 4 in (2, 3):
                if jobs_before is None:
                    jobs_before = max(sc.statusTracker()
                                      .getJobIdsForGroup(None), default=-1)
                tracer.install()
                recs, results, wall, _ = timed_pass(tracer)
                tracer.uninstall()
                attempted_recs += recs
                traced_walls.append(wall)
                continue
            recs, results, wall, t0 = timed_pass(W.NullTracer())
            first_op = first_op or t0
            attempted_recs += recs
            walls.append(wall)
            timed += recs
        setup_s = first_op - started
        meta["steal_frac_timed"] = steal_frac(ticks1, cpu_ticks())
        if tracer:
            totals = tracer.collect(jobs_before)

        # peak memory of the workload itself, before the untimed
        # checks load their own inputs into this process
        jvm = sc._jvm.java.lang.ProcessHandle.current().pid()
        meta["rss_jvm_mb"], meta["rss_py_mb"] = vm_hwm_mb(jvm), vm_hwm_mb()
        meta["jvm_heap_peak_mb"] = heap_peak_mb(spark)
        bad = w.check(results)
        for k, why in bad.items():
            print(f"# check failed {k}: {why}"[:400], file=sys.stderr)
        lat = [r["lat"] for r in timed if r["kind"] != "read"]
        value, pct, count = tail(lat)
        attempted = len(attempted_recs)
        failed = min(attempted,
                     sum(not r["ok"] for r in attempted_recs) + len(bad))
        e2e = {
            "setup_s": setup_s,
            "pass_s": statistics.median(walls),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": value,
            "peak_rss_mb": meta["rss_jvm_mb"] + meta["rss_py_mb"],
        }
        extra = {"fail_frac": (failed / attempted, "ratio"),
                 **w.extra_metrics(timed)}
        meta.update(passes=n, untraced_passes=len(walls),
                    ops_per_pass=len(w.ops), session_start_s=session_s,
                    op_tail_percentile=pct, op_tail_samples=count)
        layer = {}
        if tracer:
            layer = tracer.layer_metrics(len(traced_walls))
            tw, uw = statistics.median(traced_walls), e2e["pass_s"]
            layer.update({
                "session.start_s": (session_s, "s"),
                "trace.pass_s": (tw, "s"),
                "trace.untraced_pass_s": (uw, "s"),
                "trace.overhead_s": (tw - uw, "s"),
                "trace.unattributed_jobs": (totals["unattributed_jobs"],
                                            "count"),
                "trace.attributed_jobs": (totals["attributed_jobs"],
                                          "count"),
            })
            out = os.path.join(ROOT, ".perfbench",
                               f"trace-{args.workload}-{args.seed}.json")
            with open(out, "w") as f:
                json.dump({"meta": meta, "ops": tracer.ops}, f)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    meta["probe_par_s_after"] = probe_par_s(cores)
    meta["steal_frac_run"] = steal_frac(ticks0, cpu_ticks())
    with open(os.path.join(ROOT, ".perfbench",
                           f"run-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump({"meta": meta, "ops": timed}, f)

    for k, v in e2e.items():
        print(f"metric {k} {v:.6f} {END_TO_END[k]}")
    for k, (v, unit) in extra.items():
        print(f"metric {k} {v:.6f} {unit}")
    print(f"# op_tail_s is p{pct:.1f} of {count} ops "
          f"({round(count * (1 - pct / 100))} beyond)")
    for k, (v, unit) in layer.items():
        print(f"layer {k} {v:.6f} {unit}")
    print("# meta " + json.dumps(meta))
    metrics = ({k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
               if args.trace else
               {k: {"value": v, "unit": END_TO_END[k]}
                for k, v in e2e.items()})
    print(json.dumps({"correct": not bad and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload, each in a fresh process; prints one summary
    JSON line {workload: result}."""
    import workloads as W
    out = {}
    for name in W.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        if args.corrupt_check:
            cmd.append("--corrupt-check")
        p = subprocess.run(cmd, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"{name}: {line}")
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stderr[-4000:])
            return p.returncode or 1
        out[name] = json.loads(lines[-1])
    print(json.dumps(out))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["sybil_queries", "ingest_digest", "corpus_ops",
                             "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: small inputs for the self-test")
    ap.add_argument("--corrupt-check", action="store_true",
                    help="perturb one expected result (self-test only)")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
