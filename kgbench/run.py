"""Benchmark of waka_spark: end-to-end metrics, or per-layer with --trace 1.

Run from the root of a checkout:

    python3 kgbench/run.py --workload kg_bulk --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Everything else goes to
standard error. Workloads and metrics are described in kgbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SETUPS = 5          # set-ups per run; setup_s is their median
DRIVER_MEM = "2g"   # small inputs; keeps the JVM well inside a shared host


def clear_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def process_tree(root: int) -> list[int]:
    """``root`` and its descendants (the driver JVM and Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(root: int) -> float:
    """Sum of VmHWM over the process tree."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def cpu_seconds(root: int) -> float:
    """User + system CPU time of the process tree, including reaped
    children (exited Python workers)."""
    ticks = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])   # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class Session:
    """The benchmark's SparkSession: its own local, event-log and work
    directories inside ``run_dir``; restartable for repeated set-ups."""

    def __init__(self, run_dir: str, trace: bool):
        self.conf = {
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            self.event_dir = os.path.join(run_dir, "events")
            os.makedirs(self.event_dir)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = None

    def start(self):
        from waka_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        n = cpus()
        self.spark = get_spark("kgbench", master=f"local[{n}]",
                               shuffle_partitions=n, extra_conf=self.conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, then end the JVM and wait for it: it exits when
        its standard input closes."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is None or proc is None:
            return
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    import workloads

    run_dir = os.path.join(ROOT, ".kgbench_run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    sess = Session(run_dir, bool(args.trace))
    try:
        wl = workloads.WORKLOADS[args.workload](args.seed, run_dir)
        setup_times = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            spark = sess.start()
            wl.setup(spark)
            setup_times.append(time.perf_counter() - t0)
        log(f"setup: {[round(t, 3) for t in setup_times]}")
        sc = spark.sparkContext
        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()

        checks_run = checks_failed = 0

        def gate(res) -> bool:
            nonlocal checks_run, checks_failed
            sc.setJobGroup("kgbench-bench", "checks")
            try:
                results = wl.checks(spark, res)
            finally:
                clear_group(sc)
            bad = [k for k, ok in results.items() if not ok]
            checks_run += len(results)
            checks_failed += len(bad)
            if bad:
                log(f"checks failed: {bad}")
            return not bad

        # the first pass warms the JVM and the Python workers; kg_bulk is
        # measured cold instead, as each spark-submit job starts cold
        i = 0
        if wl.warm_up or args.trace:
            gate(wl.run_pass(spark, i))
            i += 1
        if args.trace:
            metrics, i = traced(sess, wl, gate, i)
            ok = bool(metrics)
        else:
            passes = []
            first = i
            t_start = time.perf_counter()
            while i == first or time.perf_counter() - t_start < args.seconds:
                try:
                    cpu0 = cpu_seconds(jvm_pid)
                    res = wl.run_pass(spark, i)
                    res["cpu_s"] = cpu_seconds(jvm_pid) - cpu0
                    log(f"pass {i}: wall_s={res['wall_s']:.3f} "
                        f"cpu_s={res['cpu_s']:.2f}")
                    good = gate(res)
                except Exception:  # a failed pass is counted, not fatal
                    log(traceback.format_exc())
                    checks_failed += 1
                    good = False
                i += 1
                if good:
                    passes.append(res)
            ok = bool(passes)
            metrics = {}
            if passes:
                wall = statistics.median(p["wall_s"] for p in passes)
                metrics = {
                    "setup_s": (statistics.median(setup_times), "s"),
                    "wall_s": (wall, "s"),
                    "rows_per_s": (wl.rows / wall, "rows/s"),
                    "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
                }
        return {
            "correct": checks_failed == 0 and ok,
            "attempted": checks_run + i,
            "failed": checks_failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        sess.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if not os.listdir(parent):
            os.rmdir(parent)


def traced(sess, wl, gate, i: int) -> tuple[dict, int]:
    """A warm untraced pass, then a traced one: per-layer metrics, and
    their wall-time difference as the tracing overhead. Returns the
    metrics and the number of passes run so far."""
    from tracing import LAYERS, Tracer, parse_event_log

    spark = sess.spark
    sc = spark.sparkContext
    res = wl.run_pass(spark, i)
    gate(res)
    untraced = res["wall_s"]
    i += 1
    tracer = Tracer(sc, f"kgbench-t{i}")
    tracer.install()
    try:
        tracer.open("spark", "pass")
        res = wl.run_pass(spark, i)
        tracer.close_all()
    finally:
        tracer.uninstall()
        clear_group(sc)
    traced_wall = tracer.spans[0].end - tracer.spans[0].start
    gate(res)
    jobs = tracer.job_counts()
    sc.setJobGroup("kgbench-bench", "layer extras")
    extras = wl.layer_extras(spark, res)
    clear_group(sc)
    self_s = tracer.self_seconds()
    rss = peak_rss_mb(sc._jvm.java.lang.ProcessHandle.current().pid())
    app_id = sc.applicationId
    sess.stop()   # flushes the event log
    with open(os.path.join(sess.event_dir, app_id)) as fh:
        stats = parse_event_log(fh, tracer.tag + ":")

    mb = 2 ** 20
    out = {}
    for layer in LAYERS:
        st = stats.get(tracer.group(layer))
        n_jobs, n_stages = jobs[layer]
        out[f"{layer}.self_s"] = (self_s.get(layer, 0.0), "s")
        out[f"{layer}.jobs"] = (n_jobs, "count")
        out[f"{layer}.stages"] = (n_stages, "count")
        out[f"{layer}.shuffle_mb"] = (st.shuffle_bytes / mb if st else 0.0, "MB")

    def get(layer):
        return stats.get(tracer.group(layer))

    a = get("assembly")
    out["assembly.task_skew"] = (a.task_skew() if a else 0.0, "ratio")
    for layer in ("ner", "conflicts"):
        st = get(layer)
        out[f"{layer}.python_mb"] = (st.python_bytes / mb if st else 0.0, "MB")
    for layer in ("clustering", "rel_linking", "fusion"):
        st = get(layer)
        out[f"{layer}.broadcasts"] = (st.broadcasts if st else 0, "count")
    for layer in ("unionfind", "graph"):
        out[f"{layer}.rounds"] = (tracer.cuts.get(layer, 0), "count")
    d = get("dedup")
    cand = max(d.join_rows.values(), default=0) if d else 0
    out["dedup.candidate_rows"] = (cand, "count")
    pairs = extras.pop("dedup.pairs", 0)
    out["dedup.pair_yield"] = (pairs / cand if cand else 0.0, "ratio")
    units = {"linking.keep_ratio": "ratio", "checkpoint.mb_written": "MB",
             "checkpoint.stages_resumed": "count", "sinks.mb_written": "MB",
             "sinks.files": "count", "versioned.mb_written": "MB",
             "spark.write_amp": "ratio"}
    for k, u in units.items():
        out[k] = (extras.get(k, 0), u)
    every = list(stats.values())
    out["spark.jobs_total"] = (sum(j for j, _ in jobs.values()), "count")
    out["spark.broadcasts_total"] = (sum(s.broadcasts for s in every), "count")
    out["spark.spill_mb"] = (sum(s.spill_bytes for s in every) / mb, "MB")
    out["spark.executor_run_s"] = (sum(s.run_ms for s in every) / 1000, "s")
    out["spark.traced_wall_s"] = (traced_wall, "s")
    out["spark.untraced_wall_s"] = (untraced, "s")
    out["spark.trace_overhead_s"] = (traced_wall - untraced, "s")
    out["spark.peak_rss_mb"] = (rss, "MB")
    print_table(out)
    return out, i + 1


def print_table(metrics: dict) -> None:
    """Per-layer table on standard error, one row per layer."""
    from tracing import LAYERS

    cols = ["self_s", "jobs", "stages", "shuffle_mb"]
    log(f"{'layer':<12}" + "".join(f"{c:>12}" for c in cols) + "  extra")
    for layer in LAYERS:
        row = [metrics[f"{layer}.{c}"][0] for c in cols]
        extra = ", ".join(
            f"{k.split('.', 1)[1]}={v:.4g}" for k, (v, _) in metrics.items()
            if k.startswith(layer + ".") and k.split(".", 1)[1] not in cols)
        log(f"{layer:<12}" + "".join(f"{v:>12.4g}" for v in row) + f"  {extra}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "waka_spark")):
        log(f"kgbench: no waka_spark package under {ROOT}; "
            "run from the root of a checkout")
        return 2
    sys.path[:0] = [HERE, ROOT]
    # Python workers import waka_spark from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("WAKA_DRIVER_MEM", DRIVER_MEM)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"kgbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
