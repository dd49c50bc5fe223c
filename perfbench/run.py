#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_tpch --seed 1 --seconds 20 --trace 0

Run from the repository root. The program under test is the
``skopje_spark`` package of the tree this file sits in; the run
generates its inputs from ``--seed`` (see ``fixture.py``), sets the
workload up, runs unmeasured warm-up passes (the first one's outputs are
checked against DuckDB and fix the reference digests), then measures
passes until ``--seconds`` of pass time have accrued (at least three),
checking every pass's outputs against the first outside the timed
section.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is ``{"info": ...}`` with the host (nproc, loadavg,
steal%), sample counts, tail percentiles and ``failed_frac``.
Everything the run writes stays under ``.perfbench_work/`` in the
repository root.
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

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")

# Input scale (1.0 = the sf0.1 row counts), sized so a pass takes 4-7 s
# on a 4-core host and a whole run under a minute.
SCALE = 0.1
SETUP_REPS = 3
# Passes keep speeding up for about six passes (JIT, Python workers),
# and how fast varies from run to run: later passes, and the median of
# several, vary less between runs.
WARMUP_PASSES = 2
MIN_PASSES = 3
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "lookup_ms_p50": "ms",
    "commit_ms_p50": "ms",
    "ops_per_s": "1/s",
}
PER_LAYER = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.stage_s": "s",
    "exec.jvm_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.task_skew": "ratio",
    "exec.python_cpu_s": "s",
    "exec.gap_s": "s",
    "exec.core_util": "ratio",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "sources.files_read": "count",
    "sinks.write_s": "s",
    "sinks.bytes_written_mb": "MB",
    "sinks.files_written": "count",
    "versioned.files_scanned": "count",
    "versioned.prune_ratio": "ratio",
    "versioned.segments_opened_ratio": "ratio",
    "versioned.manifest_kb": "KB",
    "versioned.files_live": "count",
    "operators.dedup_kept_ratio": "ratio",
    "trace.overhead_s": "s",
}
# averaged per occurrence; every other counter is a per-pass total
PER_READ = ("versioned.files_scanned", "versioned.prune_ratio",
            "versioned.segments_opened_ratio", "versioned.manifest_kb",
            "versioned.files_live")


def pin_environment(nproc: int) -> None:
    """Make the run hermetic: workers import the tree under test, the
    session fits a 15 GB host, and temp files stay in the work dir."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # like the driver JVM (start_spark), the spark-submit launcher JVM
    # writes no hsperfdata file outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, REPO)


def fingerprint(sf_dir: str) -> str:
    """Short digest of the generated input files."""
    import hashlib

    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 < q < 1) of ``xs``."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def start_spark(trace: bool):
    from skopje_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
            f"-Dderby.system.home={os.path.join(WORK, 'derby')} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def measure(wl, seconds: float, tracer=None):
    """Measured passes until ``seconds`` of pass time have accrued, and
    at least ``MIN_PASSES``. With ``tracer``, passes alternate untraced /
    traced (at least two of each) so the traced run reports its own
    overhead; per-layer counters and event-log windows come from the
    traced passes only."""
    import procstat

    passes, cpus, traced = [], [], []
    windows, py_cpu, out_files = [], 0.0, (0, 0.0)

    def enough() -> bool:
        if sum(passes) + sum(traced) < seconds:
            return False
        if tracer is None:
            return len(passes) >= MIN_PASSES
        return min(len(passes), len(traced)) >= 2

    while not enough():
        on = tracer is not None and len(traced) < len(passes)
        if tracer is not None:
            tracer.enabled = on
            tracer.pass_no = len(passes) + len(traced)
        c0, p0, w0 = procstat.tree_cpu_s(), procstat.python_worker_cpu_s(), time.time()
        h0, n_look = procstat.host_cpu_ticks(), len(wl.lookup_ms)
        took = wl.run_pass()
        cpu = procstat.tree_cpu_s() - c0
        steal = procstat.steal_pct(h0, procstat.host_cpu_ticks())
        log(f"pass {len(passes) + len(traced)} traced={on} {took:.2f}s cpu {cpu:.1f}s "
            f"steal {steal}% lookups_ms {[round(x) for x in wl.lookup_ms[n_look:]]}")
        if on:
            traced.append(took)
            windows.append((w0, time.time()))
            py_cpu += procstat.python_worker_cpu_s() - p0
            f, b = written_since(wl.out, w0)
            out_files = (out_files[0] + f, out_files[1] + b)
            cpus.append(cpu)
        else:
            passes.append(took)
            if tracer is None:
                cpus.append(cpu)
        if tracer is not None:
            tracer.enabled = False
        wl.verify(oracle=False)
    return passes, cpus, traced, windows, py_cpu, out_files


def written_since(root: str, t0: float) -> tuple[int, float]:
    n, size = 0, 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except OSError:
                continue
            if st.st_mtime >= t0:
                n += 1
                size += st.st_size
    return n, size / 2**20


def layer_metrics(wl, tracer, traced, untraced, windows, py_cpu, out_files, cpus, nproc):
    from spans import event_log_metrics

    n = max(len(traced), 1)
    wall = statistics.median(traced)
    ev = event_log_metrics(os.path.join(WORK, "eventlog"), windows)
    c = dict(tracer.counts)
    occ = tracer.occurrences
    out = {k: 0.0 for k in PER_LAYER}
    for k, v in c.items():
        if k in out:
            out[k] = v / max(occ.get(k, 1), 1) if k in PER_READ else v / n
    out["queries.build_jobs"] = sum(
        s["jobs"] for s in tracer.spans if s["phase"] == "build") / n
    out.update({
        "exec.jobs": ev["jobs"] / n,
        "exec.stages": ev["stages"] / n,
        "exec.tasks": ev["tasks"] / n,
        "exec.stage_s": ev["stage_s"] / n,
        "exec.jvm_cpu_s": ev["cpu_ns"] / 1e9 / n,
        "exec.gc_s": ev["gc_ms"] / 1e3 / n,
        "exec.shuffle_read_mb": ev["shuffle_read"] / 2**20 / n,
        "exec.shuffle_write_mb": ev["shuffle_write"] / 2**20 / n,
        "exec.spill_mb": ev["spill"] / 2**20 / n,
        "exec.task_skew": ev["task_skew"],
        "exec.python_cpu_s": py_cpu / n,
        "exec.gap_s": sum(traced) / n - ev["stage_s"] / n,
        "exec.core_util": sum(cpus) / (sum(traced) * nproc),
        "sources.input_mb": ev["input_bytes"] / 2**20 / n,
        "sources.input_rows": ev["input_rows"] / n,
        "sinks.files_written": out_files[0] / n,
        "sinks.bytes_written_mb": out_files[1] / n,
        "operators.dedup_kept_ratio": wl.dedup_kept_ratio,
        "trace.overhead_s": wall - statistics.median(untraced),
    })
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "skopje_spark")):
        print(f"perfbench: no skopje_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    nproc = len(os.sched_getaffinity(0))
    shutil.rmtree(WORK, ignore_errors=True)
    pin_environment(nproc)

    import fixture
    import procstat
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]

    t0 = time.perf_counter()
    spark = start_spark(bool(args.trace))
    try:
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, cls.name, enabled=False)
        prep = []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            sf_dir = os.path.join(WORK, f"fixture{i}")
            fixture.generate(sf_dir, seed=args.seed, scale=SCALE)
            wl = cls(spark, sf_dir, WORK, args.seed, tracer)
            wl.prepare()
            prep.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(os.path.join(WORK, f"fixture{i - 1}"))
        setup_s = session_s + statistics.median(prep)
        inputs = fingerprint(sf_dir)
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}s, prepare {prep})")

        # warm-up, unmeasured: the first pass's outputs fix the reference
        # digests and are checked against DuckDB
        for i in range(WARMUP_PASSES):
            log(f"warm-up pass {i} {wl.run_pass():.2f}s")
            if i == 0:
                wl.verify(oracle=True)
                log("first pass checked")
        wl.commit_ms.clear()
        wl.lookup_ms.clear()
        wl.op_ms.clear()
        wl.rows_touched = 0
        base_attempted = wl.attempted

        ticks0, load0 = procstat.host_cpu_ticks(), procstat.loadavg()
        passes, cpus, traced, windows, py_cpu, out_files = measure(
            wl, args.seconds, tracer if args.trace else None)
        steal = procstat.steal_pct(ticks0, procstat.host_cpu_ticks())
        peak_rss = procstat.tree_peak_rss_mb()
        rss_roles = procstat.peak_rss_by_role()
        attempted = wl.attempted - base_attempted
        failed, errors = wl.failed, list(wl.errors)
        rows_per_pass = wl.rows_per_pass(len(passes))
    finally:
        stop_spark(spark)

    pass_s = statistics.median(passes)
    timed = sum(passes) + sum(traced)
    info = {
        "workload": cls.name, "seed": args.seed, "scale": SCALE, "inputs": inputs,
        "nproc": nproc, "loadavg_start": load0,
        "loadavg_end": procstat.loadavg(), "steal_pct": steal,
        "passes": len(passes), "pass_s_max": max(passes),
        "lookups": len(wl.lookup_ms), "commits": len(wl.commit_ms),
        "lookup_ms_p95": quantile(wl.lookup_ms, 0.95),
        "commit_ms_p90": quantile(wl.commit_ms, 0.9),
        "failed_frac": failed / max(attempted, 1), "errors": errors,
        "peak_rss_mb": rss_roles,
        "op_ms_p50": {k: quantile(v, 0.5) for k, v in wl.op_ms.items()},
    }
    if args.trace:
        values = layer_metrics(wl, tracer, traced, passes, windows, py_cpu,
                               out_files, cpus, nproc)
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "rows_per_s": rows_per_pass / pass_s,
            "cpu_s": statistics.median(cpus),
            "peak_rss_mb": peak_rss,
            "lookup_ms_p50": quantile(wl.lookup_ms, 0.5),
            "commit_ms_p50": quantile(wl.commit_ms, 0.5),
            "ops_per_s": attempted / timed,
        }
        units = END_TO_END
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    shutil.rmtree(WORK, ignore_errors=True)
    if args.trace:  # kept until the next run clears the work dir
        os.makedirs(WORK)
        tracer.dump(os.path.join(WORK, "spans.json"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
