"""Benchmark entry point.

    python3 perfbench/run.py --workload cutout_read --seed 1 --seconds 5 --trace 0

Starts Spark at ``local[nproc]`` with a heap sized from ``MemTotal``,
stages the workload's inputs (twice; the median counts), warms the timed
paths, then runs the workload's cycle in a closed loop — one client,
each call issued after the previous one returned — until ``--seconds``
have passed, finishing the cycle in flight. Every result is checked
against numpy or DuckDB truth outside the timed region.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it carries
the detail (per-op-kind latencies under their own names, error rate,
host steal and load). See README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from collections import Counter
from contextlib import nullcontext

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAGE_REPS = 2
END_TO_END = {
    "setup_s": "s", "peak_rss_mb": "MB", "ops_per_min": "1/min",
    "data_mbps": "MB/s", "op_p50_ms": "ms", "op_tail_ms": "ms",
}
PHASE_METRICS = ("ops_per_min", "data_mbps", "op_p50_ms", "op_tail_ms")


def per_layer_units() -> dict:
    """Every per-layer metric of a traced run, with its unit."""
    from oracle import ROSTER
    from tracing import VOLUME_VERBS

    units = {"session.start_s": "s", "trace.ops": "count"}
    units.update({f"codecs.{k}": u for k, u in (
        ("decompress_s", "s"), ("decompress_mb", "MB"), ("decode_s", "s"),
        ("decode_calls", "count"), ("read_voxel_s", "s"), ("encode_s", "s"),
        ("compress_s", "s"))})
    units.update({f"volume.{v}_self_s": "s" for v in VOLUME_VERBS})
    units.update({"volume.lru_hit_ratio": "ratio", "volume.point_reads": "count"})
    units.update({f"fs.{k}": u for k, u in (
        ("calls", "count"), ("s", "s"), ("read_mb", "MB"), ("write_mb", "MB"),
        ("create_exclusive_calls", "count"), ("rename_calls", "count"))})
    units["catalog.info_loads"] = "count"
    units.update({"storage.mb_written_per_logical_mb": "ratio",
                  "storage.logical_mb": "MB", "storage.files_written": "count"})
    units.update({f"spark.{k}": u for k, u in (
        ("jobs_per_op", "ratio"), ("tasks", "count"), ("task_run_s", "s"),
        ("jvm_cpu_s", "s"), ("task_offcpu_s", "s"), ("gc_s", "s"),
        ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
        ("input_mb", "MB"), ("driver_s", "s"))})
    units.update({"operators.build_s": "s", "operators.execute_s": "s"})
    units.update({f"operators.{q}.s": "s" for q in ROSTER})
    units.update({"host.steal_s": "s", "host.load1_max": "load"})
    for k in PHASE_METRICS:
        units[f"untraced.{k}"] = END_TO_END[k]
        units[f"overhead.{k}"] = "ratio"
    units.update({"traced.setup_s": "s", "traced.peak_rss_mb": "MB"})
    return units


# -- host ---------------------------------------------------------------------

def host_env(work: str) -> None:
    """Size Spark to this host and keep every scratch file in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    heap_gb = max(1, min(48, int(kb * 0.2 / 2**20)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # no hsperfdata files under /tmp from the launcher or driver JVM
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })


def steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return kb / 1024


# -- the closed loop ----------------------------------------------------------

class Run:
    """Issues timed ops and records each op's latency, size and result.

    With a tracer, each op runs under the job tag
    ``<workload>:<label>:<seq>`` and an ``op.<kind>`` span."""

    def __init__(self, workload: str, tracer=None, spark=None, seq0: int = 0):
        self.workload, self.tracer, self.spark = workload, tracer, spark
        self.seq0 = seq0
        self.samples: list = []
        self.failed = 0
        self.cycles = 0
        self.steal = 0.0
        self.load1_max = load1()
        self.op_wall: dict = {}
        self.errors: list = []
        self.storage = Counter()

    def op(self, kind, fn, mb=0.0, label=None):
        label = label or kind
        tag = f"{self.workload}:{label}:{self.seq0 + len(self.samples)}"
        if self.tracer:
            self.spark.sparkContext.setJobDescription(tag)
            self.tracer.begin_op(f"op.{kind}")
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # a failed op is counted, the loop goes on
            out = None
            self.failed += 1
            self.errors.append(f"{label}: {type(exc).__name__}: {exc}"[:300])
        dt = time.perf_counter() - t0
        if self.tracer:
            self.tracer.end_op()
            self.spark.sparkContext.setJobDescription(None)
            self.op_wall[tag] = (w0, w0 + dt)
        self.samples.append({"kind": kind, "label": label, "s": dt,
                             "mb": mb, "ok": out is not None})
        self.load1_max = max(self.load1_max, load1())
        return out

    def check(self, ok: bool) -> None:
        """Record a result check; an op that raised already counted."""
        if self.samples[-1]["ok"] and not ok:
            self.failed += 1
            self.samples[-1]["ok"] = False
            self.errors.append(f"{self.samples[-1]['label']}: wrong result")

    def span(self, name):
        """A span inside the op in flight (no-op when untraced)."""
        return self.tracer.span(name) if self.tracer else nullcontext()

    def loop(self, wl, rng, seconds: float) -> None:
        steal0 = steal_s()
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            wl.cycle(self, rng)
            self.cycles += 1
        self.steal = steal_s() - steal0


def bulk_mbps(samples) -> float:
    """Logical MB over time of the bulk ops, robust to a stray slow op:
    ops of the same label and size form a group, and each group counts
    with its median time once per sample."""
    groups: dict = {}
    for x in samples:
        groups.setdefault((x["label"], round(x["mb"], 6)), []).append(x["s"])
    mb = sum(k[1] * len(v) for k, v in groups.items())
    return mb / sum(statistics.median(v) * len(v) for v in groups.values())


def phase_metrics(run: Run, wl) -> tuple:
    """Generic end-to-end metrics of one measured phase, plus detail."""
    s = run.samples
    main = [x["s"] for x in s if x["kind"] == wl.MAIN]
    bulk = [x for x in s if x["kind"] in wl.BULK]
    e2e = {
        "ops_per_min": 60 * len(s) / sum(x["s"] for x in s),
        "data_mbps": bulk_mbps(bulk),
        "op_p50_ms": 1e3 * statistics.median(main),
        "op_tail_ms": 1e3 * np.percentile(main, wl.TAIL or 100),
    }
    by_label = {}
    for x in s:
        by_label.setdefault(x["label"], []).append(x["s"])
    ops = {}
    for k, v in sorted(by_label.items()):
        ops[k] = {"n": len(v), "p50_ms": 1e3 * statistics.median(v),
                  "max_ms": 1e3 * max(v)}
        if len(v) >= 20:  # the highest percentile with ten samples beyond it
            q = int(100 * (1 - 10 / len(v)))
            ops[k][f"p{q}_ms"] = 1e3 * np.percentile(v, q)
    return e2e, {"ops": ops, "cycles": run.cycles,
                 "op_tail": f"p{wl.TAIL}" if wl.TAIL else "max",
                 "host.steal_s": run.steal, "host.load1_max": run.load1_max}


def trace_only(run: Run, session_s) -> dict:
    """Per-layer numbers that come from the harness rather than spans."""
    from oracle import ROSTER

    busy = Counter()
    for sp in run.tracer.spans:
        busy[sp.name] += sp.t1 - sp.t0
    out = {
        "session.start_s": session_s,
        "trace.ops": len(run.samples),
        "operators.build_s": busy["operators.build"],
        "operators.execute_s": busy["operators.execute"],
    }
    for name in ROSTER:
        v = [x["s"] for x in run.samples if x["label"] == name]
        out[f"operators.{name}.s"] = statistics.median(v) if v else 0.0
    st = run.storage
    out["storage.logical_mb"] = st["logical_mb"]
    out["storage.files_written"] = st["files"]
    out["storage.mb_written_per_logical_mb"] = (
        st["mb"] / st["logical_mb"] if st["logical_mb"] else 0.0)
    return out


# -- main -----------------------------------------------------------------------

def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t_start = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "cloud_volume_spark")):
        print(f"cloud_volume_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host_env(work)
    spark = None
    try:
        from pyspark import SparkContext

        from cloud_volume_spark import get_spark

        conf = {"spark.ui.showConsoleProgress": "false",
                # a fixed, pre-touched heap: the JVM's share of peak RSS
                # is then the heap plus what grows outside it, not G1's
                # timing-dependent heap expansion
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                    f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"}
        if args.trace:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": os.path.join(work, "events"),
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
            os.makedirs(conf["spark.eventLog.dir"])
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        jvm_pid = SparkContext._gateway.proc.pid

        # independent streams for the inputs and for the loop's choices
        inputs, choices = np.random.SeedSequence(args.seed).spawn(2)
        wl = WORKLOADS[args.workload](spark, work)
        stage_s = []
        for _ in range(STAGE_REPS):
            t0 = time.perf_counter()
            wl.stage(np.random.default_rng(inputs))
            stage_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(stage_s) + warmup_s

        runs: list = []

        def measure(traced: bool) -> Run:
            """One measured phase; a traced phase installs the span
            wrappers and tags its jobs for its length only."""
            from tracing import Tracer

            tracer = Tracer() if traced else None
            run = Run(args.workload, tracer, spark,
                      seq0=sum(len(r.samples) for r in runs))
            runs.append(run)
            if tracer:
                tracer.install()
            try:
                run.loop(wl, np.random.default_rng(choices), args.seconds)
            finally:
                if tracer:
                    tracer.restore()
            return run

        # untraced: one phase. Traced: the traced phase A sees the state an
        # untraced run measures (the first pass after warm-up) and gives the
        # per-layer numbers; the overhead is traced phase C over untraced
        # phase B, both after A, so both equally warm
        main_run = measure(bool(args.trace))
        if args.trace:
            plain, traced = measure(False), measure(True)
        rss = {"driver": hwm_mb(os.getpid()), "jvm": hwm_mb(jvm_pid)}
        peak = rss["driver"] + rss["jvm"]
        self_check = wl.corrupted_is_caught()
        stored = getattr(wl, "stored_ratio", None)
        stop_spark(spark)
        spark = None

        e2e, detail = phase_metrics(main_run, wl)
        e2e.update(setup_s=setup_s, peak_rss_mb=peak)
        attempted = sum(len(r.samples) for r in runs)
        failed = sum(r.failed for r in runs)
        detail.update(
            workload=args.workload, seed=args.seed, session_s=session_s,
            stage_s=stage_s, warmup_s=warmup_s, self_check_caught=self_check,
            peak_rss_mb=rss, stored_bytes_per_logical_byte=stored,
            error_rate=failed / attempted,
            errors=[e for r in runs for e in r.errors][:5])
        if args.trace:
            from tracing import find_event_log, spark_layer

            metrics = main_run.tracer.layer_metrics()
            metrics.update(spark_layer(
                find_event_log(conf["spark.eventLog.dir"]), main_run.op_wall))
            metrics.update(trace_only(main_run, session_s))
            metrics["host.steal_s"] = detail["host.steal_s"]
            metrics["host.load1_max"] = detail["host.load1_max"]
            b_e2e, _ = phase_metrics(plain, wl)
            c_e2e, _ = phase_metrics(traced, wl)
            for k in PHASE_METRICS:
                metrics[f"untraced.{k}"] = b_e2e[k]
                metrics[f"overhead.{k}"] = c_e2e[k] / b_e2e[k]
            metrics["traced.setup_s"] = setup_s
            metrics["traced.peak_rss_mb"] = peak
            units = per_layer_units()
        else:
            metrics = e2e
            units = END_TO_END
        if set(metrics) != set(units):
            raise RuntimeError(f"metric set mismatch: {sorted(set(metrics) ^ set(units))}")
        print(json.dumps({"detail": detail}, default=float))
        print(json.dumps({
            "correct": bool(self_check and failed == 0),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in sorted(metrics.items())},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(f"total {time.perf_counter() - t_start:.1f} s", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
