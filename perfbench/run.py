"""Seeded end-to-end benchmark of the KG engine.

    python3 perfbench/run.py --workload kg_fused --seed 1 --seconds 5 \
        --trace 0

Run from the repository root. One driver process on ``local[nproc]``
runs a closed loop: one pipeline job at a time, the next one starting
when the previous one finished. The seed only shapes the generated
inputs; the engine receives the inputs alone.

A run sets up (Spark session, then input generation and persist,
repeated), makes one cold first run, checks its output against an
independent reference, then repeats warm runs for ``--seconds``; every
warm output must equal the first. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced warm runs and reports the per-layer metrics (see
``perfbench/layers.py``). Everything the run writes goes under
``.bench_tmp/`` (removed at exit) and ``.bench_out/`` (span dumps).
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
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
MIN_WARM_RUNS = 2


def box_env() -> dict[str, str]:
    """Environment the engine runs under, derived from this machine.

    The session's default 24g driver heap exceeds small machines, so
    the heap is a quarter of RAM within [1g, 6g]. Workers need the
    repository root on their path; Spark's scratch and every temp file
    stay under the checkout.
    """
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    tmp = os.path.join(ROOT, ".bench_tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{max(1024, min(6144, mem_mb // 4))}m",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": os.path.join(tmp, "py"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # see start_spark
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }


def tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss(jvm_pid: int) -> tuple[float, list[float]]:
    """VmHWM in MB of the driver JVM and of each Python process under it
    (the worker daemon and its workers), largest first."""
    def hwm(pid: int) -> float:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    jvm, *rest = tree_pids(jvm_pid)
    return hwm(jvm), sorted((hwm(p) for p in rest), reverse=True)


def start_spark(cores: int, tmp: str):
    from ner_pytorch_spark.session import get_spark

    return get_spark(app_name="perfbench", cores=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file under /tmp: the run writes only in its checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def stop_spark(spark) -> None:
    """Stop the session; wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    children = tree_pids(proc.pid)[1:]
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(map(alive, children)) and time.monotonic() < deadline:
        time.sleep(0.1)


def alive(pid: int) -> bool:
    """``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Bench:
    """One benchmark process: set-up, first run, warm loop."""

    def __init__(self, args, env):
        from perfbench.workloads import WORKLOADS

        self.args, self.root = args, ROOT
        self.tmp = os.path.join(ROOT, ".bench_tmp")
        self.cores = int(env["SPARK_GRAFT_CPUS"])
        t0 = time.perf_counter()
        self.spark = start_spark(self.cores, env["TMPDIR"])
        self.session_s = time.perf_counter() - t0
        self.wl = WORKLOADS[args.workload](
            self.spark, args.seed, args.size,
            os.path.join(self.tmp, "work"), self.cores)
        self.tracer = None
        if args.trace:
            from perfbench.tracing import Tracer

            self.tracer = Tracer(self.spark)
        self.attempted = self.failed = 0
        self.checks: dict = {}

    # ------------------------------------------------------------ runs
    def setup(self) -> list[float]:
        gen, self.setup_spans = [], []
        for k in range(SETUP_REPEATS):
            if k:
                self.wl.release()
            t0 = time.perf_counter()
            if self.tracer:
                with self.tracer.span("datagen"):
                    self.wl.generate()
            else:
                self.wl.generate()
            gen.append(time.perf_counter() - t0)
            if self.tracer:
                self.setup_spans.append(self.tracer.resolve())
        return gen

    def one_run(self, traced: bool, check: bool = False):
        """Time one pipeline job → (seconds, result, spans or None).

        With ``check`` the output is also compared with the workload's
        reference, outside the timed region, into ``self.checks``.
        """
        from perfbench.tracing import engine_wrappers

        t0 = time.perf_counter()
        if traced:
            self.tracer.counters = {}
            with engine_wrappers(self.tracer, self.wl.stage_prefix), \
                    self.tracer.span(self.wl.root_span):
                result = self.wl.run()
        else:
            result = self.wl.run()
        secs = time.perf_counter() - t0
        spans = self.tracer.resolve() if traced else None
        if check:
            ok, self.checks = self.wl.check(result)
            self.failed += not ok
        self.wl.after_run()
        return secs, result, spans

    def loop(self) -> dict:
        """Cold first run (checked), then warm runs for ``--seconds``.

        A warm run whose output differs from the first run's counts as
        failed and its time is dropped. Traced processes alternate
        untraced and traced warm runs.
        """
        traced = bool(self.tracer)
        self.attempted += 1
        first_s, first, cold_spans = self.one_run(traced, check=True)
        warm = {False: [], True: []}
        warm_spans, counters, written = [], [], []
        deadline = time.perf_counter() + self.args.seconds
        k = 0
        while (time.perf_counter() < deadline
               or (len(warm[False]) < MIN_WARM_RUNS
                   and k < 3 * MIN_WARM_RUNS)):
            tr = traced and k % 2 == 1
            k += 1
            self.attempted += 1
            secs, result, spans = self.one_run(tr)
            if result != first:
                self.failed += 1
                continue
            warm[tr].append(secs)
            if tr:
                warm_spans.append(spans)
                counters.append(self.tracer.counters)
                written.append(self.wl.written_bytes)
        return {"first": first, "first_s": first_s,
                "warm": warm[False], "warm_traced": warm[True],
                "cold_spans": cold_spans, "warm_spans": warm_spans,
                "counters": counters, "written": written}


def end_to_end(bench: Bench, gen: list[float], out: dict) -> dict:
    wl = bench.wl
    return {
        "setup_s": (bench.session_s + statistics.median(gen), "s"),
        "first_run_s": (out["first_s"], "s"),
        "rows_per_s": (wl.size / statistics.median(out["warm"]), "rows/s"),
        "worker_rss_mb": (out["worker_rss_mb"], "MB"),
    }


def dump_spans(bench: Bench, out: dict) -> None:
    """Write the traced run's spans, kept in memory until now."""
    path = os.path.join(ROOT, ".bench_out", f"spans-{bench.args.workload}-"
                        f"seed{bench.args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"setup": bench.setup_spans, "cold": out["cold_spans"],
                   "warm": out["warm_spans"]}, fh, indent=1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None,
                    help="input rows (pages or docs); default per workload")
    args = ap.parse_args(argv)
    if args.size is not None and args.size < 1:
        ap.error("--size must be at least 1")

    if not os.path.isdir(os.path.join(ROOT, "ner_pytorch_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    env = box_env()
    os.environ.update(env)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    import tempfile

    tmp = os.path.join(ROOT, ".bench_tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d)
    tempfile.tempdir = os.path.join(tmp, "prep")
    os.makedirs(tempfile.tempdir)
    bench = None
    try:
        bench = Bench(args, env)
        gen = bench.setup()
        out = bench.loop()
        from pyspark import SparkContext

        jvm_mb, py_mb = peak_rss(SparkContext._gateway.proc.pid)
        # at most `cores` Python workers run at once; idle extras the
        # worker pool keeps are not memory the job needs. The JVM's
        # share is bounded by its configured heap and moves with GC
        # sizing by a third from one process to the next.
        out["worker_rss_mb"] = sum(py_mb[:bench.cores])
        out["rss_mb"] = jvm_mb + out["worker_rss_mb"]
        out["rss_split"] = {"jvm_mb": round(jvm_mb),
                            "python_mb": [round(m) for m in py_mb]}
        if args.trace:
            from perfbench.layers import per_layer

            metrics = per_layer(bench, out)
            dump_spans(bench, out)
        else:
            metrics = end_to_end(bench, gen, out)
    finally:
        if bench is not None:
            stop_spark(bench.spark)
        shutil.rmtree(tmp, ignore_errors=True)

    print("perfbench env: " + json.dumps(
        {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM",
                             "SPARK_LOCAL_DIRS", "TMPDIR", "PYTHONPATH")}))
    print("perfbench run: " + json.dumps({
        "workload": args.workload, "seed": args.seed,
        "size": bench.wl.size, "unit": bench.wl.unit,
        "warm_runs": len(out["warm"]), "checks": bench.checks,
        "rss": out["rss_split"]}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
