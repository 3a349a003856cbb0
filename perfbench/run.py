"""Benchmark runner for gcp_etl_spark.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. One run generates the workload's inputs
from ``--seed``, sets the program up twice, checks every
operation's output once, runs untimed warm-up passes, then measures
whole passes of operations for ``--seconds`` seconds with one
closed-loop client. The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Context (host, versions, sample counts,
tail percentiles) goes to standard error. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# workload -> kind; see README.md for why each was chosen
WORKLOADS = {"query_mix": "queries", "medallion_etl": "medallion"}
MEDALLION_ROWS = 60_000
MEDALLION_FILES = 4
SETUPS = 2  # cold set-ups per run; setup_s is their median
WARM_OPS = 3  # untimed operations, at least, between the check and timing

clock = time.perf_counter


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def host_sizing(work: str) -> dict[str, str]:
    """Size Spark to this host and keep every file it writes in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = int(fh.readline().split()[1])
    # JVM heap plus Python workers must fit beside other tenants
    heap_gb = max(1, min(2, mem_kb // (1024 * 1024) // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
        }
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # Fixed generation sizes: G1's heap growth follows GC pause times,
        # so host load moved peak RSS by up to 30 % between identical runs.
        # The young generation is fixed; the old one is touched only as
        # far as the program keeps data live.
        "spark.driver.extraJavaOptions": (
            "-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xms1g -Xmn512m "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
        ),
    }


def preload() -> None:
    """Import the benchmark's own toolchain, so no set-up pays for it."""
    import duckdb  # noqa: F401
    import numpy  # noqa: F401
    import pyarrow.parquet  # noqa: F401


class RssSampler:
    """Peak resident memory of this process tree, sampled from /proc."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        from stats import tree_rss_parts

        while not self._stop.is_set():
            parts = tree_rss_parts(os.getpid())
            rss = sum(parts.values())
            if rss > self.peak:
                self.peak, self.peak_parts = rss, parts
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.kind = WORKLOADS[args.workload]
        self.data = os.path.join(work, "data")
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.wl = None
        self.context: dict = {"workload": args.workload, "seed": args.seed}

    # -- phases ------------------------------------------------------------
    def generate(self) -> None:
        import gen

        t0 = clock()
        if self.kind == "queries":
            rows = gen.write_tables(self.data, self.args.seed)
            self.context["input_rows"] = rows
        else:
            gen.write_landing(self.data, self.args.seed, MEDALLION_ROWS, MEDALLION_FILES)
            self.context["input_rows"] = MEDALLION_ROWS
        self.context["input_mb"] = sum(
            os.path.getsize(os.path.join(self.data, f)) for f in os.listdir(self.data)
        ) / 1e6
        self.context["generate_s"] = clock() - t0

    def make_workload(self, specs):
        import workloads

        if self.kind == "medallion":
            landing = sorted(os.path.join(self.data, f) for f in os.listdir(self.data))
            return workloads.MedallionWorkload(
                landing, MEDALLION_ROWS, os.path.join(self.work, "ops")
            )
        return workloads.QueryWorkload(workloads.QUERY_MIX, specs, self.data)

    def setup_once(self, conf: dict[str, str]) -> dict[str, float]:
        """One set-up in a process that has not yet imported the program:
        package import and session start (with the JVM launch), registry
        import."""
        t0 = clock()
        from gcp_etl_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.args.workload}", extra_conf=conf)
        t1 = clock()
        from gcp_etl_spark.queries import load_all

        specs = load_all()
        t2 = clock()
        self.wl = self.make_workload(specs)
        return {"setup": t2 - t0, "get_spark": t1 - t0, "load_all": t2 - t1}

    def setup(self, conf: dict[str, str]) -> dict[str, list[float]]:
        """Set the program up ``SETUPS`` times, each cold: first in fresh
        child processes that exit after it, last in this process, which
        then runs the workload. ``setup_s`` is their median."""
        samples = []
        for _ in range(SETUPS - 1):
            cmd = [
                sys.executable,
                os.path.abspath(__file__),
                *("--workload", self.args.workload, "--seed", str(self.args.seed)),
                *("--seconds", "0", "--setup-probe", self.work),
            ]
            out = subprocess.run(
                cmd, stdout=subprocess.PIPE, text=True, check=True, timeout=170
            ).stdout
            samples.append(json.loads(out.strip().splitlines()[-1]))
        samples.append(self.setup_once(conf))
        times = {k: [s[k] for s in samples] for k in samples[0]}
        self.context["setups_s"] = times
        self.context["master"] = self.spark.sparkContext.master
        return times

    def op(self, name: str, tracer=None) -> bool:
        self.attempted += 1
        try:
            self.wl.run(self.spark, name, tracer=tracer)
            return True
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.failed += 1
            log(f"operation {name} raised:\n{traceback.format_exc(limit=8)}")
            return False

    def check(self) -> None:
        """Every operation once, output compared with the oracle. This is
        each operation's first, JIT-cold execution in this process."""
        took = self.context["check_s"] = {}
        for name in self.wl.names:
            self.attempted += 1
            t0 = clock()
            try:
                errs = self.wl.check(self.spark, name)
            except Exception:  # noqa: BLE001 - counted as a failed check
                errs = [traceback.format_exc(limit=8)]
            took[name] = clock() - t0
            if errs:
                self.failed += 1
                log(f"check {name} failed: {errs}")

    def warm_up(self) -> None:
        """Untimed whole passes until at least ``WARM_OPS`` operations
        have run: JIT compilation is still settling after the check's
        first executions (the medallion job takes three more runs)."""
        done = 0
        while done < WARM_OPS:
            for name in self.wl.names:
                self.op(name)
            done += len(self.wl.names)

    def measure(self, seconds: float, rng, tracer=None, counters=None):
        """Whole seeded-order passes until ``seconds`` have elapsed.

        With a tracer, passes alternate untraced and traced (at least
        one of each), so warm-up drift reaches both alike. Returns
        ([(name, latency, traced)], wall, per-traced-op engine counters).
        """
        from stats import cpu_times

        lat, per_op, steal = [], [], []
        passes = 0
        t_start = clock()
        while passes < (2 if tracer else 1) or clock() - t_start < seconds:
            traced = tracer is not None and passes % 2 == 1
            if traced:
                self.context["wrapped_functions"] = tracer.install()
            s0 = cpu_times()
            try:
                for i in rng.permutation(len(self.wl.names)):
                    name = self.wl.names[i]
                    t0 = clock()
                    if traced:
                        tracer.op = len(per_op)
                        mark = counters.mark()
                        ok = tracer.call("op", "op", self.op, name, tracer)
                        dt = clock() - t0
                        per_op.append(counters.since(mark))
                    else:
                        ok = self.op(name)
                        dt = clock() - t0
                    if ok:
                        lat.append((name, dt, traced))
            finally:
                if traced:
                    tracer.uninstall()
            s1 = cpu_times()
            steal.append((s1[0] - s0[0]) / max(1, s1[1] - s0[1]))
            passes += 1
        self.context["steal_per_pass"] = steal
        if not lat:
            raise RuntimeError("no timed operation succeeded")
        return lat, clock() - t_start, per_op

    # -- reports -----------------------------------------------------------
    def end_to_end(self, setups, lat, wall, peak_rss) -> dict:
        from statistics import median

        from stats import highest_supported_percentile, p90_if_supported, percentile

        xs = [d for _, d, _ in lat]
        by_op: dict[str, list[float]] = {}
        for name, d, _ in lat:
            by_op.setdefault(name, []).append(d)
        self.context["op_latencies_s"] = by_op
        self.context["timed_wall_s"] = wall
        q = highest_supported_percentile(xs)
        self.context.update(
            {
                "samples": len(xs),
                "op_p90_s": p90_if_supported(xs),
                "highest_supported_percentile": q,
                "highest_supported_percentile_s": percentile(xs, q) if q else None,
                "error_rate": self.failed / max(1, self.attempted),
            }
        )
        if self.kind == "medallion":
            self.context["storage_amp"] = self.wl.written()[0] / self.wl.landing_bytes
        return {
            "setup_s": (median(setups["setup"]), "s"),
            "ops_per_s": (len(xs) / wall, "1/s"),
            "op_p50_s": (median(xs), "s"),
            "peak_rss_mb": (peak_rss / 1e6, "MB"),
        }

    def per_layer(self, setups, tracer, lat, per_op) -> dict:
        import layers

        return layers.metrics(
            tracer=tracer,
            setups=setups,
            lat_plain=[(n, d) for n, d, traced in lat if not traced],
            lat_traced=[(n, d) for n, d, traced in lat if traced],
            per_op=per_op,
            cores=int(os.environ["SPARK_GRAFT_CPUS"]),
            written=self.wl.written(),
            landing_bytes=getattr(self.wl, "landing_bytes", 0),
        )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (it exits when its stdin
    closes), and wait until no process this run started is left."""
    from pyspark import SparkContext

    from stats import descendants

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def record_versions(ctx: dict) -> None:
    import duckdb
    import pyarrow
    import pyspark

    ctx["nproc"] = len(os.sched_getaffinity(0))
    ctx["versions"] = {
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def setup_probe(args) -> int:
    """Child process of ``Run.setup``: one cold set-up, timed; its times
    are the last line of standard output."""
    run = Run(args, args.setup_probe)
    conf = host_sizing(args.setup_probe)
    preload()
    try:
        times = run.setup_once(conf)
    finally:
        if run.wl is not None:
            run.wl.close()
        if run.spark is not None:
            stop_spark(run.spark)
    print(json.dumps(times), flush=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: one cold set-up over the inputs already in WORK, then exit
    ap.add_argument("--setup-probe", metavar="WORK", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    # the program and the oracle comparison come from this checkout
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    if args.setup_probe:
        return setup_probe(args)
    if importlib.util.find_spec("gcp_etl_spark") is None:
        raise ModuleNotFoundError("gcp_etl_spark is not in this checkout")

    import numpy as np
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    run = Run(args, work)
    try:
        # sized before the package is imported: it reads the sizing
        # environment at import time
        conf = host_sizing(work)
        run.context["load1_start"] = os.getloadavg()[0]
        run.generate()
        preload()
        setups = run.setup(conf)
        record_versions(run.context)
        run.check()
        run.warm_up()
        rng = np.random.default_rng(args.seed)
        if not args.trace:
            with RssSampler() as rss:
                lat, wall, _ = run.measure(args.seconds, rng)
            run.context["rss_at_peak_mb"] = {k: b / 1e6 for k, b in rss.peak_parts.items()}
            metrics = run.end_to_end(setups, lat, wall, rss.peak)
        else:
            from tracer import StageCounters, Tracer

            tracer = Tracer()
            counters = StageCounters(run.spark)
            tracer.job_counter = counters.jobs
            lat, _, per_op = run.measure(
                args.seconds, rng, tracer=tracer, counters=counters
            )
            metrics = run.per_layer(setups, tracer, lat, per_op)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        run.context["curated_format"] = getattr(run.wl, "curated_format", None)
        run.context["load1_end"] = os.getloadavg()[0]
    finally:
        if run.wl is not None:
            run.wl.close()
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(out_dir):
            os.rmdir(out_dir)
    log("context: " + json.dumps(run.context, default=str))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
