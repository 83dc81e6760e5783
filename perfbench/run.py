"""The repository benchmark: seeded inputs, two closed-loop workloads
against the unmodified package, output checks, and every metric by
name with its unit. The last line of standard output is one JSON object
(``correct``, ``attempted``, ``failed``, ``metrics``).

    python3 perfbench/run.py --workload train --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --write-spec     # regenerate BENCHMARK.json

One client — this process — drives ``local[<cores>]``. Each run:

1. sets up ``SETUPS`` times (session start, input generation, load)
   and reports the median as ``setup_s``;
2. measures the workload for ``--seconds`` with tracing off, at least
   the workload's ``MIN_OPS`` operations. The first operation in a JVM
   is a cold one and is measured with the rest: see README.md for why
   the run has no warm-up pass;
3. with ``--trace 1`` instead: a small warm-up, the workload's unit
   untraced (the reference), then the measured phase with Spark's
   event log on, parsed into the per-layer table, and the unit again on
   ``local[1]`` for ``spark.speedup_vs_1core``.

Everything the run writes lives under ``.perfbench_run/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 7
# local[<half the CPUs>]: at these sizes an operation takes as long on 2
# cores as on 4, and the free CPUs take the JVM's compiler and collector
# threads and the Python workers, which halved the run-to-run spread
CORES = max(1, len(os.sched_getaffinity(0)) // 2)
MIN_FREE_DISK = 2 << 30  # bytes free before train's shuffle may spill


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=("train", "ingest"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--write-spec", action="store_true")
    args = p.parse_args(argv)
    if not args.write_spec and args.workload is None:
        p.error("--workload is required")
    return args


def hermetic_env(run_dir: str) -> None:
    """Point every writer at ``run_dir`` and the Python workers at the
    checkout. Must run before the JVM starts: the JVM and the workers
    inherit this environment."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "local"), os.path.join(run_dir, "eventlog")):
        os.makedirs(d, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # the package's own driver-heap knob: 2 GB holds these inputs many
    # times over, and the machine is shared
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.eventLog.enabled": "false",  # switched on for the traced phase
        "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
        "spark.eventLog.compress": "false",
    }
    # no hsperfdata file under /tmp: neither the JVM nor spark-submit's
    # launcher JVM writes outside run_dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = ["--driver-java-options", f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def start_session(cores: int):
    from spark_glove_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_event_log(on: bool) -> None:
    """The next session reads its defaults from the JVM's system
    properties, where spark-submit put ``PYSPARK_SUBMIT_ARGS``' confs."""
    from pyspark import SparkContext

    SparkContext._jvm.java.lang.System.setProperty(
        "spark.eventLog.enabled", "true" if on else "false"
    )


def attach(wl, spark) -> None:
    """Bind the workload to a (re)started session and load its inputs."""
    from telemetry import Spans

    wl.bind(spark)
    wl.spans = Spans(spark, wl.name)
    wl.load()


def restart(wl, spark, cores: int):
    """A fresh session for the next phase, Python workers started."""
    if spark is not None:
        spark.stop()
    spark = start_session(cores)
    attach(wl, spark)
    warm_workers(spark, cores)
    return spark


def warm_workers(spark, cores: int) -> None:
    """Start the Python workers of a fresh session (pandas and pyarrow
    imports) so the first measured operation does not pay for them."""
    spark.range(cores, numPartitions=cores).mapInPandas(
        lambda it: it, "id long"
    ).count()


def stop_jvm() -> None:
    """Stop the gateway JVM this process started and wait for it (its
    Python worker daemon exits with it)."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:
        pass  # the JVM is already gone
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_children(timeout_s: float = 30.0) -> None:
    """Wait until no process started by this one is left."""
    from telemetry import children

    deadline = time.monotonic() + timeout_s
    while children().get(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


class Phase:
    """One measured phase: the closed loop and what it saw."""

    def __init__(self, wl, seconds: float, mem, min_ops: int = 1):
        from telemetry import Spans

        wl.spans = self.spans = Spans(wl.spark, wl.name)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.wall0_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        wl.begin()
        while True:
            self.attempted += 1
            done = len(wl.ops)
            try:
                found = wl.op()
            except Exception:  # noqa: BLE001 — a failed op is counted
                found = [traceback.format_exc(limit=4)]
            if found:
                self.failed += 1
                self.problems += found
            mem.sample()
            if len(wl.ops) > done:
                log(f"op {self.attempted}: {wl.ops[-1]:.3f} s {wl.op_note()}")
            if time.perf_counter() - t0 >= seconds and self.attempted >= min_ops:
                break
        self.wall1_ms = time.time() * 1000.0
        run_checks = wl.run_problems()
        if run_checks:
            self.failed += 1
            self.problems += run_checks
        self.e2e = wl.end_to_end()
        self.layers = wl.per_layer()
        self.ops = len(wl.ops)
        log(f"phase: {self.attempted} ops in {(self.wall1_ms - self.wall0_ms) / 1000:.2f} s")


def run(args, run_dir: str) -> dict:
    from spec import END_TO_END, FRACTIONS, PER_LAYER
    from telemetry import MemoryWatch
    from workloads import WORKLOADS, median

    wl = WORKLOADS[args.workload](args.seed, run_dir)
    mem = MemoryWatch()
    setup_s, start_s = [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(CORES)
        start_s.append(time.perf_counter() - t0)
        if wl.name == "train":
            free = shutil.disk_usage(run_dir).free
            if free < MIN_FREE_DISK:
                raise RuntimeError(f"{free >> 20} MiB free; train needs 2 GiB")
        wl.generate()
        attach(wl, spark)
        setup_s.append(time.perf_counter() - t0)
        log(f"setup {setup_s[-1]:.2f} s (session {start_s[-1]:.2f} s)")
    wl.prepare_checks()
    if not args.trace:
        phase = Phase(wl, args.seconds, mem, wl.MIN_OPS)
        e2e = dict(phase.e2e)
        e2e["setup_s"] = (median(setup_s), "s")
        e2e["peak_rss_mb"] = (mem.peak_mb(), "MB")
        e2e["failed_frac"] = (phase.failed / phase.attempted, "ratio")
        e2e["throughput_per_s"] = e2e[wl.THROUGHPUT]
        report = {"end_to_end": e2e, "spans": phase.layers}
    else:
        import traced

        # the untraced reference: the workload's unit (an operation on
        # train, a short stream's median epoch on ingest), warm, in a
        # fresh session with its Python workers started
        wl.warm_up()
        spark = restart(wl, spark, CORES)
        wl.unit_op()
        ref = wl.last_unit_s
        set_event_log(True)
        spark = restart(wl, spark, CORES)
        app_id = spark.sparkContext.applicationId
        phase = Phase(wl, args.seconds, mem)
        spark.stop()
        set_event_log(False)
        layers = dict(phase.layers)
        layers["session.start_s"] = (median(start_s), "s")
        layers.update(
            traced.layer_metrics(wl, phase, os.path.join(run_dir, "eventlog"), app_id)
        )
        layers["trace.overhead_s"] = (wl.last_unit_s - ref, "s")
        seconds = {k: v[0] for k, v in {**phase.e2e, **layers}.items()}
        for frac, (num, parent) in FRACTIONS.items():
            if seconds.get(parent):
                layers[frac] = (seconds.get(num, 0.0) / seconds[parent], "ratio")
        spark = restart(wl, None, 1)
        wl.unit_op()
        layers["spark.speedup_vs_1core"] = (wl.last_unit_s / ref, "ratio")
        report = {"per_layer": layers}
    spark.stop()

    if args.trace:
        names, table = [(n, u) for n, u, _ in PER_LAYER], report["per_layer"]
    else:
        names, table = [(n, u) for n, u, _, _ in END_TO_END], report["end_to_end"]
    metrics = {
        n: {"value": float(table[n][0]) if n in table else 0.0, "unit": u}
        for n, u in names
    }
    return {
        "report": report,
        "problems": phase.problems,
        "digest": wl.digest(),
        "result": {
            "correct": phase.failed == 0,
            "attempted": phase.attempted,
            "failed": phase.failed,
            "metrics": metrics,
        },
    }


def print_report(args, out: dict) -> None:
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cores={CORES}")
    for section, table in out["report"].items():
        print(f"[{section}]")
        for name in sorted(table):
            value, unit, *note = table[name]
            extra = f"  ({note[0]})" if note else ""
            print(f"  {name:32s} {value:16.6f} {unit}{extra}")
    if out["digest"]:
        print(f"  losses: {out['digest']}")
    for p in out["problems"]:
        print(f"PROBLEM: {p}", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    sys.path.insert(0, HERE)
    if args.write_spec:
        from spec import benchmark_json

        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            f.write(benchmark_json())
        return 0
    if not os.path.isdir(os.path.join(ROOT, "spark_glove_spark")):
        print(f"perfbench: no spark_glove_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))  # paritycheck.compare
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        hermetic_env(run_dir)
        out = run(args, run_dir)
    finally:
        stop_jvm()
        wait_children()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it
    print_report(args, out)
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
