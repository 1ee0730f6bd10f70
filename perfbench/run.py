"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 1 --trace 0

Run from the root of a source checkout. The workload's inputs come from
``--seed`` alone. Set-up builds the Spark session, generates the inputs
and populates the stores, then runs a small warm-up migration; the
input set-up and the warm-up run three times each and ``setup_s``
takes the median of each. Passes over the workload's operations then
run back to back until ``--seconds`` have elapsed (at least one). Each
operation's output is checked against what the generator says to
expect; a check runs after its operation's timer stops. Operations that
fail through a known defect of the package are not part of a pass: they
run once afterwards, untimed, and a ``KNOWN DEFECT`` line reports their
expected and actual result.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first runs
the same arguments untraced in a child process (its error output is
shown if it fails), then runs them traced: spans with a Spark job group
each, Spark's event log, and timers around the demo clients and the
user transform. It prints the per-layer metrics and the tracing
overhead (traced minus untraced ``run_s``). The names and units of both
sets of metrics are read from ``BENCHMARK.json``.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

#: input sizes, chosen so one run (set-up, warm-up, one timed pass) takes
#: 35-60 s on a 4-core box; see perfbench/README.md
SIZES = {
    "migrate": {"n": 3000},
    "curate": {"n_docs": 400, "n_vecs": 800, "n_queries": 40},
}
SETUP_REPEATS = 3
WARMUP_REPEATS = 3
DRIVER_MEM = "2g"
#: an untraced baseline run's set-up and teardown, on top of its passes
CHILD_ALLOWANCE_S = 240


def _units(kind: str) -> dict[str, str]:
    """name -> unit of the ``kind`` metrics listed in BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def _process_age() -> float:
    """Seconds since this process started (Linux ``/proc``)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4


def _session(work: Path, cpus: int, trace: bool):
    from vectordb_migrator_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop Spark, then end its JVM and wait for it: the gateway JVM
    exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _workload(name: str):
    from perfbench import workloads

    cls = {"migrate": workloads.Migrate, "curate": workloads.Curate}[name]
    return cls(**SIZES[name])


class Pass:
    def __init__(self):
        self.seconds = 0.0
        self.cpu = 0.0
        self.rows = 0
        self.ops: list[tuple[str, int, str | None]] = []  # name, rows, failure
        self.op_seconds: dict[str, float] = {}

    @property
    def failed(self) -> int:
        return sum(1 for _, _, err in self.ops if err)


def run_pass(workload, ctx, tree) -> Pass:
    p = Pass()
    for name, op in workload.ops(ctx):
        before = tree.snapshot()
        t = time.perf_counter()
        try:
            check = op()
        except Exception as exc:  # an operation that raises is a failed one
            p.seconds += time.perf_counter() - t
            p.cpu += tree.cpu_since(before)
            msg = "".join(traceback.format_exception_only(exc)).strip().splitlines()
            p.ops.append((name, 0, f"raised {msg[-1] if msg else exc!r}"))
            continue
        p.op_seconds[name] = time.perf_counter() - t
        p.seconds += p.op_seconds[name]
        p.cpu += tree.cpu_since(before)
        try:
            rows, err = check()
        except Exception as exc:
            rows, err = 0, f"check raised {exc!r}"
        p.rows += rows
        p.ops.append((name, rows, err))
    return p


def run_known_defects(workload, ctx) -> list[str]:
    """Run the workload's known-defect probes once, untimed and untraced,
    after the timed passes; one line each on whether the defect shows.
    They are not operations of the workload: the run's ``attempted``,
    ``failed`` and metrics leave them out."""
    ctx.tracer = ctx.trace_dir = None
    ctx.pass_no = 0
    lines = []
    for name, op in workload.known_defects(ctx):
        try:
            rows, err = op()()
        except Exception as exc:
            msg = "".join(traceback.format_exception_only(exc)).strip().splitlines()
            rows, err = 0, f"raised {msg[-1] if msg else exc!r}"
        lines.append(f"KNOWN DEFECT {name}: " + (
            f"still fails: {err}" if err else
            f"no longer shows ({rows} rows, as expected); add it back to the timed pass"))
    shutil.rmtree(ctx.work, ignore_errors=True)
    return lines


def _untraced_run_s(args) -> float:
    """run_s of an untraced run with the same arguments, in a child
    process that ends before this one starts its own session."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", "0"]
    with subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True) as child:
        try:
            out, err = child.communicate(timeout=CHILD_ALLOWANCE_S + 2 * args.seconds)
        except subprocess.TimeoutExpired:
            child.terminate()  # lets it stop its Spark session and clean up
            try:
                out, err = child.communicate(timeout=60)
            except subprocess.TimeoutExpired:
                child.kill()
                out, err = child.communicate()
            raise RuntimeError("untraced baseline run timed out; its stderr ends:\n"
                               + "\n".join(err.splitlines()[-30:]))
    if child.returncode != 0:
        raise RuntimeError(f"untraced baseline run exited with {child.returncode}; "
                           "its stderr ends:\n" + "\n".join(err.splitlines()[-30:]))
    return json.loads(out.strip().splitlines()[-1])["metrics"]["run_s"]["value"]


def _named(metrics: dict[str, float], units: dict[str, str]) -> dict[str, float]:
    """``metrics`` in BENCHMARK.json's order; fails unless the names match."""
    if metrics.keys() != units.keys():
        raise RuntimeError(
            "metrics computed and listed in BENCHMARK.json differ: computed only "
            f"{sorted(metrics.keys() - units.keys())}, listed only "
            f"{sorted(units.keys() - metrics.keys())}")
    return {name: metrics[name] for name in units}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "vectordb_migrator_spark" / "__init__.py").is_file():
        print(f"no vectordb_migrator_spark package under {ROOT}: run from the "
              "root of a source checkout", file=sys.stderr)
        return 2
    # a terminated run still stops its Spark session and deletes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t = time.perf_counter()
    untraced_run_s = _untraced_run_s(args) if args.trace else None
    child_s = time.perf_counter() - t  # not part of this run's set-up

    cpus = _cpus()
    work = ROOT / ".perfbench_tmp" / f"{args.workload}-{os.getpid()}"
    for sub in ("tmp", "data", "trace"):
        (work / sub).mkdir(parents=True)
    # everything Spark, its workers and tempfile write lands under `work`
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # for every JVM, the launcher's too; no perf-data files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    # a bounded driver heap: with the default 8g the JVM's heap growth,
    # and with it peak RSS and run time, varied by a fifth run to run
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    spark = None
    try:
        t = time.perf_counter()
        spark = _session(work, cpus, bool(args.trace))
        session_s = time.perf_counter() - t
        session_age = _process_age() - child_s

        from perfbench.procstat import PeakRss, Tree
        from perfbench.workloads import Ctx, engine_warmup

        ctx = Ctx(spark=spark, cpus=cpus, seed=args.seed, work=str(work / "passes"))
        workload = _workload(args.workload)
        setup_times = []
        for i in range(SETUP_REPEATS):
            data = work / "data" / str(i)
            t = time.perf_counter()
            workload.setup(ctx, str(data))
            setup_times.append(time.perf_counter() - t)
            if i:  # every repeat rebuilds the inputs in a fresh directory
                shutil.rmtree(work / "data" / str(i - 1))
        warmup_times = []
        for i in range(WARMUP_REPEATS):
            t = time.perf_counter()
            engine_warmup(ctx, str(work / "warmup" / str(i)))
            warmup_times.append(time.perf_counter() - t)
        warmup_s = statistics.median(warmup_times)
        setup_s = session_age + statistics.median(setup_times) + warmup_s
        print(f"set-up: process age at session ready {session_age:.3f} s; input set-up "
              f"{', '.join(f'{x:.3f}' for x in setup_times)} s; warm-up "
              f"{', '.join(f'{x:.3f}' for x in warmup_times)} s")

        if args.trace:
            from perfbench.tracing import Tracer

            ctx.tracer = Tracer(spark.sparkContext)
            ctx.trace_dir = str(work / "trace")
        passes: list[Pass] = []
        start = time.perf_counter()
        tree = Tree()
        with PeakRss(tree) as rss:
            while not passes or time.perf_counter() - start < args.seconds:
                ctx.pass_no = len(passes) + 1
                passes.append(run_pass(workload, ctx, tree))
                shutil.rmtree(ctx.work, ignore_errors=True)
        tracer = ctx.tracer
        defects = run_known_defects(workload, ctx)
        _stop_session(spark)
        spark = None

        attempted = sum(len(p.ops) for p in passes)
        failed = sum(p.failed for p in passes)
        for n, p in enumerate(passes, 1):
            for name, rows, err in p.ops:
                if err:
                    print(f"FAILED {name} (pass {n}): {err}")
        for line in defects:
            print(line)
        run_s = statistics.median(p.seconds for p in passes)
        if args.trace:
            metrics = _per_layer(workload, tracer, passes, work, session_s, cpus)
            metrics["trace.overhead_s"] = run_s - untraced_run_s
            units = _units("per_layer")
        else:
            metrics = {
                "setup_s": setup_s,
                "run_s": run_s,
                "rows_per_s": statistics.median(p.rows / p.seconds for p in passes),
                "cpu_s": statistics.median(p.cpu for p in passes),
                "peak_rss_mb": rss.peak / 2**20,
                "verified_frac": (attempted - failed) / attempted,
            }
            units = _units("end_to_end")
        metrics = _named(metrics, units)
        print(f"workload {args.workload} seed {args.seed} cpus {cpus}: "
              f"{len(passes)} timed passes, {attempted} operations attempted, "
              f"{failed} failed (failed_frac {failed / attempted:.4f})")
        for name in passes[0].op_seconds:
            times = [p.op_seconds[name] for p in passes if name in p.op_seconds]
            print(f"  op {name}: median {statistics.median(times):.3f} s "
                  f"over {len(times)} passes")
        if args.trace:
            print(f"  traced run_s {run_s:.3f} s, untraced run_s {untraced_run_s:.3f} s")
        for name, value in metrics.items():
            print(f"{name} = {value:.6g} {units[name]}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_tmp").rmdir()
        except OSError:
            pass


def _per_layer(workload, tracer, passes, work: Path, session_s: float, cpus: int):
    from perfbench import report, tracing

    groups = tracing.fold_event_log(tracing.event_log_file(str(work / "eventlog")))
    kept: dict[str, int] = {}
    for p in passes:
        for name, rows, _ in p.ops:
            src = workload.source_of(name)
            if src:
                kept[src] = kept.get(src, 0) + rows
    return report.per_layer(
        tracer=tracer,
        groups=groups,
        records=tracing.read_records(str(work / "trace")),
        kept_by_source=kept,
        pass_times=[p.seconds for p in passes],
        session_s=session_s,
        cpus=cpus,
        transform_keys=workload.transform_keys,
    )


if __name__ == "__main__":
    sys.path[0] = str(ROOT)  # import the benchmark as a package, from the checkout
    sys.exit(main())
