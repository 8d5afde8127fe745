"""Lakehouse benchmark: times the paper's own jobs through real file IO.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): ``ingest`` runs raw CSV -> staging once per
daily drop; ``curate`` runs three incremental trajectory windows and the
monthly voyage summary over a staging table made in set-up.

One process, one client, closed loop: each op starts when the previous one
ends. Spark runs ``local[<cores>]`` with as many shuffle partitions as
cores, one session (and JVM) per process. Set-up (session start, input
synthesis, warm-up ops) is timed as ``setup_s``; then ops run until
``--seconds`` have elapsed. ``--trace 1`` alternates untraced
passes, which read Spark and JVM counters, with traced passes, which
record spans around each layer call, then times the catalog reads
(reads.py); the spans go to
``.bench_out/spans-<workload>-seed<seed>.json``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end with ``--trace 0``, per-layer with
``--trace 1``). ``--smoke`` runs on tiny inputs, for a self-test.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "noaa_ais_glue_lakehouse_spark"


def configure(work: str) -> None:
    """Point Spark at the checkout and size it to this host."""
    cores = len(os.sched_getaffinity(0))
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    heap_mb = max(1024, min(2048, host_mb // 4))
    # a fixed, pre-touched heap: peak RSS is then the heap plus the JVM's
    # native footprint, not an accident of when G1 chose to grow the heap
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms{heap_mb}m -XX:+AlwaysPreTouch"
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(
        TZ="UTC",  # collected timestamps compare as UTC wall times
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_SHUFFLE_PARTITIONS=str(cores),
        SPARK_DRIVER_MEMORY=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options {shlex.quote(java_opts)} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    time.tzset()
    sys.path.insert(0, ROOT)


def per_pass(samples: dict[str, list[float]], kinds: dict[str, int]) -> float:
    """A pass's cost from per-kind medians: sum of count x median."""
    return sum(n * statistics.median(samples[k]) for k, n in kinds.items())


class Runner:
    def __init__(self, workload, engine, spans):
        self.wl, self.engine, self.spans = workload, engine, spans
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def check(self, name: str, fn) -> bool:
        """Run one op at the boundary that must keep going: an exception or
        a failed output check counts as a failed op."""
        self.attempted += 1
        try:
            ok = bool(fn())
            if not ok:
                self.errors.append(f"{name}: output check failed")
        except Exception:
            ok = False
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
        self.failed += not ok
        return ok

    def run_op(self, mode: str, into: dict, kind: str, op) -> None:
        """Run and time one op. ``mode``: "plain" (wall only), "engine"
        (Spark/JVM counters) or "spans" (layer spans)."""
        from tracing import layer_spans

        if mode == "spans":
            with layer_spans(self.spans), self.spans.span(kind, role="op") as rec:
                self.check(kind, op)
            into.setdefault(kind, []).append((rec["end"] - rec["start"], self.spans.layer_times(rec)))
        elif mode == "engine":
            t0 = time.perf_counter()
            with self.engine.measure() as sample:
                self.check(kind, op)
            into.setdefault(kind, []).append((time.perf_counter() - t0, sample))
        else:
            t0 = time.perf_counter()
            self.check(kind, op)
            into.setdefault(kind, []).append(time.perf_counter() - t0)

    def run_pass(self, mode: str, into: dict) -> None:
        for kind, op in self.wl.pass_ops():
            self.run_op(mode, into, kind, op)

    def cycle(self, into: dict, deadline: float) -> None:
        """Untraced ops, pass after pass, until the deadline has passed and
        at least one whole pass has run; may stop mid-pass. A median over
        at least a pass's ops of a kind keeps curate's first, still-warming
        window from setting its figure."""
        for kind, op in itertools.cycle(self.wl.pass_ops()):
            self.run_op("plain", into, kind, op)
            if time.perf_counter() >= deadline and all(len(into.get(k, ())) >= n for k, n in self.wl.kinds.items()):
                return


def end_to_end(runner: Runner, wall: dict, setup_s: float) -> dict:
    wl = runner.wl
    wall_s = per_pass(wall, wl.kinds)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        "rows_per_s": (wl.rows_per_pass / wall_s, "1/s"),
        "bytes_stored_per_input_byte": (wl.stored_bytes() / wl.input_bytes, "ratio"),
        "jvm_peak_rss_mb": (runner.engine.peak_rss_mb(), "MB"),
    }


def per_layer(runner: Runner, engine: dict, traced: dict, catalog: dict) -> dict:
    from workloads import data_files

    wl, kinds = runner.wl, runner.wl.kinds

    def engine_sum(field: str, kinds=kinds) -> float:
        return per_pass({k: [getattr(s, field) for _, s in engine[k]] for k in kinds}, kinds)

    def span_sum(field: str) -> float:
        return per_pass({k: [t[field] for _, t in v] for k, v in traced.items()}, kinds)

    untraced = {k: [w for w, _ in engine[k]] for k in kinds}
    traced_wall = {k: [w for w, _ in traced[k]] for k in kinds}
    scan = span_sum("scan")
    reading = {k: n for k, n in kinds.items() if wl.read_bytes(k)}
    read_bytes = sum(wl.read_bytes(k) for k in reading)
    return {
        "readers.scan_s": (scan, "s"),
        "transform.self_s": (span_sum("upstream") - scan, "s"),
        "writers.write_self_s": (span_sum("write_self"), "s"),
        "writers.side_output_s": (span_sum("side"), "s"),
        "writers.files_written": (len([f for d in wl.output_dirs() for f in data_files(d)]), "count"),
        "writers.bytes_written": (engine_sum("output_bytes"), "bytes"),
        "spark.jobs": (engine_sum("jobs"), "count"),
        "spark.tasks": (engine_sum("tasks"), "count"),
        "spark.executor_run_s": (engine_sum("executor_run_s"), "s"),
        "spark.shuffle_write_bytes": (engine_sum("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (engine_sum("spill_bytes"), "bytes"),
        "spark.input_read_amplification": (engine_sum("input_bytes", reading) / read_bytes, "ratio"),
        "jvm.gc_s": (engine_sum("gc_s"), "s"),
        "jvm.jit_s": (engine_sum("jit_s"), "s"),
        "trace.overhead_s": (per_pass(traced_wall, kinds) - per_pass(untraced, kinds), "s"),
        **{k: (v, "s") for k, v in catalog.items()},
    }


def benchmark(args, work: str) -> dict:
    t_setup = time.perf_counter()
    from noaa_ais_glue_lakehouse_spark.session import get_spark

    import reads
    import tracing
    import workloads

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        session_s = time.perf_counter() - t_setup
        engine = tracing.Engine(spark)
        spans = tracing.Spans(args.workload, args.seed)
        size = "smoke" if args.smoke else "full"
        wl = workloads.WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed, size)
        runner = Runner(wl, engine, spans)

        t0 = time.perf_counter()
        wl.prepare()
        inputs_s = time.perf_counter() - t0
        for kind, op in wl.warmup_ops():
            runner.check(kind, op)
        setup_s = time.perf_counter() - t_setup

        plain: dict = {}
        engine_samples: dict = {}
        traced: dict = {}
        t_loop = time.perf_counter()
        deadline = t_loop + args.seconds
        if args.trace:
            # whole passes, alternating counters and spans, at least one each
            passes = 0
            while time.perf_counter() < deadline or passes < 2:
                runner.run_pass("spans" if passes % 2 else "engine", traced if passes % 2 else engine_samples)
                passes += 1
        else:
            runner.cycle(plain, deadline)
        loop_s = time.perf_counter() - t_loop
        t0 = time.perf_counter()
        for check in wl.final_checks():
            runner.check(check.__name__, check)
        print(
            f"{args.workload}: session {session_s:.1f}s, inputs {inputs_s:.1f}s, "
            f"set-up {setup_s:.1f}s, {runner.attempted} ops by {loop_s:.1f}s, "
            f"checks {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )
        for kind, times in plain.items():
            print(f"  {kind}: " + " ".join(f"{t:.2f}" for t in times), file=sys.stderr)
        if args.trace:
            t0 = time.perf_counter()
            probe = reads.CatalogProbe(spark, work, args.seed, size)
            probe.prepare()
            for name, op in probe.checks():
                runner.check(name, op)
            catalog = probe.measure(spans)
            print(f"  catalog reads {time.perf_counter() - t0:.1f}s", file=sys.stderr)
            metrics = per_layer(runner, engine_samples, traced, catalog)
            out = os.path.join(ROOT, ".bench_out")
            os.makedirs(out, exist_ok=True)
            spans.dump(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(runner, plain, setup_s)
        for err in runner.errors:
            print(err, file=sys.stderr)
        return {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        stop(spark)


def stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for a self-test")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        configure(work)
        result = benchmark(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
