"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill_drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. It starts the engine
on ``local[<cores>]``, generates the workload's inputs from ``--seed``,
runs the workload's fixed number of warm-up passes, then measures
passes for ``--seconds`` seconds of pass time and checks every pass's
output. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it carries the run-validity fields (steal share,
warm-up and pass times). A traced run also writes its spans to
``.perfbench_out/``.

Everything the run writes lives under ``.perfbench_work/`` (removed at
the end) and ``.perfbench_out/`` in the checkout. Without a result line
it exits 2 (no ``rigatoni_spark`` package next to it, or an unknown
workload) or 1 (an error, with its traceback).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# driver heap capped well below the machine's memory: with the
# package's 16g default, GC heuristics and not the workload set the
# peak RSS. The heap still grows on demand, so live heap growth shows.
DRIVER_MEMORY = "2g"


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Settings the JVM and its Python workers inherit: everything they
    write stays in the checkout, the workers can import the package
    from any cwd, the heap is capped and timestamps collect as UTC."""
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # the spark-submit launcher JVM: no hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = work


def _spark(work: str, cores: int):
    from rigatoni_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=cores,
        extra_conf={
            "spark.local.dir": work,
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every process the run
    started has exited."""
    import signal

    import procstat
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = gw.proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 -- any failure: force it
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    while True:
        left = [p for p in procstat.descendants(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 15
        time.sleep(0.1)


def _warm_up(wl) -> list[float]:
    """``wl.WARMUP_PASSES`` untimed passes of the full path: a count
    fixed per workload from probes of when pass times settle, so that
    ``setup_s`` does not jump by a pass from run to run."""
    return [wl.run_pass(traced=False).wall_s for _ in range(wl.WARMUP_PASSES)]


def _measure(wl, seconds: int, trace: bool) -> list:
    """Timed passes until ``seconds`` of pass time are used; a traced run
    alternates untraced and traced passes so the overhead of tracing is
    measured against the same process."""
    passes: list = []
    while (
        sum(p.wall_s for p in passes) < seconds
        or (trace and not any(p.traced for p in passes))
    ):
        passes.append(wl.run_pass(traced=trace and len(passes) % 2 == 1))
    return passes


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str]) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rigatoni_spark", "__init__.py")):
        print(f"perfbench: no rigatoni_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import layers
    import procstat
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _environment(work)
    steal0 = procstat.steal_ticks()
    sampler = procstat.RssSampler(os.getpid()).start()
    spark = None
    try:
        t0 = time.monotonic()
        spark = _spark(work, os.cpu_count() or 1)
        t1 = time.monotonic()
        from rigatoni_spark.streaming import pipeline as pipeline_mod
        from spans import Tracer

        tracer = Tracer(spark, pipeline_mod)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        wl.generate()
        t2 = time.monotonic()
        warm = _warm_up(wl)
        t3 = time.monotonic()
        passes = _measure(wl, args.seconds, bool(args.trace))
        failed = sum(p.failed for p in passes)
    finally:
        if spark is not None:
            _shutdown(spark)
        peak_rss = sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    steal1 = procstat.steal_ticks()

    attempted = sum(p.events for p in passes)
    failed = min(failed, attempted)
    setup = {"jvm_start_s": t1 - t0, "input_gen_s": t2 - t1, "warmup_s": t3 - t2}
    untraced = [p for p in passes if not p.traced]
    median_wall = statistics.median(p.wall_s for p in untraced)
    validity = {
        "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "warmup_pass_s": warm,
        # timing began on a settled path if the first timed pass is
        # within 15% of the timed median
        "warmup_settled": abs(untraced[0].wall_s - median_wall) <= 0.15 * median_wall,
        "pass_s": [p.wall_s for p in passes],
        "failed_frac": failed / attempted,
        "rss_sampler_cpu_s": sampler.cpu_s,
    }
    if args.trace:
        metrics = layers.per_layer(wl, passes, setup)
        out = os.path.join(
            ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json"
        )
        tracer.write(out, {"workload": args.workload, "seed": args.seed, "metrics": metrics})
        validity["trace_file"] = os.path.relpath(out, ROOT)
    else:
        metrics = {
            "events_per_s": _metric(
                statistics.median(p.events / p.wall_s for p in untraced), "1/s"
            ),
            "setup_s": _metric(sum(setup.values()), "s"),
            "peak_rss_mb": _metric(peak_rss / 2**20, "MiB"),
            "committed_frac": _metric(1 - failed / attempted, "ratio"),
        }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "setup": setup, "validity": validity}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
