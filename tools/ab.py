"""Interleaved A/B of two checkouts, or of two conf sets, with a verdict.

    python3 tools/ab.py --a PARENT --b CHANGE --work perfbench:scd2_reorder \\
        --pairs 10 --seed 701 --out BENCH_AB_x.jsonl [--trace 1]
    python3 tools/ab.py --a CO --b CO --b-conf KEY=VALUE --work perfbench:scd2_reorder ...
    python3 tools/ab.py --a PARENT --b CHANGE --work row:text_lm_gate,text_clean_corpus
    python3 tools/ab.py --a PARENT --b CHANGE --work spine
    python3 tools/ab.py --a PARENT --b CHANGE --work stream:400
    python3 tools/ab.py --a PARENT --b CHANGE --work latency:sync|async|direct
    python3 tools/ab.py --verdict BENCH_AB_x.jsonl [more.jsonl ...]

Side A is the parent, side B the change: each a checkout (a clean clone)
plus optional Spark confs, handed to the session through
``PYSPARK_SUBMIT_ARGS``. Pair i runs seed ``--seed + i``, one fresh
process per side, and the side that goes first alternates from pair to
pair. ``perfbench:W`` runs the side's own ``perfbench/run.py``; the other
kinds run this checkout's ``bench.py`` bodies (``run_row`` with the
``--control`` row timed first, ``run_spine``, ``run_stream``,
``measure_latency`` at batch 500 / 50 ms) on the side's
``rigatoni_spark``, so old commits stay measurable.

Each run is one JSONL row (workload, seed, side, run_in_pair, rc,
host_steal_pct, validity, correct/attempted/failed, metrics) after a
``what`` header line; a run that exits non-zero, ends without a result
line or reports ``correct: false`` is recorded as failed, never dropped,
and its failed operations are summed per side. Host steal comes from
perfbench's validity line, else from ``/proc/stat`` around the child.
A ``row:`` child times each row ``REPS`` times and records the first,
cold run (``_cold_s``) beside the minimum (``_s``): a row that
free-rides on caches an earlier run left reads fast only in the second.

The verdict, one line per metric, pairs the runs by seed: median ratio,
pairs the change won (ties count for neither side), and the parent's
inter-quartile range as a share of its median and of the metric's bound
(``BENCHMARK.json``'s for the metrics it declares, ``DEFAULT_BOUND`` for
the rest). In that order of precedence:
``regression`` = the median is worse by more than the bound;
``unresolved`` = the parent IQR exceeds the bound, so the set cannot
tell (it is not "flat"), unless every change run reads better than every
parent run; ``gain`` = at least 10 pairs, the change won at least 9 in
10 of them and its median moved by more than the parent IQR; else
``no regression``. A gain does not count when the change failed more runs
or a larger share of operations than the parent: the group line then
reads ``regression`` and no metric line reads ``gain``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
from procstat import steal_ticks  # noqa: E402

SIDES = ("parent", "change")
DEFAULT_BOUND = 0.25
MIN_PAIRS = 10  # fewer pairs than this never make a gain
REPS = 3  # timed repeats in a non-perfbench child; the min counts, as in bench.py


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- verdict


def judge(pairs: list[tuple[float, float]], bound: float, higher: bool) -> dict:
    """Verdict on (parent, change) values paired by seed."""
    parent = [p for p, _ in pairs]
    mp = statistics.median(parent)
    mc = statistics.median(c for _, c in pairs)
    q1, _, q3 = (
        statistics.quantiles(parent, n=4, method="inclusive")
        if len(parent) > 1
        else (mp, mp, mp)
    )
    sign = 1 if higher else -1
    wins = sum(sign * (c - p) > 0 for p, c in pairs)
    # every change run reads better than every parent run
    disjoint = min(sign * c for _, c in pairs) > max(sign * p for p in parent)
    better = sign * (mc - mp)  # the change's median improvement, in units

    def share(x: float) -> float:
        return x / abs(mp) if mp else (0.0 if x == 0 else math.inf)

    iqr_share = share(q3 - q1)
    if share(-better) > bound:
        verdict = "regression"
    elif iqr_share > bound and not disjoint:
        verdict = "unresolved"
    elif len(pairs) >= MIN_PAIRS and wins * 10 >= 9 * len(pairs) and better > q3 - q1:
        verdict = "gain"
    else:
        verdict = "no regression"
    return {
        "parent": mp,
        "change": mc,
        "ratio": mc / mp if mp else (1.0 if mc == 0 else math.inf),
        "wins": wins,
        "pairs": len(pairs),
        "iqr_share": iqr_share,
        "bound": bound,
        "verdict": verdict,
    }


def _value(row: dict, name: str) -> float | None:
    v = (row.get("metrics") or {}).get(name)
    return v.get("value") if isinstance(v, dict) else v


def _ok(row: dict) -> bool:
    return (
        row.get("rc", 0) == 0
        and bool(row.get("metrics"))
        and row.get("correct") is not False
    )


def _fmt(x: float) -> str:
    return f"{x:,.1f}" if abs(x) >= 100 else f"{x:.4g}"


def verdict_lines(rows: list[dict]) -> list[str]:
    """One line per (workload, trace) group, then one per metric."""
    bench = _benchmark()
    declared = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    groups: dict[tuple, list[dict]] = {}
    for r in rows:
        if r.get("side") in SIDES and "workload" in r:
            groups.setdefault((r["workload"], r.get("trace", 0)), []).append(r)
    out = []
    for (workload, trace), runs in groups.items():
        by_seed: dict = {}
        for r in runs:
            by_seed.setdefault(r["seed"], {})[r["side"]] = r
        done = [d for d in by_seed.values() if all(_ok(d.get(s, {})) for s in SIDES)]
        failed = {s: sum(r["side"] == s and not _ok(r) for r in runs) for s in SIDES}
        total = {s: sum(r["side"] == s for r in runs) for s in SIDES}
        ops = {
            s: [sum(r.get(k) or 0 for r in runs if r["side"] == s) for k in ("failed", "attempted")]
            for s in SIDES
        }
        op_share = {s: f / a if a else 0.0 for s, (f, a) in ops.items()}
        worse = failed["change"] > failed["parent"] or op_share["change"] > op_share["parent"]
        steal = [r["host_steal_pct"] for r in runs if r.get("host_steal_pct") is not None]
        out.append(
            f"{workload} trace={trace}: {len(done)} complete pairs; failed runs "
            f"parent {failed['parent']}/{total['parent']}, change "
            f"{failed['change']}/{total['change']}"
            + (
                f"; failed operations parent {ops['parent'][0]}/{ops['parent'][1]}, "
                f"change {ops['change'][0]}/{ops['change'][1]}"
                if ops["parent"][1] or ops["change"][1]
                else ""
            )
            + (f"; host steal {min(steal):.1f}-{max(steal):.1f}%" if steal else "")
            + (": regression" if worse else "")
        )
        names = sorted({m for d in done for r in d.values() for m in r["metrics"]})
        for name in names:
            pairs = [
                (_value(d["parent"], name), _value(d["change"], name)) for d in done
            ]
            pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
            if not pairs:
                continue
            spec = declared.get(name, {})
            j = judge(
                pairs, spec.get("bound", DEFAULT_BOUND), spec.get("better", "lower") == "higher"
            )
            if worse and j["verdict"] == "gain":
                j["verdict"] = "no regression"  # the group line reads regression
            out.append(
                f"  {workload} {name}: {_fmt(j['parent'])} -> {_fmt(j['change'])} "
                f"(ratio {j['ratio']:.3f}, {100 * (j['ratio'] - 1):+.1f}%), change won "
                f"{j['wins']}/{j['pairs']}, parent IQR {100 * j['iqr_share']:.1f}% "
                f"= {j['iqr_share'] / j['bound']:.2f} of bound {j['bound']:g}: "
                f"{j['verdict']}"
            )
    return out


def read_rows(paths: list[str]) -> list[dict]:
    rows = []
    for path in paths:
        with open(path) as fh:
            rows.extend(json.loads(ln) for ln in fh if ln.strip())
    return rows


# ---------------------------------------------------------------- children


def _child(spec: dict) -> None:
    """Run one kind of work in this process and print its result line."""
    sys.path.insert(0, spec["root"])
    import bench  # this checkout's measurement bodies, imported by main()
    import pyarrow.parquet as pq
    import rigatoni_spark  # noqa: F401 -- the side's package, pinned first

    from rigatoni_spark.session import get_spark

    kind, arg, sf = spec["kind"], spec["arg"], spec["sf_dir"]
    spark = get_spark(app_name=f"ab_{kind}")
    spark.sparkContext.setLogLevel("ERROR")
    correct, metrics = True, {}
    if kind == "row":
        control = [spec["control"]] if spec["control"] else []
        # the control first: the measured rows cannot leave it caches
        for name in control + arg.split(","):
            label = "control" if name in control else "row"
            secs = [bench.run_row(spark, sf, name) for _ in range(REPS)]
            metrics[f"{label}.{name}_cold_s"] = secs[0]
            metrics[f"{label}.{name}_s"] = min(secs)
    elif kind == "spine":
        from rigatoni_spark.sources.change_events import read_change_events

        n_in = read_change_events(spark, sf).count()
        for _ in range(2):  # warm-up passes, as bench.py
            bench.run_spine(spark, sf)
        sec = min(bench.run_spine(spark, sf) for _ in range(REPS))
        metrics = {"spine_s": sec, "events_per_s": n_in / sec}
    else:
        table = pq.read_table(os.path.join(sf, "events.parquet"))
        if kind == "stream":
            for _ in range(2):
                bench.run_stream(spark, table, int(arg))
            sec = min(bench.run_stream(spark, table, int(arg)) for _ in range(REPS))
            metrics = {"stream_s": sec, "events_per_s": table.num_rows / sec}
        else:
            r = bench.measure_latency(
                spark, table, 500, 0.05, n_files=16, feed_interval=0.4,
                async_progress=arg == "async", direct_write=arg == "direct",
            )
            correct = r["n_events"] > 0
            metrics = {k: r[k] for k in ("p50_ms", "p99_ms", "batch_proc_p50_ms")}
            for k, v in r.get("trigger_durationMs_median", {}).items():
                metrics[f"durationMs.{k}"] = v
    spark.stop()
    print(json.dumps({"correct": correct, "metrics": metrics}))


def _json_line(lines: list[str], i: int) -> dict:
    """``lines[i]`` as a JSON object, or {} when it is missing or not one."""
    try:
        obj = json.loads(lines[i])
    except (IndexError, ValueError):
        return {}
    return obj if isinstance(obj, dict) else {}


def run_once(side: dict, args, seed: int) -> dict:
    """One fresh process of ``args.work`` on ``side``: the JSONL row."""
    kind, _, arg = args.work.partition(":")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [side["root"], env.get("PYTHONPATH")]))
    if side["conf"]:
        confs = " ".join(f"--conf {shlex.quote(c)}" for c in side["conf"])
        env["PYSPARK_SUBMIT_ARGS"] = f"{confs} {env.get('PYSPARK_SUBMIT_ARGS', 'pyspark-shell')}"
    if kind == "perfbench":
        cmd = ["perfbench/run.py", "--workload", arg, "--seed", str(seed),
               "--seconds", str(_benchmark()["run_seconds"]), "--trace", str(args.trace)]
    else:
        spec = {"root": side["root"], "kind": kind, "arg": arg, "sf_dir": args.sf_dir,
                "control": args.control}
        cmd = [os.path.abspath(__file__), "--child", json.dumps(spec)]
    steal0, t0 = steal_ticks(), time.monotonic()
    proc = subprocess.run([sys.executable, *cmd], cwd=side["root"], env=env,
                          capture_output=True, text=True)
    steal1 = steal_ticks()
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    result = _json_line(lines, -1)
    if not isinstance(result.get("metrics"), dict):
        result = {"correct": False, "metrics": {}}
    validity = _json_line(lines, -2).get("validity")
    share = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    if validity and "steal_share" in validity:
        share = validity["steal_share"]
    row = {
        "workload": arg if kind == "perfbench" else args.work,
        "seed": seed, "side": side["name"], "run_in_pair": None,
        "trace": args.trace if kind == "perfbench" else 0, "rc": proc.returncode,
        "wall_s": round(time.monotonic() - t0, 1),
        "host_steal_pct": round(100 * share, 2), "validity": validity,
        "correct": result.get("correct"), "attempted": result.get("attempted"),
        "failed": result.get("failed"), "metrics": result["metrics"],
    }
    if not _ok(row):
        row["error"] = (proc.stderr or proc.stdout)[-2000:]
    return row


def _commit(root: str) -> str:
    proc = subprocess.run(["git", "-C", root, "describe", "--always", "--dirty"],
                          capture_output=True, text=True)
    return proc.stdout.strip() or "unknown"


def run(args) -> list[dict]:
    sides = [
        {"name": name, "root": os.path.abspath(root), "conf": conf}
        for name, root, conf in zip(SIDES, (args.a, args.b), (args.a_conf, args.b_conf))
    ]
    header = {
        "what": f"interleaved parent/change pairs of `{args.work}`, one fresh "
        "process per run, side order alternating per seed (run_in_pair); "
        "host_steal_pct = steal share of all host CPU time over the run",
        **{s["name"]: {"commit": _commit(s["root"]), "conf": s["conf"]} for s in sides},
        "work": args.work, "trace": args.trace, "sf": os.path.basename(args.sf_dir),
        "cpus": os.cpu_count(), "python": sys.version.split()[0],
    }
    rows = [header]
    with open(args.out, "w") as fh:
        fh.write(json.dumps(header) + "\n")
        for i in range(args.pairs):
            for pos, side in enumerate(sides if i % 2 == 0 else sides[::-1], 1):
                row = run_once(side, args, args.seed + i)
                row["run_in_pair"] = pos
                rows.append(row)
                fh.write(json.dumps(row) + "\n")
                fh.flush()
                print(f"seed {row['seed']} {row['side']}: rc {row['rc']}, steal "
                      f"{row['host_steal_pct']}%, {row['wall_s']} s", flush=True)
    return rows


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from bench import SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--verdict", nargs="+", metavar="JSONL", help="recompute from recorded runs")
    ap.add_argument("--child", help=argparse.SUPPRESS)
    ap.add_argument("--a", help="parent checkout")
    ap.add_argument("--b", help="change checkout")
    ap.add_argument("--a-conf", action="append", default=[], metavar="KEY=VALUE")
    ap.add_argument("--b-conf", action="append", default=[], metavar="KEY=VALUE")
    ap.add_argument("--work", help="perfbench:W | row:R[,R] | spine | stream:N | latency:MODE")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", help="JSONL file for the raw runs")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=SF_DIR, help="testdata of the other kinds")
    ap.add_argument("--control", default="dedup_minhash_lsh", help="control row of row:")
    args = ap.parse_args(argv)
    if args.child:
        _child(json.loads(args.child))
        return 0
    if args.verdict:
        rows = read_rows(args.verdict)
    else:
        kind = args.work.partition(":")[0] if args.work else None
        if not (args.a and args.b and args.out) or kind not in (
            "perfbench", "row", "spine", "stream", "latency"
        ):
            ap.error("a run needs --a, --b, --out and a --work kind")
        rows = run(args)
    print("\n".join(verdict_lines(rows)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
