"""`stream` workload: open-loop single-job traffic into live pipelines.

A producer process (`producer.py`, no Spark) sends one `enqueue` or
`enqueue_in` call per job into the shared store at Poisson 40 jobs/s for
`--seconds`, on a schedule fixed in advance from the seed.  The consumer is
two live `PipelineRunner`s with the default 2 s trigger on a manager with
`archive_succeeded=True`:

- `plain`: 75% of traffic, single dispatch;
- `limited`: 25%, bulk `batch_size=10`, under a 100-per-second rate limit
  the traffic never reaches.

5% of jobs are scheduled 1-3 s ahead; 5% fail once and succeed on retry.
The failing ones are all `plain` jobs: a bulk chunk fails all-or-nothing,
so a retried `limited` job could share its retry chunk with another job's
first attempt and fail twice, which would make "retry_count = 1" a
property of chunk composition rather than of the engine.
Latency runs from each job's due time (send time, plus the delay of an
`enqueue_in`) to the return of the `append_rows` call that commits its
`succeeded` row.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np

from bench_workers import BatchJob, SingleJob
from layers import AckClock, QueueTrace, queue_metrics
from spans import mean, p50, quantile

RATE = 20.0
LIMITED_SHARE = 0.25
SCHEDULED_SHARE = 0.05
FAIL_ONCE_SHARE = 0.05
LIMIT_COUNT = 100
LIMIT_SCALE_MS = 1000
PAYLOAD_BYTES = 500
DEADLINE_S = 45.0  # after the last job was due


def payloads(rng, n: int) -> list[str]:
    """n seeded lowercase payloads of PAYLOAD_BYTES each."""
    raw = (rng.integers(0, 26, n * PAYLOAD_BYTES, dtype=np.uint8) + 97).tobytes()
    return [raw[i : i + PAYLOAD_BYTES].decode() for i in range(0, len(raw), PAYLOAD_BYTES)]


def schedule(seed: int, seconds: float) -> list[dict]:
    rng = np.random.default_rng(seed)
    gaps = rng.exponential(1.0 / RATE, int(RATE * seconds * 2) + 50)
    ats = np.cumsum(gaps)
    ats = ats[ats < seconds]
    n = len(ats)
    limited = rng.random(n) < LIMITED_SHARE
    kind = rng.random(n)
    fail_share = FAIL_ONCE_SHARE / (1 - LIMITED_SHARE)  # of plain jobs
    delays = rng.uniform(1.0, 3.0, n)
    bodies = payloads(rng, n)
    jobs = []
    for i in range(n):
        scheduled = kind[i] < SCHEDULED_SHARE
        fail_once = not limited[i] and SCHEDULED_SHARE <= kind[i] < SCHEDULED_SHARE + fail_share
        jobs.append(
            {
                "at": float(ats[i]),
                "queue": "limited" if limited[i] else "plain",
                "cls": "BatchJob" if limited[i] else "SingleJob",
                "args": [bodies[i], f"t{i}" if fail_once else ""],
                "delay": float(delays[i]) if scheduled else 0.0,
            }
        )
    return jobs


def _pipelines():
    from flume_spark.queue.manager import Pipeline

    return [
        Pipeline(name="plain", queue="plain", max_demand=500),
        Pipeline(
            name="limited",
            queue="limited",
            max_demand=50,
            batch_size=10,
            rate_limit_count=LIMIT_COUNT,
            rate_limit_scale=LIMIT_SCALE_MS,
        ),
    ]


def _manager(spark, path: str, markers: str):
    from flume_spark.queue import JobStore, QueueManager, WorkerRegistry

    registry = WorkerRegistry()
    registry.register("SingleJob", SingleJob(markers))
    registry.register("BatchJob", BatchJob(markers))
    return QueueManager(
        spark, JobStore(spark, path), registry, _pipelines(), archive_succeeded=True
    )


def _warm(spark, work: str) -> None:
    """Run both pipelines' claim, dispatch, ack and compaction paths once
    on a scratch store, so the timed run starts with compiled plans and
    started Python workers."""
    markers = os.path.join(work, "warm-markers")
    os.makedirs(markers)
    mgr = _manager(spark, os.path.join(work, "warm-jobs"), markers)
    mgr.enqueue("plain", "SingleJob", ["x", "warm"])
    mgr.enqueue("limited", "BatchJob", ["x", ""])
    mgr.run_once("plain")
    mgr.run_once("limited")
    mgr.store.compact(archive_succeeded=True)


def _final_state(store) -> dict[str, tuple[str, int]]:
    """Latest (status, retry_count) per jid over the live log and the
    archive, read straight from the parquet files."""
    import pyarrow.parquet as pq

    latest: dict[str, tuple[int, str, int]] = {}
    for d in (store.path, store.path.rstrip("/") + ".archive"):
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            if not name.endswith(".parquet"):
                continue
            cols = pq.read_table(
                os.path.join(d, name), columns=["jid", "seq", "status", "retry_count"]
            ).to_pydict()
            for jid, seq, status, rc in zip(*cols.values()):
                if jid not in latest or seq > latest[jid][0]:
                    latest[jid] = (seq, status, rc)
    return {jid: (status, rc) for jid, (_, status, rc) in latest.items()}


def _rate_windows_ok(acks, queue: str, cap: int, scale_s: float) -> tuple[bool, int]:
    """Every claim of `queue` (one ack row per claimed job, stamped with the
    trigger's claim time) — no trailing window of `scale_s` holds > cap."""
    times = sorted(a[2].timestamp() for a in acks if a[1] == queue)
    worst, lo = 0, 0
    for hi, t in enumerate(times):
        while times[lo] <= t - scale_s:
            lo += 1
        worst = max(worst, hi - lo + 1)
    return worst <= cap, worst


def run(ctx) -> dict:
    from flume_spark.streaming.pipeline import PipelineRunner

    spark, work = ctx.spark, ctx.work
    clock = AckClock()
    clock.install()
    _warm(spark, work)
    ctx.mark("warm done")

    markers = os.path.join(work, "markers")
    os.makedirs(markers)
    manager = _manager(spark, os.path.join(work, "jobs"), markers)
    runners = [
        PipelineRunner(spark, manager, p, os.path.join(work, f"ckpt-{p.name}"))
        for p in manager.pipelines.values()
    ]
    jobs = schedule(ctx.seed, ctx.seconds)
    sched_path = os.path.join(work, "schedule.json")
    out_path = os.path.join(work, "sent.json")
    with open(sched_path, "w") as f:
        json.dump(jobs, f)
    producer = subprocess.Popen(
        [
            sys.executable,
            os.path.join(ctx.bench_dir, "producer.py"),
            manager.store.path,
            sched_path,
            out_path,
            "1" if ctx.tracer else "0",
        ],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    ctx.children.append(producer)
    try:
        for r in runners:
            r.start()
        if producer.stdout.readline().strip() != "ready":
            raise RuntimeError("producer failed to start")
        ctx.setup_done()

        qt = None
        if ctx.tracer:
            lim = manager.pipelines["limited"]
            qt = QueueTrace(ctx.tracer, limited_demand=lim.max_demand * lim.batch_size)
            qt.install()
            manager.telemetry.attach(qt.on_telemetry)
        start = time.time() + 0.05
        producer.stdin.write(f"{start!r}\n")
        producer.stdin.flush()
        producer.wait(timeout=ctx.seconds + 60)
        with open(out_path) as f:
            sent = json.load(f)
        due = {}
        for job, (jid, _, _) in zip(jobs, sent["sent"]):
            if jid is not None:
                due[jid] = start + job["at"] + job["delay"]
        deadline = start + ctx.seconds + DEADLINE_S
        ctx.mark("producer done")
        while time.time() < deadline and not all(j in clock.done_at for j in due):
            time.sleep(0.1)
        ctx.mark("all acked")
    finally:
        for r in runners:
            r.stop()
    if ctx.tracer:
        ctx.tracer.restore()
    clock.restore()

    ctx.measure_rss()
    # correctness gate, outside the timed interval
    acked = [j for j in due if j in clock.done_at]
    succeeded_rows: dict[str, int] = {}
    for jid, _, _, status, _ in clock.acks:
        if status == "succeeded":
            succeeded_rows[jid] = succeeded_rows.get(jid, 0) + 1
    state = _final_state(manager.store)
    fail_once = {
        jid for job, (jid, _, _) in zip(jobs, sent["sent"]) if jid and job["args"][1]
    }
    bad = {
        j
        for j in due
        if succeeded_rows.get(j, 0) != 1 or state.get(j, ("missing", 0))[0] != "succeeded"
    }
    bad_retry = {
        j for j in fail_once if clock.done_retry_count.get(j) != 1 or state.get(j, ("", 0))[1] != 1
    }
    rate_ok, worst = _rate_windows_ok(clock.acks, "limited", LIMIT_COUNT, LIMIT_SCALE_MS / 1000)
    unacked = len(due) - len(acked)
    checks = [
        ("all sent jobs acked by the deadline", unacked == 0, f"{unacked} of {len(due)} unacked"),
        ("every job acked succeeded exactly once, store agrees", not bad, f"{len(bad)} jobs off"),
        ("fail-once jobs end with retry_count=1", not bad_retry, f"{len(bad_retry)} of {len(fail_once)} off"),
        ("limited claims within cap per 1 s window", rate_ok, f"max {worst}, cap {LIMIT_COUNT}"),
    ]
    errors = len(sent["errors"])
    failed = len(bad | bad_retry) + errors + (0 if rate_ok else 1)

    lat = [clock.done_at[j] - due[j] for j in acked]
    enq_ms = [(e - s) * 1000 for _, s, e in sent["sent"]]
    late = max((s - (start + job["at"]) for job, (_, s, _) in zip(jobs, sent["sent"])), default=0.0)
    span = max(clock.done_at[j] for j in acked) - start if acked else 0.0
    layers = {}
    if ctx.tracer:
        layers = queue_metrics(
            ctx.tracer,
            qt,
            producer=sent.get("layers"),
            due=due,
            runner_batches=sum(r.batches_run for r in runners),
        )
        layers["producer.enqueue_p99_ms"] = quantile(enq_ms, 0.99)
        ctx.extra_spans += sent.get("spans", 0)
    return {
        "attempted": len(jobs),
        "failed": failed,
        "checks": checks,
        "e2e": {
            "latency_mean_s": mean(lat),
            "latency_p50_s": p50(lat),
            "latency_p90_s": quantile(lat, 0.9),
        },
        "layers": layers,
        "detail": {
            "latency_p99_s": quantile(lat, 0.99),
            "latency_samples": len(lat),
            "enqueue_p50_ms": p50(enq_ms),
            "enqueue_p99_ms": quantile(enq_ms, 0.99),
            "enqueue_errors": errors,
            "generator_late_s": late,
            "jobs_sent": len(jobs),
            "acked_per_s": len(acked) / span if span else 0.0,
        },
    }
