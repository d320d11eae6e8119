"""`drain` workload: closed-loop drain of a pre-built backlog.

The backlog is spread over 20 queues by 20 `bulk_enqueue` calls before
timing, with seeded 0.5 kB payloads, in the reference `redis_benchmark`
shape: 10 single-dispatch queues with `max_demand=500` and 10 bulk queues
with `batch_size=50, max_demand=10`, so every trigger claims a full 10k
jobs.  One caller then calls `QueueManager.run_many` back to back until a
trigger claims nothing.  The backlog holds 10k jobs per ~4 s of
`--seconds` (at least two triggers' worth).
"""

from __future__ import annotations

import os
import time

import numpy as np

from bench_workers import BatchJob, SingleJob
from layers import AckClock, QueueTrace, queue_metrics
from spans import mean, p50, quantile
from stream import payloads

QUEUES = 20
PER_TRIGGER = 10_000  # 10 × 500 single + 10 × (10 × 50) bulk
SECONDS_PER_TRIGGER = 4.0


def backlog_size(seconds: float) -> int:
    return PER_TRIGGER * max(2, round(seconds / SECONDS_PER_TRIGGER))


def _setup(spark, path: str, markers: str):
    from flume_spark.queue import JobStore, QueueManager, WorkerRegistry
    from flume_spark.queue.manager import Pipeline

    registry = WorkerRegistry()
    registry.register("SingleJob", SingleJob(markers))
    registry.register("BatchJob", BatchJob(markers))
    pipelines = [Pipeline(name=f"s{i}", queue=f"s{i}", max_demand=500) for i in range(10)]
    pipelines += [
        Pipeline(name=f"b{i}", queue=f"b{i}", max_demand=10, batch_size=50) for i in range(10)
    ]
    return QueueManager(spark, JobStore(spark, path), registry, pipelines)


def _cls(queue: str) -> str:
    return "SingleJob" if queue.startswith("s") else "BatchJob"


def _drain(manager) -> list[dict]:
    names = list(manager.pipelines)
    triggers = []
    while True:
        stats = manager.run_many(names)
        triggers.append(stats)
        if stats["claimed"] == 0:
            return triggers


def run(ctx) -> dict:
    spark, work = ctx.spark, ctx.work
    clock = AckClock()
    clock.install()
    markers = os.path.join(work, "markers")
    os.makedirs(markers)

    # warm the claim, both dispatch modes and the ack path on a scratch store
    warm = _setup(spark, os.path.join(work, "warm-jobs"), markers)
    for q in warm.pipelines:
        warm.bulk_enqueue(q, [(_cls(q), "perform", ["x", ""])] * 3)
    _drain(warm)
    ctx.mark("warm done")

    manager = _setup(spark, os.path.join(work, "jobs"), markers)
    n = backlog_size(ctx.seconds)
    per_queue = n // QUEUES
    bodies = payloads(np.random.default_rng(ctx.seed), n)
    jids: list[str] = []
    for i, q in enumerate(manager.pipelines):
        chunk = bodies[i * per_queue : (i + 1) * per_queue]
        jids += manager.bulk_enqueue(q, [(_cls(q), "perform", [b, ""]) for b in chunk])
    ctx.setup_done()

    qt = None
    if ctx.tracer:
        qt = QueueTrace(ctx.tracer)
        qt.install()
        manager.telemetry.attach(qt.on_telemetry)
    start = time.time()
    triggers = _drain(manager)
    elapsed = time.time() - start
    ctx.mark("drained")
    if ctx.tracer:
        ctx.tracer.restore()
    clock.restore()

    ctx.measure_rss()
    # correctness gate, outside the timed interval
    claimed = sum(t["claimed"] for t in triggers)
    succeeded = sum(t["succeeded"] for t in triggers)
    state = {
        r["status"]: r["n"]
        for r in manager.current().groupBy("status").count().withColumnRenamed("count", "n").collect()
    }
    acks = {}
    for jid, _, _, status, _ in clock.acks:
        if status == "succeeded":
            acks[jid] = acks.get(jid, 0) + 1
    off = sum(1 for j in jids if acks.get(j) != 1)
    checks = [
        ("claim rows total the backlog", claimed == n, f"{claimed} claimed of {n}"),
        ("triggers report every job succeeded", succeeded == n, f"{succeeded} of {n}"),
        ("current() has every job succeeded", state == {"succeeded": n}, str(state)),
        ("each job acked succeeded exactly once", off == 0, f"{off} jobs off"),
    ]
    failed = max(off, n - state.get("succeeded", 0), n - succeeded, abs(n - claimed))

    lat = [clock.done_at[j] - start for j in jids if j in clock.done_at]
    layers = queue_metrics(ctx.tracer, qt) if ctx.tracer else {}
    return {
        "attempted": n,
        "failed": failed,
        "checks": checks,
        "e2e": {
            "latency_mean_s": mean(lat),
            "latency_p50_s": p50(lat),
            "latency_p90_s": quantile(lat, 0.9),
        },
        "layers": layers,
        "detail": {
            "drain_jobs_per_s": succeeded / elapsed,
            "drain_s": elapsed,
            "backlog_jobs": n,
            "triggers": len(triggers),
        },
    }
