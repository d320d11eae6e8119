"""Hooks the benchmark installs around the queue engine's public functions.

`AckClock` is always on: it is how the end-to-end latency is measured (the
moment the `JobStore.append_rows` call that commits a job's `succeeded` row
returns).  `QueueTrace` is the traced run's layer instrumentation: spans
around `QueueManager.run_many`, `JobStore.publish`/`read_rows`/
`append_rows`/`next_seq`/`compact`/`claim_lock` and
`SlidingWindowLimiter.remaining`/`record`, plus a `Telemetry.attach`
handler for worker events.  The enqueue side (`QueueManager.bulk_enqueue`
and the store calls under it) is traced by whichever process enqueues.  `queue_metrics` turns the spans into the
per-layer metrics; metrics of a layer a workload never calls read 0.
"""

from __future__ import annotations

import threading
import time

from spans import Tracer, p50

QUEUE_LAYER_METRICS = [
    ("store.publish.busy_s", "s"),
    ("store.publish.rows", "count"),
    ("manager.run_many.self_s", "s"),
    ("manager.run_many.calls", "count"),
    ("manager.trigger_p50_s", "s"),
    ("store.read_rows.busy_s", "s"),
    ("store.read_rows.rows", "count"),
    ("store.compact.calls", "count"),
    ("store.compact.busy_s", "s"),
    ("store.compact.files_in", "count"),
    ("store.log_files_max", "count"),
    ("stream.wait_s", "s"),
    ("stream.claim_s", "s"),
    ("stream.dispatch_s", "s"),
    ("stream.ack_s", "s"),
    ("runner.batches", "count"),
    ("manager.empty_trigger_ratio", "ratio"),
    ("store.append_rows.enqueue.calls", "count"),
    ("store.append_rows.enqueue.busy_s", "s"),
    ("store.append_rows.enqueue.rows", "count"),
    ("store.append_rows.ack.calls", "count"),
    ("store.append_rows.ack.busy_s", "s"),
    ("store.append_rows.ack.rows", "count"),
    ("store.next_seq.calls", "count"),
    ("store.next_seq.busy_s", "s"),
    ("store.claim_lock.wait_s", "s"),
    ("workers.duration_ms", "ms"),
    ("workers.jobs", "count"),
    ("manager.retried", "count"),
    ("manager.dead", "count"),
    ("ratelimit.remaining.calls", "count"),
    ("ratelimit.admitted_ratio", "ratio"),
]


def _is_enqueue(rows: list[dict]) -> bool:
    return bool(rows) and rows[0]["status"] == "pending"


class AckClock:
    """Records, per job id, when its `succeeded` row became durable, plus
    every ack row (claim time, queue, status, retry count)."""

    def __init__(self) -> None:
        self.done_at: dict[str, float] = {}
        self.done_retry_count: dict[str, int] = {}
        self.acks: list[tuple[str, str, object, str, int]] = []
        self._lock = threading.Lock()
        self._orig = None

    def install(self) -> None:
        from flume_spark.queue import JobStore

        store_cls = JobStore
        orig = self._orig = store_cls.__dict__["append_rows"]

        def append_rows(store, rows):
            result = orig(store, rows)
            t = time.time()
            if rows and not _is_enqueue(rows):
                with self._lock:
                    for r in rows:
                        self.acks.append(
                            (r["jid"], r["queue"], r["leased_at"], r["status"], r["retry_count"])
                        )
                        if r["status"] == "succeeded":
                            self.done_at[r["jid"]] = t
                            self.done_retry_count[r["jid"]] = r["retry_count"]
            return result

        self._cls = store_cls
        store_cls.append_rows = append_rows

    def restore(self) -> None:
        if self._orig is not None:
            self._cls.append_rows = self._orig
            self._orig = None


class QueueTrace:
    """Spans and counters for the queue engine layers (traced run only)."""

    def __init__(self, tracer: Tracer, limited_demand: int | None = None):
        self.tracer = tracer
        self.limited_demand = limited_demand
        self.worker_ms = 0.0
        self.worker_jobs = 0
        self.admitted = 0
        self.demanded = 0

    def install(self) -> None:
        from flume_spark.queue import JobStore, QueueManager
        from flume_spark.queue.ratelimit import SlidingWindowLimiter

        t = self.tracer

        def run_many_before(sp, args, kwargs):
            sp.attrs["log_files"] = args[0].store.n_files()

        def run_many_after(sp, args, kwargs, stats):
            sp.attrs.update(stats)

        def compact_before(sp, args, kwargs):
            sp.attrs["files_in"] = args[0].n_files()

        def publish_after(sp, args, kwargs, paths):
            sp.attrs["rows"] = JobStore.count_rows(paths) if paths else 0

        def read_rows_after(sp, args, kwargs, rows):
            sp.jids = frozenset(r["jid"] for r in rows)
            sp.attrs["rows"] = len(rows)

        def append_rows_before(sp, args, kwargs):
            rows = args[1]
            sp.attrs["kind"] = "enqueue" if _is_enqueue(rows) else "ack"
            sp.attrs["rows"] = len(rows)
            sp.jids = frozenset(r["jid"] for r in rows if r["status"] == "succeeded")

        def remaining_after(sp, args, kwargs, left):
            if self.limited_demand is not None:
                self.demanded += min(self.limited_demand, left)

        def record_before(sp, args, kwargs):
            self.admitted += args[2]

        t.wrap(QueueManager, "run_many", "manager.run_many", run_many_after, run_many_before)
        t.wrap(JobStore, "publish", "store.publish", publish_after)
        t.wrap(JobStore, "read_rows", "store.read_rows", read_rows_after)
        t.wrap(JobStore, "append_rows", "store.append_rows", None, append_rows_before)
        t.wrap(JobStore, "next_seq", "store.next_seq")
        t.wrap(JobStore, "compact", "store.compact", None, compact_before)
        t.wrap_cm(JobStore, "claim_lock", "store.claim_lock")
        t.wrap(SlidingWindowLimiter, "remaining", "ratelimit.remaining", remaining_after)
        t.wrap(SlidingWindowLimiter, "record", "ratelimit.record", None, record_before)

    def on_telemetry(self, event, measurements, metadata) -> None:
        if tuple(event) == ("pipeline", "worker"):
            self.worker_ms += measurements.get("duration_ms", 0.0)
            self.worker_jobs += measurements.get("jobs", 0)


def stream_split(tracer: Tracer, due: dict[str, float]) -> dict[str, float]:
    """Per-job p50 split of due → succeeded-ack latency into wait (due →
    start of the trigger that claimed it), claim (→ its claim publish
    returned), dispatch (→ ack commit started) and ack (commit itself),
    joined by jid across the trigger's read_rows and append_rows spans."""
    children: dict[int, list] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    parts: dict[str, list[float]] = {"wait": [], "claim": [], "dispatch": [], "ack": []}
    for trig in tracer.named("manager.run_many"):
        kids = children.get(trig.id, [])
        pub = [k for k in kids if k.name == "store.publish"]
        claimed = [k for k in kids if k.name == "store.read_rows"]
        acks = [
            k for k in kids if k.name == "store.append_rows" and k.attrs.get("kind") == "ack"
        ]
        if not (pub and claimed and acks):
            continue
        claim_end, ack = pub[0].t1, acks[0]
        for jid in ack.jids & claimed[0].jids:
            if jid not in due:
                continue
            parts["wait"].append(trig.t0 - due[jid])
            parts["claim"].append(claim_end - trig.t0)
            parts["dispatch"].append(ack.t0 - claim_end)
            parts["ack"].append(ack.t1 - ack.t0)
    return {f"stream.{k}_s": p50(v) for k, v in parts.items()}


def queue_metrics(
    tracer: Tracer,
    qt: QueueTrace,
    producer: dict | None = None,
    due: dict[str, float] | None = None,
    runner_batches: int = 0,
) -> dict[str, float]:
    """Per-layer metrics from the consumer's spans (+ the producer
    process's own enqueue-side summary, when there is one)."""
    t = tracer
    trig = t.named("manager.run_many")
    appends = t.named("store.append_rows")
    m: dict[str, float] = {
        "store.publish.busy_s": t.busy_s("store.publish"),
        "store.publish.rows": sum(s.attrs.get("rows", 0) for s in t.named("store.publish")),
        "manager.run_many.self_s": t.self_s("manager.run_many"),
        "manager.run_many.calls": len(trig),
        "manager.trigger_p50_s": p50(s.dur for s in trig),
        "store.read_rows.busy_s": t.busy_s("store.read_rows"),
        "store.read_rows.rows": sum(s.attrs.get("rows", 0) for s in t.named("store.read_rows")),
        "store.compact.calls": len(t.named("store.compact")),
        "store.compact.busy_s": t.busy_s("store.compact"),
        "store.compact.files_in": sum(
            s.attrs.get("files_in", 0) for s in t.named("store.compact")
        ),
        "store.log_files_max": max(
            [s.attrs.get("log_files", 0) for s in trig]
            + [s.attrs.get("files_in", 0) for s in t.named("store.compact")]
            + [0]
        ),
        "runner.batches": runner_batches,
        "manager.empty_trigger_ratio": (
            sum(1 for s in trig if not s.attrs.get("claimed")) / len(trig) if trig else 0.0
        ),
        "store.next_seq.calls": len(t.named("store.next_seq")),
        "store.next_seq.busy_s": t.busy_s("store.next_seq"),
        "store.claim_lock.wait_s": t.busy_s("store.claim_lock"),
        "workers.duration_ms": qt.worker_ms,
        "workers.jobs": qt.worker_jobs,
        "manager.retried": sum(s.attrs.get("retried", 0) for s in trig),
        "manager.dead": sum(s.attrs.get("dead", 0) for s in trig),
        "ratelimit.remaining.calls": len(t.named("ratelimit.remaining")),
        "ratelimit.admitted_ratio": qt.admitted / qt.demanded if qt.demanded else 0.0,
    }
    for kind in ("enqueue", "ack"):
        spans = [s for s in appends if s.attrs.get("kind") == kind]
        m[f"store.append_rows.{kind}.calls"] = len(spans)
        m[f"store.append_rows.{kind}.busy_s"] = sum(s.dur for s in spans)
        m[f"store.append_rows.{kind}.rows"] = sum(s.attrs["rows"] for s in spans)
    if producer:
        for key, value in producer.items():
            m[key] = m.get(key, 0) + value
    m.update(stream_split(t, due) if due else {})
    for name, _ in QUEUE_LAYER_METRICS:
        m.setdefault(name, 0.0)
    return m


def producer_summary(tracer: Tracer) -> dict[str, float]:
    """The enqueue-side layer counters a producer process reports back."""
    spans = tracer.named("store.append_rows")
    return {
        "store.append_rows.enqueue.calls": len(spans),
        "store.append_rows.enqueue.busy_s": sum(s.dur for s in spans),
        "store.append_rows.enqueue.rows": sum(s.attrs["rows"] for s in spans),
        "store.next_seq.calls": len(tracer.named("store.next_seq")),
        "store.next_seq.busy_s": tracer.busy_s("store.next_seq"),
    }

