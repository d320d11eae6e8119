"""Open-loop producer for the `stream` workload: one process, one thread,
no Spark session.

    python3 producer.py <store_dir> <schedule.json> <out.json> <trace 0|1>

Loads the schedule, builds a `QueueManager` over the shared store, prints
`ready`, then reads the start epoch from stdin and sends every job at
`start + at` with `enqueue` (or `enqueue_in` for scheduled jobs), whether
or not the consumer keeps up.  Writes each job's id and send start/end to
`out.json`.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> int:
    store_dir, schedule_path, out_path, trace = sys.argv[1:5]
    from flume_spark.queue import JobStore, QueueManager

    tracer = None
    if trace == "1":
        import layers
        from spans import Tracer

        tracer = Tracer()
        tracer.wrap(QueueManager, "bulk_enqueue", "manager.bulk_enqueue")
        tracer.wrap(
            JobStore,
            "append_rows",
            "store.append_rows",
            before=lambda sp, a, kw: sp.attrs.update(rows=len(a[1])),
        )
        tracer.wrap(JobStore, "next_seq", "store.next_seq")

    with open(schedule_path) as f:
        schedule = json.load(f)
    manager = QueueManager(None, JobStore(None, store_dir))
    print("ready", flush=True)
    start = float(sys.stdin.readline())

    sent, errors = [], []
    for job in schedule:
        due = start + job["at"]
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        t0 = time.time()
        try:
            if job["delay"]:
                jid = manager.enqueue_in(job["queue"], job["delay"], job["cls"], job["args"])
            else:
                jid = manager.enqueue(job["queue"], job["cls"], job["args"])
        except Exception as exc:  # noqa: BLE001 — an enqueue error is a failed operation
            errors.append(f"{type(exc).__name__}: {exc}")
            jid = None
        sent.append([jid, t0, time.time()])

    out = {"sent": sent, "errors": errors}
    if tracer is not None:
        out["layers"] = layers.producer_summary(tracer)
        out["spans"] = len(tracer.spans)
    with open(out_path, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
