"""Repository benchmark: queue drain throughput, open-loop stream latency
and curation batch time, with an outside-in per-layer trace.

    python3 perfbench/run.py --workload {drain,stream,curate} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  Prints one detail record (host, checks,
extra figures) and, as the last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`.  See README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("drain", "stream", "curate")
RUN_LIMIT_S = 170.0

E2E = [
    ("setup_s", "s"),
    ("latency_mean_s", "s"),
    ("latency_p50_s", "s"),
    ("latency_p90_s", "s"),
    ("peak_rss_mb", "MB"),
]


def _host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(work: str) -> dict:
    """Size Spark to the host it runs on and keep every file it writes in
    `work`.  Must run before the first Spark import."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = _host_ram_mb()
    driver_mb = max(1024, min(8192, ram_mb // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = [ROOT, BENCH_DIR] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "PYTHONPATH": ":".join(path),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "TZ": "UTC",
        }
    )
    time.tzset()
    return {"nproc": cpus, "ram_mb": ram_mb, "driver_mem_mb": driver_mb}


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _source_digest() -> str:
    """SHA-256 over the program's Python sources: identifies the code
    measured when the checkout is not a git repository."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, "flume_spark"))):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    import subprocess

    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, check=False
    )
    return out.stdout.strip() or None


class Context:
    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.bench_dir = BENCH_DIR
        self.spark = None
        self.tracer = None
        self.children: list = []
        self.extra_spans = 0
        self.setup_s = None
        self.rss_mb = None

    def measure_rss(self) -> None:
        """Peak RSS of this process plus the Spark JVM so far.  Called when
        the measured work ends, before the correctness checks, whose
        DuckDB oracles run in this process."""
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024

    def setup_done(self) -> None:
        self.setup_s = time.time() - PROCESS_START
        self.mark("setup done")

    def mark(self, phase: str) -> None:
        self.log(f"{phase} at {time.time() - PROCESS_START:.2f}s")

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _watchdog(ctx: Context) -> None:
    """Bound the run: past RUN_LIMIT_S, stop child processes and exit
    without a result (the Spark JVM exits when its stdin closes)."""
    ctx.log(f"run exceeded {RUN_LIMIT_S:.0f}s; aborting")
    for p in ctx.children:
        p.kill()
        p.wait()
    os._exit(3)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "flume_spark", "__init__.py")):
        print(f"perfbench: no flume_spark package under {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still stops its children and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(BENCH_DIR, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    ctx = Context(args, work)
    timer = threading.Timer(RUN_LIMIT_S, _watchdog, (ctx,))
    timer.daemon = True
    timer.start()
    try:
        host = pin_environment(work)
        return _run(ctx, args, host)
    finally:
        timer.cancel()
        for p in ctx.children:
            if p.poll() is None:
                p.kill()
            p.wait()
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (its exit signal) and
    wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _run(ctx: Context, args, host: dict) -> int:
    import importlib

    sys.path[:0] = [ROOT, BENCH_DIR]
    from flume_spark.session import get_spark

    from spans import Tracer

    ctx.spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
        },
    )
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.mark("session up")
    if args.trace:
        ctx.tracer = Tracer()
    result = importlib.import_module(args.workload).run(ctx)
    ctx.mark("workload done")

    failed_checks = [c for c in result["checks"] if not c[1]]
    failed = result["failed"] or (1 if failed_checks else 0)
    rss_mb = ctx.rss_mb

    if args.trace:
        values = dict.fromkeys((n for n, _ in per_layer_names()), 0.0)
        values.update(result["layers"])
        spans = len(ctx.tracer.spans) + ctx.extra_spans
        values["trace.spans"] = spans
        values["trace.overhead_s"] = Tracer.span_cost_s() * spans
        values.update({f"traced.{k}": v for k, v in result["e2e"].items()})
        units = dict(per_layer_names())
    else:
        values = dict(result["e2e"], setup_s=ctx.setup_s, peak_rss_mb=rss_mb)
        units = dict(E2E)

    import pyarrow
    import pyspark

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": dict(
            host,
            python=platform.python_version(),
            pyspark=pyspark.__version__,
            pyarrow=pyarrow.__version__,
            java=ctx.spark._jvm.java.lang.System.getProperty("java.version"),
            git_commit=_git_commit(),
            source_sha256=_source_digest(),
        ),
        "checks": [{"check": c[0], "ok": c[1], "detail": c[2]} for c in result["checks"]],
        "error_rate": failed / result["attempted"],
        "setup_s": ctx.setup_s,
        "peak_rss_mb": rss_mb,
        **result["detail"],
    }
    print(json.dumps({"perfbench": detail}), flush=True)
    print(
        json.dumps(
            {
                "correct": not failed_checks and failed == 0,
                "attempted": result["attempted"],
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        ),
        flush=True,
    )
    return 0


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric (name, unit); a workload that never calls a
    layer reports 0 for it."""
    import curate
    import layers

    return (
        layers.QUEUE_LAYER_METRICS
        + [("producer.enqueue_p99_ms", "ms")]
        + curate.layer_names()
        + [
            ("traced.latency_mean_s", "s"),
            ("traced.latency_p50_s", "s"),
            ("traced.latency_p90_s", "s"),
            ("trace.spans", "count"),
            ("trace.overhead_s", "s"),
        ]
    )


if __name__ == "__main__":
    sys.exit(main())
