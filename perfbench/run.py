"""Graphite-traffic benchmark for the carbon_clickhouse_spark engine.

    python3 perfbench/run.py --workload live_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one JSON report line (environment,
sample counts, known-defect ratios) and, as the last line of standard
output, the result: ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics, or with ``--trace 1`` the per-layer ones.
Exits 1 when an output of the engine is wrong, 2 when it cannot run.
Everything it writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_loadgen(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"loadgen.py" in fh.read()
    except OSError:
        return False


class RssMonitor:
    """Peak resident memory of this process tree (the engine: this
    Python process, its JVM and Spark's Python workers), without the
    load generator."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        kids = _proc_children()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if _is_loadgen(pid):
                continue
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssMonitor":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kb / 1024


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs), seconds."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _environment() -> dict:
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"nproc": _cpus(), "ram_gb": round(_mem_total_bytes() / 2**30, 2), "loadavg": load}


def _size_spark(work: str) -> None:
    """Size Spark for this machine and keep its files in ``work``."""
    cpus = _cpus()
    heap_gb = max(1, min(3, _mem_total_bytes() // 2**30 // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to end."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to kill
            proc.kill()
            proc.wait()


def _metrics(values: dict[str, tuple[float, str]]) -> dict:
    out = {}
    for name, (v, unit) in values.items():
        if not math.isfinite(v):
            raise RuntimeError(f"metric {name} has no value")
        out[name] = {"value": v, "unit": unit}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still unwinds: the load generator and the JVM stop
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "carbon_clickhouse_spark")):
        print("perfbench: no carbon_clickhouse_spark package beside perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _size_spark(work)
    env = _environment()
    steal0 = _steal_s()
    rss = RssMonitor().start()

    t = time.perf_counter()
    import harness  # the engine's modules and pyspark load here
    from carbon_clickhouse_spark.session import get_spark

    if args.workload not in harness.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_s = time.perf_counter() - t

    run = harness.Run(
        spark, harness.WORKLOADS[args.workload], args.seed, args.seconds,
        bool(args.trace), work,
    )
    phases = {"session": session_s}

    def phase(name: str, fn) -> None:
        t = time.perf_counter()
        fn()
        phases[name] = time.perf_counter() - t

    try:
        phase("setup", lambda: run.setup(session_s))
        phase("window", run.window)
        phase("stop", run.stop_engine)
        phase("verify", run.verify)
        if args.trace:
            phase("staged", run.staged_replay)
    finally:
        phase("teardown", lambda: _stop_spark(spark))
    peak = rss.stop()
    env["steal_s"] = _steal_s() - steal0

    e2e = run.end_to_end()
    attempted, failed = run.ledger.total()
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "failed_ratio": run.ledger.ratio(),
        "failed_by_kind": {k: v for k, v in run.ledger.failed.items() if v},
        "problems": run.problems[:20], "phases_s": phases, "peak_rss_mb": peak, **run.report,
    }
    if args.trace:
        layer = run.per_layer()
        for name in ("read_p50_ms", "freshness_p50_s", "ingest_pps"):
            v, unit = e2e[name]
            layer[f"trace.{name}"] = (v, unit)
        layer["bench.failed_ratio"] = (run.ledger.ratio(), "ratio")
        layer["engine.peak_rss_mb"] = (peak, "MB")
        for name in ("stale_read_ratio", "dup_wrong_ratio"):
            layer[f"query.api.{name}"] = (report[name] or 0.0, "ratio")
        tracer_cost = harness.S.Tracer(True)
        t = time.perf_counter()
        for _ in range(10_000):
            with tracer_cost.span("x"):
                pass
        layer["trace.span_cost_us"] = ((time.perf_counter() - t) / 10_000 * 1e6, "us")
        layer["trace.spans"] = (len(run.tracer.spans), "count")
        run.tracer.dump(os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics = _metrics(layer)
    else:
        metrics = _metrics(e2e)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}), flush=True)
    print(json.dumps({
        "correct": run.correct, "attempted": attempted, "failed": failed, "metrics": metrics,
    }), flush=True)
    return 0 if run.correct else 1


if __name__ == "__main__":
    sys.exit(main())
