"""Benchmark of the transcript engine: seeded workloads, end-to-end metrics,
and a traced run that attributes pass time to the engine's layers.

    python3 perfbench/run.py --workload ingest_fanout --seed 1 --seconds 1 \
        --trace 0

Run it from the repository root. One process, one Spark session on
``local[<cores>]``, one client in a closed loop: the next pass starts only
after the previous one returned and was checked. Set-up (input generation,
session start, warm passes) is timed as ``setup_s``; then passes run until
``--seconds`` have elapsed. Every pass is checked; the last stdout line is
one JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs untraced
passes, restarts the session with Spark's event log on for traced passes and
layer probes (with spans around the engine's calls into PySpark), restarts
it untraced again, and reports the per-layer metrics, including the tracing
overhead (traced minus untraced pass wall).
All files live under ``.bench_work/`` in the working directory and are
removed at exit, except the span dump of a traced run.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, ROOT)  # the engine package is imported from the checkout

DRIVER_MEMORY = "1g"
# Input generation is the one part of set-up that can run more than once in
# a process (the JVM starts once), so it runs three times and the median
# counts. The two extra runs cost about 1 s per ingest run and 4 s per codec
# run. A traced run reports no setup_s and generates once.
GEN_REPEATS = 3

END_TO_END = {"pass_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _submit_args(work: str, cores: int) -> str:
    """Launch options of the driver JVM, as spark-submit would pass them.
    Every scratch location points inside ``work``."""
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    return " ".join([f"--master local[{cores}]",
                     f"--driver-memory {DRIVER_MEMORY}"]
                    + [f"--conf {k}={v}" for k, v in confs.items()]
                    + ["pyspark-shell"])


def _event_log_confs(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.logBlockUpdates.enabled": "true",
    }


def _session():
    """The CLI's own session builder, on the launch options set above."""
    from logstash_codec_protobuf_spark.cli import build_session

    spark = build_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _compact(spark) -> None:
    """Full garbage collection in the driver and the JVM. G1 gives the freed
    heap back to the OS, so the measured peak starts from the live set and
    not from whatever garbage the warm-up happened to leave."""
    gc.collect()
    spark._jvm.java.lang.System.gc()


def _reset_hwm(pids: list[int]) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")  # resets VmHWM to the current RSS


def _hwm_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of this machine's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _proc_stat(pid: int) -> tuple[int, str, int] | None:
    """(parent pid, state, start time) of a process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    return int(fields[1]), fields[0], int(fields[19])


def _descendants(pid: int) -> dict[int, int]:
    """Every process below ``pid``, as pid -> start time."""
    kids: dict[int, list[int]] = {}
    start: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _proc_stat(int(d))) is not None:
            kids.setdefault(st[0], []).append(int(d))
            start[int(d)] = st[2]
    out, todo = {}, [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out[k] = start[k]
            todo.append(k)
    return out


def _wait_gone(procs: dict[int, int], timeout: float = 30.0) -> None:
    """Wait until every process in ``procs`` has ended and been reaped
    (a pid whose start time changed is another process). Own children are
    reaped here; after ``timeout`` whatever still runs is killed."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        alive = {}
        for pid, t0 in procs.items():
            st = _proc_stat(pid)
            if st is None or st[2] != t0:
                continue
            if st[0] == os.getpid():
                with contextlib.suppress(ChildProcessError):
                    if os.waitpid(pid, os.WNOHANG)[0] == pid:
                        continue
            alive[pid] = st
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                print(f"processes still present: {sorted(alive)}",
                      file=sys.stderr)
                return
            for pid, st in alive.items():
                if st[1] != "Z":
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)
            killed, deadline = True, time.monotonic() + 5
        time.sleep(0.05)


class Loop:
    """Closed-loop pass runner: one client, next pass after the last check.
    Component spans are always recorded (plain Python timers); "tracing"
    means Spark's event log and the layer probes of ``--trace 1``."""

    def __init__(self, wl) -> None:
        self.wl = wl
        self.attempted = 0
        self.failed = 0

    def one(self, tracer) -> float | None:
        from logstash_codec_protobuf_spark import cache

        cache.release_tracked()  # no pass reuses another pass's frames
        self.attempted += 1
        try:
            with tracer.span("pass", self.attempted) as span:
                res = self.wl.run_pass(tracer, span)
            problems = self.wl.check(res)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if problems:
            print(f"check failed: {problems}", file=sys.stderr)
            self.failed += 1
        by_name: dict[str, float] = {}
        for c in tracer.children(span):
            by_name[c.name] = by_name.get(c.name, 0.0) + c.dur
        parts = " ".join(f"{n} {d:.3f}" for n, d in sorted(
            by_name.items(), key=lambda kv: -kv[1])[:8])
        print(f"pass {self.attempted}: {span.dur:.3f} s {parts}",
              file=sys.stderr)
        return span.dur

    def run(self, seconds: float, tracer) -> list[float]:
        """Passes until ``seconds`` have elapsed (at least one)."""
        times: list[float] = []
        end = time.perf_counter() + seconds
        while not times or time.perf_counter() < end:
            dt = self.one(tracer)
            if dt is not None:
                times.append(dt)
            elif not times and self.failed >= 3:
                break
        return times


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and child processes (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import logstash_codec_protobuf_spark  # noqa: F401  (fail before set-up)
    import workloads
    from spans import Tracer

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = _submit_args(work, _cores())

    wl = workloads.WORKLOADS[args.workload](work)
    loop = Loop(wl)
    tracer = Tracer()
    try:
        gen = []
        for _ in range(GEN_REPEATS if args.trace == 0 else 1):
            t0 = time.perf_counter()
            wl.generate(args.seed)
            gen.append(time.perf_counter() - t0)
        if hasattr(wl, "start_oracles"):
            wl.start_oracles()
        t0 = time.perf_counter()
        spark = _session()
        session_s = time.perf_counter() - t0
        wl.bind(spark)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        if hasattr(wl, "join_oracles"):
            wl.join_oracles()
        oracle_wait_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(gen) + warm_s + oracle_wait_s
        print(f"setup {setup_s:.3f} s: generate {statistics.median(gen):.3f} s"
              f" (median of {' '.join(f'{g:.3f}' for g in gen)}), "
              f"session {session_s:.3f} s, "
              f"warm-up {warm_s:.3f} s, oracle wait {oracle_wait_s:.3f} s",
              file=sys.stderr)

        if args.trace == 0:
            pids = [os.getpid(), _jvm_pid(spark)]
            _compact(spark)
            _reset_hwm(pids)
            steal0, total0 = _cpu_ticks()
            times = loop.run(args.seconds, tracer)
            peak = _hwm_mb(pids)
            steal1, total1 = _cpu_ticks()
            # time the hypervisor ran other guests on this machine's CPUs:
            # the usual cause of a slow run on a shared host
            print(f"cpu steal during the passes "
                  f"{(steal1 - steal0) / max(1, total1 - total0):.1%}",
                  file=sys.stderr)
            if not times:
                return 1
            metrics = {"pass_s": statistics.median(times),
                       "peak_rss_mb": peak, "setup_s": setup_s}
            units = END_TO_END
            info = wl.info(tracer)
            spark.stop()
        else:
            metrics = traced(wl, loop, tracer, spark, work, args)
            if metrics is None:
                return 1
            units = workloads.LAYER_UNITS
            info = {}
    finally:
        if hasattr(wl, "close"):
            wl.close()
        # the JVM's Python workers end after the JVM does, so note them now
        started = _descendants(os.getpid())
        try:
            _shutdown_jvm()
        finally:
            _wait_gone(started | _descendants(os.getpid()))
            shutil.rmtree(work, ignore_errors=True)

    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    for k, (v, unit) in info.items():
        print(f"{k} {v:.6g} {unit}")
    print(f"failed_ratio {loop.failed / max(1, loop.attempted):.6g} ratio "
          f"({loop.failed} of {loop.attempted} passes failed)")
    print(json.dumps({
        "correct": loop.failed == 0 and loop.attempted > 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


def _restart(spark, wl, event_log_dir: str | None):
    """Stop the session and build a new one in the same JVM, with or without
    the event log. The options are JVM system properties, which the next
    SparkConf reads as it would a spark-submit ``--conf``."""
    from pyspark import SparkContext

    spark.stop()
    system = SparkContext._jvm.java.lang.System
    confs = _event_log_confs(event_log_dir or "")
    for k, v in confs.items():
        if event_log_dir:
            system.setProperty(k, v)
        else:
            system.clearProperty(k)
    spark = _session()
    wl.bind(spark)
    wl.warm()  # the new session starts its own Python workers
    return spark


def traced(wl, loop: Loop, tracer, spark, work: str, args) -> dict | None:
    """Untraced passes, traced passes with the event log on, untraced passes
    again (so JVM warm-up drifts out of the overhead figure), then the layer
    probes. Returns every per-layer metric."""
    import workloads
    from eventlog import EventLog
    from spans import Tracer, pyspark_calls

    phase = args.seconds / 3
    untraced = loop.run(phase, tracer)
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark = _restart(spark, wl, log_dir)
    app_id = spark.sparkContext.applicationId
    tracer = Tracer()  # the traced passes and probes only
    with pyspark_calls(tracer):
        loop.run(phase, tracer)
        passes = [s for s in tracer.spans if s.name == "pass"]
        wl.probe(tracer, trace=loop.attempted + 1)
    spark = _restart(spark, wl, None)
    untraced_after = loop.run(phase, tracer=Tracer())
    spark.stop()
    if not untraced or not untraced_after or not passes:
        return None
    log = EventLog(os.path.join(log_dir, app_id))

    metrics = {k: 0.0 for k in workloads.LAYER_UNITS}
    metrics.update(workloads.spark_layers(log, passes))
    metrics.update(wl.layers(tracer, passes, log))
    traced_s = statistics.median(p.dur for p in passes)
    metrics["trace.pass_s"] = traced_s
    metrics["trace.overhead_s"] = traced_s - (
        statistics.median(untraced) + statistics.median(untraced_after)) / 2
    workloads.add_log_spans(tracer, log, passes)
    covered = [workloads.covered_s(tracer, p) for p in passes]
    metrics["trace.coverage"] = statistics.median(
        c / p.dur for c, p in zip(covered, passes))
    metrics["trace.unattributed_s"] = statistics.median(
        p.dur - c for c, p in zip(covered, passes))
    dump = os.path.join(ROOT, ".bench_work",
                        f"spans-{args.workload}-s{args.seed}.json")
    tracer.dump(dump)
    print(f"{len(untraced)}+{len(untraced_after)} untraced and {len(passes)}"
          f" traced passes; spans in {os.path.relpath(dump, ROOT)}",
          file=sys.stderr)
    return metrics


if __name__ == "__main__":
    sys.exit(main())
