"""Journey benchmark for py_schemax_spark.

    python3 perfbench/run.py --workload validate_sink --seed 1 \\
        --seconds 5 --trace 0

Runs one workload's user journey in a closed loop (one caller; the next
journey starts when the previous one returns) on a single-process
``local[k]`` Spark session, checks every journey's output against a
DuckDB oracle, and prints one JSON object as the last stdout line.
``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``,
``--trace 1`` the per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CORES = min(2, os.cpu_count() or 1)
HEAP_MB = 2048


def _environment(work: Path) -> None:
    """Fit Spark to this machine from the outside: cores, heap, local
    dirs and temp files inside the work dir, worker import path."""
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    prior = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": f"{ROOT}{os.pathsep}{prior}" if prior else str(ROOT),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_DRIVER_MEM": f"{HEAP_MB}m",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
    })
    sys.path.insert(0, str(ROOT))


def start_session(work: Path, event_dir: Path | None = None):
    from py_schemax_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the whole heap is committed and touched at start, so it is a
        # known share of the JVM's resident memory (see measure). JIT
        # compiler threads live as long as the JVM, so
        # tracing.cpu_seconds can leave out all their time.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
            f"-Xms{HEAP_MB}m -XX:+AlwaysPreTouch "
            "-XX:-UseDynamicNumberOfCompilerThreads",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir.as_uri(),
                     # one plain JSON-lines file, read while it grows
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    return get_spark(app_name="perfbench", master=f"local[{CORES}]",
                     shuffle_partitions=CORES, extra_conf=conf)


def shutdown() -> None:
    """Stop Spark, end the Spark JVM and wait for every process this
    run started (the JVM and its Python workers)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.tracing import child_processes

    started = child_processes()
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            state = f.read().rsplit(b")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in (b"Z", b"X")


def _tally(groups: list) -> tuple[int, int]:
    """Journeys attempted and failed. Each group holds the journeys of
    one command on one input; a journey whose output digest differs from
    its group's first fails too."""
    attempted = failed = 0
    for results in groups:
        for r in results:
            if r.digest != results[0].digest:
                r.problems.append("output differs from the first journey")
            if r.problems:
                failed += 1
                print(f"FAILED: {r.problems}", file=sys.stderr)
        attempted += len(results)
    return attempted, failed


def _log(what: str, value) -> None:
    print(f"[perfbench] {what}: {value}", file=sys.stderr, flush=True)


def measure(wl, seed: int, seconds: int, work: Path) -> tuple[dict, list]:
    """Untraced run: setup, one cold journey, then warm journeys for
    ``seconds``, at least one. Returns the end-to-end metrics and the
    groups of journeys to tally."""
    from perfbench import journeys as J
    from perfbench.tracing import (
        PssSampler,
        cpu_seconds,
        cpu_steal,
        live_heap_bytes,
    )

    steal0, total0 = cpu_steal()
    with PssSampler() as mem:
        c0 = cpu_seconds()
        spark = start_session(work)
        paths = J.generate(spark, wl, work / "inputs", seed)
        setup_s = cpu_seconds() - c0
        exp = J.expected(wl, paths)
        cold = J.run_journey(spark, wl, paths, exp, work)
        deadline = time.perf_counter() + seconds
        warm = [J.run_journey(spark, wl, paths, exp, work)]
        # memory over set-up and the first two journeys, so that it does
        # not depend on how many journeys fit in the window: the heap's
        # pages are all resident from the start, so count the heap the
        # program keeps live instead
        mem_mb = (mem.peak_bytes / 2**20 - HEAP_MB
                  + live_heap_bytes(spark) / 2**20)
        while time.perf_counter() < deadline:
            warm.append(J.run_journey(spark, wl, paths, exp, work))
    for r in [cold] + warm:
        _log("journey wall s, cpu s", f"{r.wall_s:.3f} {r.cpu_s:.3f}")
    steal1, total1 = cpu_steal()
    # other guests on the host stretch wall times, not CPU times
    _log("cpu steal share", f"{(steal1 - steal0) / (total1 - total0):.3f}")
    return {
        "docs_per_cpu_s": (J.n_docs(wl, exp)
                           / statistics.median(r.cpu_s for r in warm)),
        "cold_cpu_s": cold.cpu_s,
        "setup_s": setup_s,
        "peak_mem_mb": mem_mb,
    }, [[cold] + warm]


def trace(wl, seed: int, work: Path) -> tuple[dict, list]:
    """Traced run, event log on: a cold and an untraced warm journey,
    the traced journey (job group + phase spans), then the isolated
    layer calls. Every workload reports every layer: the layers its
    journey does not reach are measured on the other workload's
    inputs."""
    from perfbench import journeys as J
    from perfbench.inputs import parquet_bytes
    from perfbench.tracing import EventLog, PhaseSpans

    spark = start_session(work, work / "eventlog")
    ev = EventLog(spark, work / "eventlog")
    v_wl, c_wl = J.WORKLOADS["validate_sink"], J.WORKLOADS["curate_shards"]
    v_paths = J.generate(spark, v_wl, work / "validate", seed)
    c_paths = J.generate(spark, c_wl, work / "curate", seed)
    v_exp = J.expected(v_wl, v_paths)
    if wl is v_wl:
        paths, exp = v_paths, v_exp
    else:
        paths, exp = c_paths, J.expected(c_wl, c_paths)
    # the traced journey is compared with the untraced warm one before
    # it; the cold one warms the session up
    done = [J.run_journey(spark, wl, paths, exp, work) for _ in range(2)]
    with PhaseSpans() as spans, ev.group("journey"):
        traced = J.run_journey(spark, wl, paths, exp, work)
    c = ev.take("journey")
    run_s, sink_s = sum(spans.core_walls), sum(spans.sink_walls)
    table = paths["corpus"] if wl.family == "curate" else paths["pages"]
    m = {
        "runner.run_s": run_s,
        "cli.sink_s": sink_s,
        "cli.self_s": traced.wall_s - run_s - sink_s,
        "tracing_overhead_s": traced.wall_s - done[-1].wall_s,
        "journey.jobs": c["jobs"],
        "journey.scan_passes": c["scan_bytes"] / parquet_bytes(table),
        "journey.shuffle_bytes": c["shuffle_bytes"],
        "journey.py_bytes_out": c["py_bytes_out"],
        "journey.py_bytes_in": c["py_bytes_in"],
        "journey.out_bytes": c["out_bytes"],
        "journey.spill_bytes": c["spill_bytes"],
        "journey.gc_s": c["gc_ms"] / 1000,
    }
    ckpt, ckpt_journeys = J.checkpoint_layers(spark, v_paths, v_exp,
                                              work / "ckpt_layer")
    m.update(ckpt)
    m.update(J.validate_layers(
        spark, ev, v_paths,
        str(work / "ckpt_layer" / "out" / "violations_0"),
    ))
    m.update(J.curate_layers(spark, ev, c_paths, work))
    return m, [done + [traced], ckpt_journeys]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "py_schemax_spark" / "__init__.py").is_file():
        print(f"error: no py_schemax_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    from perfbench.journeys import WORKLOADS

    wl = WORKLOADS[args.workload]
    try:
        if args.trace:
            metrics, journeys = trace(wl, args.seed, work)
        else:
            metrics, journeys = measure(wl, args.seed, args.seconds, work)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it
    if set(metrics) != set(units):
        raise RuntimeError(
            f"metrics {sorted(set(metrics) ^ set(units))} do not match "
            "BENCHMARK.json"
        )
    attempted, failed = _tally(journeys)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
