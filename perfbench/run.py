#!/usr/bin/env python3
"""Benchmark of the activity engine, one workload per invocation.

    python3 perfbench/run.py --workload arrivals --seed 1 --seconds 5 --trace 0

Run from the repository root. A run generates its inputs from ``--seed``
into a private directory under ``.perfbench/`` (deleted afterwards),
builds the engine's SparkSession on ``local[<cpus>]`` and sets up three
times: session build, workload start and one warm-up unit each, the
session stopped and rebuilt in between; ``setup_s`` is the median of
the three. The closed-loop client then runs units for ``--seconds``.
After the timed phase every op is checked against DuckDB. The last
stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.

A traced run replaces the timed phase with two passes of a fixed
number of units: untraced, then traced. The counters come from the
traced pass, so they repeat exactly for a seed; the tracing overhead is
its wall over the untraced wall. Its spans are written to
``.perfbench/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
SETUPS = 3
#: the tail percentile, fixed so the metric does not shift with the
#: number of units a run manages; ``op_samples``/``op_tail_beyond`` in
#: the traced run say how many samples it rests on
TAIL_PCT = 75
TRACED_UNITS = {"arrivals": 3, "upsert": 2}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("arrivals", "upsert"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Run hygiene: pin the core count (the engine defaults to 32 task
    slots), give the Python workers this checkout on their import path,
    and keep every Spark and engine scratch directory in ``work``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TZ"] = "UTC"
    time.tzset()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def build_session(work: str):
    from enclaveid_data_pipeline_spark.session import get_spark

    return get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })


def shutdown(spark) -> None:
    """Stop the context, then end the gateway JVM and wait for it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - still alive: kill it, then reap it
        proc.kill()
        proc.wait(timeout=30)


def reap_children() -> None:
    """Kill and wait for any child process still running (a JVM whose
    launch was interrupted before the session existed)."""
    me = os.getpid()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rfind(")") + 2:].split()[1]) == me:
            os.kill(int(name), signal.SIGKILL)
            os.waitpid(int(name), 0)


def release(spark) -> None:
    """Drop the engine's session-scoped shared caches and cached tables,
    so the timed phase does not read what warm-up left behind."""
    from enclaveid_data_pipeline_spark.queries import release_shared_caches

    release_shared_caches()
    spark.catalog.clearCache()


def run_units(wl, start: int, count: int | None = None, seconds: float | None = None):
    """Run units from index ``start`` until ``count`` units ran or
    ``seconds`` of wall passed; returns (ops, unit latencies, wall, next
    index)."""
    ops, lat, i = [], [], start
    t0 = time.perf_counter()
    while (i - start < count) if count is not None else (time.perf_counter() - t0 < seconds):
        t = time.perf_counter()
        ops.extend(wl.step(i))
        lat.append(time.perf_counter() - t)
        i += 1
    return ops, lat, time.perf_counter() - t0, i


def run(args, work: str) -> dict:
    from perfbench import gen
    from perfbench.trace import MlMeter, RssSampler, SparkMeter, Tracer, percentile
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    phase = {"start": time.perf_counter()}
    man = gen.generate(args.workload, args.seed, os.path.join(work, "inputs"), cls.sizes)
    print("# inputs " + json.dumps(gen.summary(man)), flush=True)

    phase["generated"] = time.perf_counter()
    tracer = Tracer()
    wl = cls(man, work, tracer)
    builds, warms, ops = [], [], []
    spark = sampler = None
    try:
        for k in range(SETUPS):
            if spark is not None:
                wl.stop()
                spark.stop()
            t0 = time.perf_counter()
            spark = build_session(work)
            t1 = time.perf_counter()
            if sampler is None and args.trace:
                # only traced runs report memory: the sampler's thread
                # would compete with the timed client for the GIL
                sampler = RssSampler(spark.sparkContext._gateway.proc.pid).__enter__()
            wl.start(spark, MlMeter(spark, metered=bool(args.trace)))
            ops += wl.step(k)
            builds.append(t1 - t0)
            warms.append(time.perf_counter() - t1)
        release(spark)
        if sampler is not None:
            sampler.restart()
        wl.begin_timed()
        if not args.trace:
            timed, lat, wall, _ = run_units(wl, SETUPS, seconds=args.seconds)
            ops += timed
        else:
            n = TRACED_UNITS[args.workload]
            plain1_ops, _, plain1, i = run_units(wl, SETUPS, count=n)
            release(spark)
            meter = SparkMeter(spark)
            wl.begin_timed()
            before, ml_before = meter.snapshot(), wl.ml.values()
            tracer.enable(meter)
            timed, lat, wall, i = run_units(wl, i, count=n)
            tracer.disable()
            spark_d = meter.delta(before, meter.snapshot())
            ml_d = {k: v - ml_before[k] for k, v in wl.ml.values().items()}
            written = wl.written()
            ops += plain1_ops + timed
        wl.stop()
        phase["timed"] = time.perf_counter()
        wl.verify(ops)
        phase["verified"] = time.perf_counter()
    finally:
        if spark is not None:
            wl.stop()
            shutdown(spark)
        if sampler is not None:
            sampler.__exit__(None, None, None)

    failed = [o for o in ops if o.error]
    for o in failed:
        print(f"# FAILED {o.name}: {o.error}", file=sys.stderr)
    by_name: dict[str, list[float]] = {}
    for o in timed:
        by_name.setdefault(o.name, []).append(o.seconds)
    print("# timed op medians " + json.dumps(
        {k: round(statistics.median(v), 3) for k, v in by_name.items()}), file=sys.stderr)
    marks = list(phase.items())
    print("# phases " + ", ".join(f"{b[0]} {b[1] - a[1]:.1f} s" for a, b in zip(marks, marks[1:])),
          file=sys.stderr)
    print(f"# set-ups: builds {[round(b, 2) for b in builds]} s, warm-ups "
          f"{[round(w, 2) for w in warms]} s; timed ops "
          f"{len(timed)} in {wall:.2f} s; "
          f"latencies {[round(x, 2) for x in lat]}", file=sys.stderr)
    if not args.trace:
        metrics = {
            "setup_s": (statistics.median(b + w for b, w in zip(builds, warms)), "s"),
            "op_p50_s": (percentile(lat, 50), "s"),
            "ok_frac": (1 - len(failed) / len(ops), "ratio"),
        }
    else:
        writes = [o.seconds for o in timed if o.kind == "write" and not o.error]
        reads = [o.seconds for o in timed if o.kind == "read" and not o.error]
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        metrics = {
            "session.get_spark_s": (statistics.median(builds), "s"),
            "session.warmup_s": (statistics.median(warms), "s"),
            "trace.overhead": (wall / plain1, "ratio"),
            "mem.peak_rss_mb": (sampler.peak_bytes / 2**20, "MB"),
            "failed_frac": (len(failed) / len(ops), "ratio"),
            "rows_per_s": (sum(o.rows for o in timed if not o.error) / wall, "1/s"),
            "op_tail_s": (percentile(lat, TAIL_PCT), "s"),
            "op_tail_beyond": (sum(x > percentile(lat, TAIL_PCT) for x in lat), "count"),
            "op_samples": (len(lat), "count"),
            "write_p50_s": (percentile(writes, 50) if writes else 0.0, "s"),
            "write_tail_s": (percentile(writes, TAIL_PCT) if writes else 0.0, "s"),
            "read_p50_s": (percentile(reads, 50) if reads else 0.0, "s"),
            "read_tail_s": (percentile(reads, TAIL_PCT) if reads else 0.0, "s"),
            "spark.core_util": (spark_d["task_s"] / (wall * cores), "ratio"),
            "materialize.cached_bytes_peak": (meter.storage_peak, "bytes"),
            **{f"spark.{k}": (v, unit_of(k)) for k, v in spark_d.items()},
            **{k: (v, unit_of(k)) for k, v in ml_d.items()},
            **wl.layer_metrics(written),
            **{k: (v, unit_of(k)) for k, v in tracer.layer_metrics().items()},
        }
        tracer.dump(os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json"))
    return {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "enclaveid_data_pipeline_spark")):
        print("engine package enclaveid_data_pipeline_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(STATE, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=STATE)
    try:
        configure_env(work)
        result = run(args, work)
    finally:
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
