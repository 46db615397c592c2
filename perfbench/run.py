"""Cube benchmark: one seeded workload, closed loop, one job at a time.

Usage (from the repository root):

    python3 perfbench/run.py --workload polygon_burn --seed 1 \
        --seconds 7 --trace 0

Generates the workload's documents table from ``--seed``, sets the
engine's Spark session up at ``local[<cpus>]`` twice (a cold JVM, then
a warm restart; ``setup_s`` is the median), prepares the workload, runs
its untimed warm-up jobs, then runs its job back to back until
``--seconds`` have passed and at least one job was timed, checking every
output against an engine-free oracle. Every job is reported: no
best-of, no retries.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same loop with every other job traced (driver spans + Spark event log),
then the workload's probe (extra layer calls, run twice, the second
traced) and the extract probe, and prints the per-layer metrics.
Human-readable lines come first; the last line of stdout is one JSON
object. Everything the run writes lives under ``.perfbench_work/``
(removed at exit) and, for traced runs, ``.perfbench_out/`` in the
repository root.
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
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 2          # set-ups per run (a cold JVM, then a warm restart)
MIN_JOBS = 1        # even when one job outlasts --seconds


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _listed(kind: str):
    """Metric names of one kind in BENCHMARK.json, or None without it."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            return {m["name"] for m in json.load(fh)[kind]}
    except (OSError, ValueError, KeyError):
        return None


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "geocube_spark", "cube.py"))


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def start_session(work: str, event_dir: str | None):
    from geocube_spark.session import get_spark

    cpus = _cpus()
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tiny_cube(spark, path: str) -> None:
    """The first cube of a session: a few rectangles burned."""
    from geocube_spark.cube import make_geocube
    from perfbench.workloads import COMMON

    make_geocube(spark.read.parquet(path), measurements=["val"], fill=0.0,
                 merge_alg="add", **COMMON).chunks.count()


def stop_jvm(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()     # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def reap_children(timeout_s: float = 20.0) -> None:
    """Wait for every descendant (Python workers) to end; kill the
    stragglers after ``timeout_s``."""
    from perfbench.host import descendants

    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while descendants(me) and time.monotonic() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)
    for pid in descendants(me):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def run(args, work: str) -> dict:
    from perfbench import gen, host, tracing
    from perfbench.workloads import WORKLOADS

    traced = bool(args.trace)
    phase = {"t0": time.perf_counter()}
    health = [host.host_health()]
    tracer = tracing.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    wl = WORKLOADS[args.workload](args.seed, work, tracer)
    wl.generate()
    tiny = os.path.join(work, "tiny.parquet")
    gen.polygon_burn(args.seed, tiny, n=8, grid=512, total_area=200_000)
    phase["generated"] = time.perf_counter()
    event_dir = os.path.join(work, "events") if traced else None
    if event_dir:
        os.makedirs(event_dir)

    if traced:
        import geocube_spark.cube as C
        import geocube_spark.extract as E
        from geocube_spark.grid.geobox import GeoBoxMaker

        tracer.wrap(E, "extract_vector_table_sql",
                    "extract.extract_vector_table_sql")
        tracer.wrap(C, "total_bounds", "grid.total_bounds")
        tracer.wrap(GeoBoxMaker, "from_bounds_crs", "grid.geobox")

    starts, warmups = [], []
    attempted = failed = 0
    times, peaks, traced_walls, cells = [], [], {}, []
    errors = []
    spark = None
    with host.RssSampler() as rss:
        try:
            for k in range(SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = start_session(work, event_dir)
                t1 = time.perf_counter()
                tiny_cube(spark, tiny)
                starts.append(t1 - t0)
                warmups.append(time.perf_counter() - t1)
            phase["set_up"] = t_start = time.perf_counter()
            tracer.sc = spark.sparkContext
            app_id = spark.sparkContext.applicationId

            t0 = time.perf_counter()
            tracer.enabled, tracer.job = traced, "prep"
            wl.prepare(spark)
            tracer.enabled = False
            prep_s = time.perf_counter() - t0

            # jobs below 0 warm the workers, codegen and file caches:
            # they are checked and counted, but not timed
            # a traced run compares an untraced and a traced job, both
            # after one more warm-up job
            min_jobs = 2 if traced else MIN_JOBS
            i = -wl.warmup_jobs - traced
            while (i < 0 or time.perf_counter() - t_start < args.seconds
                   or i < min_jobs):
                if i == 0:
                    t_start = time.perf_counter()
                on = traced and i > 0 and i % 2 == 1
                tracer.enabled, tracer.job = on, i
                attempted += 1
                rss.take()
                t0 = time.perf_counter()
                try:
                    out = wl.job(spark, i)
                except Exception:
                    out = None
                    errors.append(traceback.format_exc(limit=3))
                dt = time.perf_counter() - t0
                peak = rss.take()
                tracer.enabled = False
                if on:
                    traced_walls[i] = dt
                elif i >= 0:
                    times.append(dt)
                    peaks.append(peak)
                if out is None:
                    failed += 1
                else:
                    try:
                        err = wl.check(out)
                    except Exception:
                        err = traceback.format_exc(limit=3)
                    if err:
                        failed += 1
                        errors.append(err)
                    cells.append(out["cells"])
                i += 1

            phase["measured"] = time.perf_counter()
            probes = []
            if traced:
                # the probe's first pass, untraced, warms its code paths
                for on in (False, True):
                    tracer.enabled, tracer.job = on, "probe"
                    attempted += 1
                    try:
                        err = wl.probe(spark)
                    except Exception:
                        err = traceback.format_exc(limit=3)
                    if err:
                        failed += 1
                        errors.append(err)
                tracer.enabled = False
                from geocube_spark.extract import extract_vector_table_sql

                for k in range(3):
                    tracer.enabled, tracer.job = True, f"probe{k}"
                    t0 = time.perf_counter()
                    with tracer.span("extract.probe"):
                        extract_vector_table_sql(
                            spark.read.parquet(wl.docs)
                        ).write.format("noop").mode("overwrite").save()
                    probes.append(time.perf_counter() - t0)
                    tracer.enabled = False
        finally:
            tracer.unwrap_all()
            phase["probed"] = time.perf_counter()
            if spark is not None:
                stop_jvm(spark)
            phase["jvm_stopped"] = time.perf_counter()
            reap_children()
            phase["reaped"] = time.perf_counter()
    health.append(host.host_health())

    job_s = statistics.median(times)
    e2e = {
        "setup_s": (statistics.median(s + w for s, w in zip(starts, warmups)),
                    "s"),
        "job_s": (job_s, "s"),
        "cells_per_s": ((statistics.median(cells) if cells else 0) / job_s,
                        "1/s"),
        "ok_frac": ((attempted - failed) / attempted, "frac"),
    }
    info = {
        "workload": args.workload, "seed": args.seed, "cpus": _cpus(),
        "jobs": attempted, "failed": failed, "prep_s": round(prep_s, 4),
        "job_times_s": [round(t, 3) for t in times],
        "job_peaks_mb": [round(p) for p in peaks],
        "host_before": health[0], "host_after": health[1],
        "steal_s": round(health[1]["cpu_steal_s"]
                         - health[0]["cpu_steal_s"], 2),
        "setups_s": [[round(a, 2), round(b, 2)] for a, b in zip(starts, warmups)],
        "phases_s": {k: round(v - phase["t0"], 2) for k, v in phase.items()},
    }
    for line in errors[:5]:
        print("ERROR:", line.strip().replace("\n", " | "), file=sys.stderr)
    print("run:", json.dumps(info))
    for name, (v, unit) in e2e.items():
        print(f"e2e {name} = {v:.6g} {unit}")
    if not traced:
        metrics = e2e
    else:
        from perfbench.kernels import baseline
        from perfbench.layers import per_layer

        stages = tracing.read_stages(event_dir, app_id)
        metrics = per_layer(
            wl, tracer, stages, starts=starts, warmups=warmups,
            probes=probes, kernels=baseline(wl.g), peaks=peaks,
            untraced=times, traced_walls=traced_walls,
        )
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}")
        tracer.dump(stem + "-spans.json")
        with open(stem + "-stages.json", "w") as fh:
            json.dump(stages, fh)
        for name, secs in sorted(tracer.self_times().items()):
            print(f"self {name} = {secs:.6g} s")
        for name, (v, unit) in metrics.items():
            print(f"layer {name} = {v:.6g} {unit}")
    listed = _listed("per_layer" if traced else "end_to_end")
    metrics = {k: v for k, v in metrics.items()
               if listed is None or k in listed}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["polygon_burn", "grouped_points", "interp_linear",
                            "cube_query"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not _engine_present():
        print(f"geocube_spark not found under {ROOT}: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # keep every temp file Spark, the JVM and the workers write inside
    # the checkout
    os.environ["TMPDIR"] = work
    tempfile.tempdir = None
    jtmp = os.path.join(work, "jtmp")
    os.makedirs(jtmp)
    # every JVM (launcher and driver): temp files in the work dir, no
    # hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp}"
    )
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
