"""Per-layer numbers of a traced run, from spans and event-log stages.

A stage belongs to the innermost span whose Spark job group tagged its
job. Stages under ``grid``, ``extract`` and ``vector`` spans count for
that layer. The cube is lazy, so its Python stages run under whichever
span forces the result (a write, a collect); those count for ``cube``,
split at the shuffle boundary: Python stages that read no shuffle are
the map side (``cube.cover``: tile cover, point decode), Python stages
that read one are the workload's kernel stage (``cube.burn`` or
``cube.interp``). Each number is the median over the traced jobs (and
the preparation, where the workload has one) that ran such stages;
a layer a workload never reaches reads 0.
"""

from __future__ import annotations

import statistics


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def _bucket(wl, tracer, st):
    layer, span = tracer.layer_of_group(st["group"])
    if span is None:
        return None, None
    if layer in ("grid", "extract", "vector"):
        return layer, span
    if st["python"]:
        side = "cover" if st["shuffle_read_bytes"] == 0 else wl.post_shuffle
        return f"cube.{side}", span
    return f"{layer}.jvm", span


def per_layer(wl, tracer, stages, *, starts, warmups, probes, kernels,
              peaks, untraced, traced_walls) -> dict:
    by_job: dict = {}            # job -> bucket -> [stages]
    by_span: dict = {}           # span id -> [stages]
    for st in stages:
        bucket, span = _bucket(wl, tracer, st)
        if bucket is None:
            continue
        by_job.setdefault(span["job"], {}).setdefault(bucket, []).append(st)
        by_span.setdefault(span["id"], []).append(st)

    def per_job(bucket, fn):
        return _median(fn(b[bucket]) for b in by_job.values() if bucket in b)

    def per_job_cube(fn):
        vals = []
        for b in by_job.values():
            sts = [s for k, v in b.items() if k.startswith("cube.")
                   and k != "cube.jvm" for s in v]
            if sts:
                vals.append(fn(sts))
        return _median(vals)

    def task_s(sts):
        return sum(s["task_s"] for s in sts)

    def skew(sts):
        runs = sorted(t for s in sts for t in s["task_run_s"] if t > 0)
        return runs[-1] / statistics.median(runs) if runs else 0.0

    def span_stats(name):
        return [s for s in tracer.spans if s["name"] == name]

    # write time net of the lazy cube stages it forced
    write_s = []
    for s in span_stats("checkpoint.write_cube"):
        forced = sum(st["wall_s"] for st in by_span.get(s["id"], [])
                     if st["python"])
        write_s.append(s["end"] - s["start"] - forced)
    reads = span_stats("checkpoint.read_cube_window")
    read_records = sum(st["input_records"] for s in reads
                       for st in by_span.get(s["id"], []))
    read_jobs = {s["job"] for s in reads}
    returned = sum(wl.window_rows.get(j, 0) for j in read_jobs)
    probe_task = [task_s(by_span.get(s["id"], []))
                  for s in span_stats("extract.probe")]
    uncovered = [wall - tracer.top_level_time(j)
                 for j, wall in traced_walls.items()]
    tables = wl.tables or [(0, 0)]

    m = {
        "session.start_s": (starts[0], "s"),
        "session.warmup_s": (_median(warmups), "s"),
        "host.peak_rss_mb": (_median(peaks), "MB"),
        "extract.wall_s": (_median(probes), "s"),
        "extract.task_s": (_median(probe_task), "s"),
        "grid.bounds_s": (_median(tracer.durations("grid.total_bounds")), "s"),
        "cube.cover.task_s": (per_job("cube.cover", task_s), "s"),
        "cube.cover.shuffle_write_mb": (per_job(
            "cube.cover",
            lambda sts: sum(s["shuffle_write_bytes"] for s in sts) / 2**20),
            "MB"),
        "cube.burn.task_s": (per_job("cube.burn", task_s), "s"),
        "cube.burn.task_skew": (per_job("cube.burn", skew), "ratio"),
        "cube.interp.task_s": (per_job("cube.interp", task_s), "s"),
        "cube.python_s": (per_job_cube(
            lambda sts: sum(s["python_s"] for s in sts)), "s"),
        "cube.jvm_cpu_s": (per_job_cube(
            lambda sts: sum(s["cpu_s"] for s in sts)), "s"),
        "cube.spill_mb": (per_job_cube(
            lambda sts: sum(s["spill_bytes"] for s in sts) / 2**20), "MB"),
        "cube.gc_s": (per_job_cube(lambda sts: sum(s["gc_s"] for s in sts)),
                      "s"),
        "cube.cells_burned": (_median(wl.cells_burned), "count"),
        "cube.chunks": (_median(wl.chunks), "count"),
        **{k: (v, "1/s" if k.endswith("_per_s") else "count")
           for k, v in kernels.items()},
        "checkpoint.write_s": (_median(write_s), "s"),
        "checkpoint.bytes_written": (_median(t[0] for t in tables), "bytes"),
        "checkpoint.files": (_median(t[1] for t in tables), "count"),
        "checkpoint.read_window_s": (
            _median(s["end"] - s["start"] for s in reads), "s"),
        "checkpoint.chunks_returned_per_read": (
            returned / read_records if read_records else 0.0, "ratio"),
        "vector.vectorize_s": (
            _median(tracer.durations("vector.vectorize_tiled")), "s"),
        "vector.polygons": (_median(wl.polygons), "count"),
        "trace.overhead_s": (_median(traced_walls.values())
                             - _median(untraced), "s"),
        "trace.uncovered_s": (_median(uncovered), "s"),
    }
    return m
