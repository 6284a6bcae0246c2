"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_images --seed 1 --seconds 8 --trace 0

Runs one workload in one process on ``local[<cores>]``, closed loop, one
client, and prints one JSON line last on stdout:

* ``--trace 0``: the end-to-end metrics (set-up time, median operation
  time, throughput, peak resident memory), measured with tracing off;
* ``--trace 1``: the per-layer metrics of a separate traced run; its
  spans are also written to ``perfbench/.work/<run>/trace.json``.

Every operation's output is checked against an independent
expectation outside the timed region; a wrong output or a raised error
counts as a failed operation. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

#: input set-ups per untraced run; setup_s is the session start plus
#: their median
SETUP_REPS = 3
#: fewest timed operations per run, whatever ``--seconds`` says
MIN_OPS = 3

END_TO_END = {
    "setup_s": "s",
    "pass_s_p50": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.images.write_s": "s",
    "spark.noop_job_s": "s",
    "spark.jobs_per_pass": "count",
    "spark.stages_per_pass": "count",
    "spark.tasks_per_pass": "count",
    "spark.unattributed_jobs": "count",
    "pass.executor_cpu_s": "s",
    "pass.executor_run_s": "s",
    "pass.shuffle_read_bytes": "bytes",
    "pass.shuffle_write_bytes": "bytes",
    "pass.spill_bytes": "bytes",
    "pass.input_bytes": "bytes",
    "pass.input_records": "count",
    "trace.pass_untraced_s": "s",
    "trace.pass_traced_s": "s",
    "trace.overhead_s": "s",
    "trace.layers_wall_s": "s",
    "trace.unspanned_s": "s",
    "functions.codecs.decode_us_per_image.rgb8_raw": "us",
    "functions.codecs.decode_us_per_image.png": "us",
    "functions.codecs.decode_us_per_image.jpeg": "us",
    "hexgrid.latlng_to_cell_ns_per_point": "ns",
    "operators.multimodal.cell_partials_s": "s",
    "operators.multimodal.partial_rows_per_image": "ratio",
    "operators.multimodal.cell_partials.executor_cpu_s": "s",
    "plans.pipeline.ingest_cells_s": "s",
    "plans.pipeline.ingest_cells.shuffle_write_bytes": "bytes",
    "plans.pipeline.ingest_cells.shuffle_read_bytes": "bytes",
    "operators.smoothing.smooth_s": "s",
    "operators.smoothing.smooth.executor_cpu_s": "s",
    "operators.smoothing.smooth.shuffle_write_bytes": "bytes",
    "operators.smoothing.contrib_rows": "count",
    "operators.smoothing.valid_target_ratio": "ratio",
    "operators.spatial.tile_assignment_s": "s",
    "sources.sink.write_s": "s",
    "streaming.incremental.batch_s": "s",
    "streaming.incremental.read_s": "s",
    "streaming.incremental.merge_s": "s",
    "streaming.incremental.smooth_affected_s": "s",
    "streaming.incremental.compact_s": "s",
    "streaming.incremental.delta_bytes_per_batch": "bytes",
    "streaming.incremental.compact_bytes_rewritten": "bytes",
    "streaming.incremental.live_deltas": "count",
    "streaming.incremental.affected_per_updated": "ratio",
}


class Tally:
    """Operations attempted and failed, with the first errors logged."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, label: str, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            harness.log(f"{label}: WRONG OUTPUT: " + "; ".join(errors[:5]))


def run_op(wl, spark, i: int, tally: Tally, tracer=None, layers: bool = False):
    """One operation and its check; with a ``tracer`` the operation runs in
    a root span, and with ``layers`` also records its layer spans.
    Returns the operation's wall time, or None when it raised."""
    from perfbench.workloads import maybe_span

    t0 = time.perf_counter()
    try:
        with maybe_span(tracer, "op", run_id=f"op{i}"):
            out = wl.op(spark, i, tracer if layers else None)
        wall = time.perf_counter() - t0
        tally.record(f"op {i}", wl.check(i, out))
        return wall
    except Exception:  # one failed operation must not end the run
        harness.log(f"op {i} raised:\n{traceback.format_exc()}")
        tally.record(f"op {i}", ["raised"])
        return None


def untraced(wl, run_dir: str, seconds: float) -> tuple[Tally, dict]:
    with harness.Stopwatch() as sw:
        spark = harness.start_session(run_dir)
    session_s, setups = sw.s, []
    for _ in range(SETUP_REPS):
        with harness.Stopwatch() as sw:
            wl.setup(spark)
        setups.append(sw.s)
    try:
        wl.prepare(spark)
        tally = Tally()
        for i in range(wl.warmups):  # JIT, Python workers, page cache
            run_op(wl, spark, i, tally)
        walls = []
        while (sum(walls) < seconds or len(walls) < MIN_OPS) and i + 1 < wl.max_ops:
            i += 1
            wall = run_op(wl, spark, i, tally)
            if wall is None:
                break  # a raised operation ends the loop; the tally keeps it
            walls.append(wall)
        if not walls:
            raise RuntimeError("no timed operation completed")
        rss = harness.peak_rss_mb(spark)
    finally:
        harness.stop_session(spark)
    p50 = harness.median(walls)
    harness.log(f"session {session_s:.2f}s, inputs {['%.2f' % s for s in setups]}, ops {['%.2f' % w for w in walls]}")
    return tally, {
        "setup_s": session_s + harness.median(setups),
        "pass_s_p50": p50,
        "items_per_s": wl.items / p50,
        "peak_rss_mb": rss,
    }


def microbenchmarks(wl) -> dict:
    """Single-threaded, in-process layer timings on payloads sampled from
    the workload's own images table."""
    import numpy as np

    from cuda_gis_smoothing_spark.datagen import phash_to_latlng
    from cuda_gis_smoothing_spark.functions import codecs
    from cuda_gis_smoothing_spark.hexgrid import GridSpec
    from perfbench import inputs

    cols = inputs.read_images_columns(wl.images_path)
    rng = np.random.default_rng(wl.seed)
    fmts = np.asarray(cols["fmt"])
    out = {}
    for fmt in codecs.FORMATS:
        idx = rng.choice(np.nonzero(fmts == fmt)[0], size=64)
        sample = [(cols["bytes"][k], int(cols["w"][k]), int(cols["h"][k])) for k in idx]
        reps, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < 0.2:
            for data, w, h in sample:
                codecs.decode(data, fmt, w, h)
            reps += 1
        out[f"functions.codecs.decode_us_per_image.{fmt}"] = (time.perf_counter() - t0) / (reps * 64) * 1e6
    lat, lon = phash_to_latlng(cols["phash"])
    grid, walls = GridSpec(), []
    for _ in range(5):
        with harness.Stopwatch() as sw:
            grid.latlng_to_cell(lat, lon)
        walls.append(sw.s)
    out["hexgrid.latlng_to_cell_ns_per_point"] = harness.median(walls) / len(lat) * 1e9
    return out


def traced(wl, run_dir: str, n_untraced: int, n_traced: int) -> tuple[Tally, dict]:
    from perfbench.tracing import Tracer, patched

    metrics = dict.fromkeys(PER_LAYER, 0.0)
    with harness.Stopwatch() as sw:
        spark = harness.start_session(run_dir)
    metrics["session.start_s"] = sw.s
    tracer = Tracer(spark)
    trace_path = os.path.join(run_dir, "trace.json")
    try:
        with harness.Stopwatch() as sw:
            wl.setup(spark)
        if wl.uses_images:
            metrics["sources.images.write_s"] = sw.s
        wl.prepare(spark)
        if wl.uses_images:
            metrics.update(microbenchmarks(wl))

        noop = []
        for _ in range(8):
            with harness.Stopwatch() as sw:
                harness.noop_sink(spark.range(1))
            noop.append(sw.s)
        metrics["spark.noop_job_s"] = harness.median(noop[3:])

        tally = Tally()
        for i in range(wl.warmups):
            run_op(wl, spark, i, tally)
        first_job = tracer.last_job_id()
        plain, spanned = [], []
        first = wl.warmups
        for i in range(first, first + n_untraced):
            run_op(wl, spark, i, tally, tracer)
            plain.append(tracer.spans[-1])
        with patched(wl.trace_targets(tracer)):
            for i in range(first + n_untraced, first + n_untraced + n_traced):
                start = len(tracer.spans)
                run_op(wl, spark, i, tally, tracer, layers=True)
                spanned.append(tracer.spans[start:])
        tracer.collect(tracer.spans, plan_rows_for=("operators.smoothing.smooth",))
        metrics["spark.unattributed_jobs"] = tracer.unattributed_jobs(first_job)
    finally:
        tracer.dump(trace_path, {"workload": wl.name, "seed": wl.seed})
        harness.stop_session(spark)

    med = harness.median
    for key in ("jobs", "stages", "tasks"):
        metrics[f"spark.{key}_per_pass"] = med([sp.counters[key] for sp in plain])
    for key in ("executor_cpu_s", "executor_run_s", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "input_bytes", "input_records"):
        metrics[f"pass.{key}"] = med([sp.counters[key] for sp in plain])
    ops = [{"root": spans[0], "spans": spans[1:]} for spans in spanned]
    untraced_s = med([sp.wall_s for sp in plain])
    traced_s = med([op["root"].wall_s for op in ops])
    metrics["trace.pass_untraced_s"] = untraced_s
    metrics["trace.pass_traced_s"] = traced_s
    metrics["trace.overhead_s"] = traced_s - untraced_s
    metrics["trace.unspanned_s"] = med([op["root"].self_s for op in ops])
    metrics["trace.layers_wall_s"] = traced_s - metrics["trace.unspanned_s"]
    metrics.update(wl.layer_metrics(ops))
    harness.log(f"trace written to {trace_path}")
    for sp in tracer.spans:
        depth, p = 0, sp.parent
        while p is not None:
            depth, p = depth + 1, tracer.spans[p].parent
        harness.log(
            f"{sp.run_id:>5} {'  ' * depth}{sp.name:<48} wall {sp.wall_s:7.3f}s self {sp.self_s:7.3f}s "
            f"jobs {sp.counters.get('jobs', 0):3d} cpu {sp.counters.get('executor_cpu_s', 0):7.2f}s "
            f"shuffle_w {sp.counters.get('shuffle_write_bytes', 0):>11,d}B"
        )
    return tally, metrics


def main(argv=None) -> int:
    if not harness.package_present():
        harness.log(f"{harness.PACKAGE}/ not found beside perfbench/: run from a full checkout")
        return 2
    from perfbench.workloads import SIZES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=SIZES, default="default", help="input size; tiny is for tests")
    args = ap.parse_args(argv)

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.size}"
    run_dir = harness.prepare_environment(run_id)
    wl = WORKLOADS[args.workload](args.seed, args.size, os.path.join(run_dir, "data"))
    try:
        if args.trace:
            # the stream runs past its first compaction (every 8 batches)
            n_untraced, n_traced = (3, 6) if args.workload == "maintain_stream" else (2, 2)
            tally, values = traced(wl, run_dir, n_untraced, n_traced)
            units = PER_LAYER
        else:
            tally, values = untraced(wl, run_dir, args.seconds)
            units = END_TO_END
    finally:
        harness.clean_run_dir(run_dir)
    harness.emit(
        tally.failed == 0,
        tally.attempted,
        tally.failed,
        {k: (values[k], u) for k, u in units.items()},
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
