"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts when the previous one has finished.

A workload provides

* ``setup(spark)``: generate and write its inputs (one set-up repetition);
* ``prepare(spark)``: verify the inputs and compute the expected outputs,
  outside every timed region;
* ``op(spark, i, tracer)``: the i-th timed operation, returning its output;
* ``check(i, output)``: the output's errors (empty when correct);
* ``trace_targets(tracer)`` and ``layer_metrics(ops)`` for the traced run.
"""

from __future__ import annotations

import os
import re
import shutil
from contextlib import contextmanager

import numpy as np

from perfbench import checks, inputs
from perfbench.tracing import materialized, timed

SIZES = ("default", "tiny")


@contextmanager
def maybe_span(tracer, name, **attrs):
    if tracer is None:
        yield None
    else:
        with tracer.span(name, **attrs) as sp:
            yield sp


def _spans(ops, name):
    """Per traced operation, the spans named ``name`` below its root."""
    return [[s for s in op["spans"] if s.name == name] for op in ops]


def _median_wall(ops, name) -> float:
    walls = [sum(s.wall_s for s in spans) for spans in _spans(ops, name) if spans]
    return float(np.median(walls)) if walls else 0.0


def _median_of(ops, name, fn) -> float:
    vals = [fn(s) for spans in _spans(ops, name) for s in spans]
    return float(np.median(vals)) if vals else 0.0


def _smoothing_metrics(ops) -> dict:
    name = "operators.smoothing.smooth"
    return {
        "operators.smoothing.smooth_s": _median_wall(ops, name),
        "operators.smoothing.smooth.executor_cpu_s": _median_of(
            ops, name, lambda s: s.counters["executor_cpu_s"]
        ),
        "operators.smoothing.smooth.shuffle_write_bytes": _median_of(
            ops, name, lambda s: s.counters["shuffle_write_bytes"]
        ),
        "operators.smoothing.contrib_rows": _median_of(ops, name, lambda s: s.attrs["generated_rows"]),
        "operators.smoothing.valid_target_ratio": _median_of(
            ops, name, lambda s: s.attrs["max_join_rows"] / max(s.attrs["generated_rows"], 1)
        ),
    }


class IngestImages:
    """``run_pipeline(read_images(...), PipelineConfig())`` over a seeded
    images table, ending at a parquet sink."""

    name = "ingest_images"
    uses_images = True

    def __init__(self, seed: int, size: str, data_dir: str):
        self.seed = seed
        self.n = {"default": 16_000, "tiny": 1_500}[size]
        self.items = self.n
        self.start = inputs.image_id_offset(seed)
        self.table = os.path.join(data_dir, "images")
        self.images_path = os.path.join(self.table, "data")
        self.out = os.path.join(data_dir, "out")
        self.max_ops = float("inf")
        # the pipeline's ten-odd queries per pass keep getting faster for
        # several passes while the JVM compiles the planner's code paths
        self.warmups = 3

    def setup(self, spark) -> None:
        inputs.write_images_table(spark, self.images_path, self.n, self.start)

    def prepare(self, spark) -> None:
        from cuda_gis_smoothing_spark.hexgrid import kring_cells
        from cuda_gis_smoothing_spark.plans.pipeline import PipelineConfig

        data = self.images_path
        inputs.verify_images_table(data, self.start, self.n)
        self.plan = PipelineConfig().plan
        cells = inputs.cells_of(inputs.expected_phash(self.start, self.n))
        uniq, counts = np.unique(cells, return_counts=True)
        self.cells = uniq
        self.counts = dict(zip(uniq.tolist(), counts.tolist()))
        sample = checks.seeded_sample(uniq, 32, self.seed)
        need = np.unique(kring_cells(sample, k=self.plan.k))
        cols = inputs.read_images_columns(data, lambda ph: np.isin(inputs.cells_of(ph), need))
        ndvi = inputs.image_ndvi(cols["bytes"], cols["fmt"], cols["w"], cols["h"])
        sums = inputs.cell_sums(inputs.cells_of(cols["phash"]), ndvi)
        values = {c: inputs.derived(s / k) for c, (s, k) in sums.items()}
        self.expected = checks.oracle_expect(values, sample, self.plan.variant, self.plan.variables)

    def op(self, spark, i: int, tracer=None):
        from cuda_gis_smoothing_spark.plans import pipeline
        from cuda_gis_smoothing_spark.sources.images import read_images

        # the pipeline caches its cell table; a cached copy from the last
        # pass would let this pass skip the decode
        spark.catalog.clearCache()
        out = pipeline.run_pipeline(read_images(spark, self.table), pipeline.PipelineConfig())
        with maybe_span(tracer, "sources.sink.write"):
            out.write.mode("overwrite").parquet(self.out)
        return self.out

    def check(self, i: int, out_path) -> list[str]:
        import pyarrow.parquet as pq

        pdf = pq.read_table(out_path).to_pandas()
        return checks.check_smoothed(pdf, self.cells, self.expected, self.plan.variables, self.counts)

    def trace_targets(self, tracer):
        from cuda_gis_smoothing_spark.operators import multimodal
        from cuda_gis_smoothing_spark.plans import pipeline

        return [
            (multimodal, "cell_partials", materialized(tracer, "operators.multimodal.cell_partials")),
            (pipeline, "ingest_cells", materialized(tracer, "plans.pipeline.ingest_cells")),
            (pipeline, "smooth", materialized(tracer, "operators.smoothing.smooth")),
            (pipeline, "tile_assignment", materialized(tracer, "operators.spatial.tile_assignment")),
        ]

    def layer_metrics(self, ops) -> dict:
        partials = "operators.multimodal.cell_partials"
        ingest = "plans.pipeline.ingest_cells"
        return {
            "operators.multimodal.cell_partials_s": _median_wall(ops, partials),
            "operators.multimodal.partial_rows_per_image": _median_of(ops, partials, lambda s: s.rows / self.n),
            "operators.multimodal.cell_partials.executor_cpu_s": _median_of(
                ops, partials, lambda s: s.counters["executor_cpu_s"]
            ),
            "plans.pipeline.ingest_cells_s": _median_wall(ops, ingest),
            "plans.pipeline.ingest_cells.shuffle_write_bytes": _median_of(
                ops, ingest, lambda s: s.counters["shuffle_write_bytes"]
            ),
            "plans.pipeline.ingest_cells.shuffle_read_bytes": _median_of(
                ops, ingest, lambda s: s.counters["shuffle_read_bytes"]
            ),
            **_smoothing_metrics(ops),
            "operators.spatial.tile_assignment_s": _median_wall(ops, "operators.spatial.tile_assignment"),
            "sources.sink.write_s": _median_wall(ops, "sources.sink.write"),
        }


class SmoothGrid:
    """The pipeline's own smoothing plan over a seeded synthetic hex grid
    with a seeded share of dropped cells; parquet in, parquet out."""

    name = "smooth_grid"
    uses_images = False
    DROP_PERMILLE = 100

    def __init__(self, seed: int, size: str, data_dir: str):
        self.seed = seed
        self.side = {"default": 800, "tiny": 60}[size]
        self.table = os.path.join(data_dir, "grid")
        self.out = os.path.join(data_dir, "out")
        self.max_ops = float("inf")
        # the pass keeps getting faster for about ten passes (JIT)
        self.warmups = 3

    def setup(self, spark) -> None:
        grid = inputs.grid_frame(spark, self.side, self.seed, self.DROP_PERMILLE)
        grid.write.mode("overwrite").parquet(self.table)

    def prepare(self, spark) -> None:
        import pyarrow.parquet as pq

        from cuda_gis_smoothing_spark.hexgrid import kring_cells
        from cuda_gis_smoothing_spark.plans.pipeline import PipelineConfig

        self.plan = PipelineConfig().plan
        cells, ndvi = inputs.grid_expected(self.side, self.seed, self.DROP_PERMILLE)
        self.cells = cells
        self.items = len(cells)
        got = pq.read_table(self.table, columns=["cell"]).column("cell").to_numpy()
        if len(got) != len(cells) or int(got.sum()) != int(cells.sum()):
            raise RuntimeError(f"grid table: {len(got)} rows / checksum differ from the generator")
        sample = checks.seeded_sample(cells, 64, self.seed)
        hood = np.unique(kring_cells(sample, k=self.plan.k))
        pos = np.searchsorted(cells, hood).clip(0, len(cells) - 1)
        present = cells[pos] == hood
        values = {int(c): inputs.derived(float(v)) for c, v in zip(hood[present], ndvi[pos[present]])}
        self.expected = checks.oracle_expect(values, sample, self.plan.variant, self.plan.variables)

    def op(self, spark, i: int, tracer=None):
        from cuda_gis_smoothing_spark.operators import smoothing

        out = smoothing.smooth(spark.read.parquet(self.table), self.plan)
        with maybe_span(tracer, "sources.sink.write"):
            out.write.mode("overwrite").parquet(self.out)
        return self.out

    def check(self, i: int, out_path) -> list[str]:
        import pyarrow.parquet as pq

        pdf = pq.read_table(out_path).to_pandas()
        return checks.check_smoothed(pdf, self.cells, self.expected, self.plan.variables)

    def trace_targets(self, tracer):
        from cuda_gis_smoothing_spark.operators import smoothing

        return [(smoothing, "smooth", materialized(tracer, "operators.smoothing.smooth"))]

    def layer_metrics(self, ops) -> dict:
        return {
            **_smoothing_metrics(ops),
            "sources.sink.write_s": _median_wall(ops, "sources.sink.write"),
        }


_DELTA_RE = re.compile(r"^delta-b(\d+)$")
_BASE_RE = re.compile(r"^base-b(\d+)$")


def _live_deltas(log_dir: str) -> int:
    names = os.listdir(log_dir) if os.path.isdir(log_dir) else []
    bases = [int(m.group(1)) for n in names if (m := _BASE_RE.match(n))]
    floor = max(bases, default=-1)
    return sum(1 for n in names if (m := _DELTA_RE.match(n)) and int(m.group(1)) > floor)


class MaintainStream:
    """``IncrementalSmoother.process_batch`` over seeded image batches
    written during set-up, default compaction; after each batch the
    maintained state is read back with ``current_smoothed()``."""

    name = "maintain_stream"
    uses_images = True

    def __init__(self, seed: int, size: str, data_dir: str):
        self.seed = seed
        self.batches = 12
        self.batch_size = {"default": 500, "tiny": 100}[size]
        self.items = self.batch_size
        self.n = self.batches * self.batch_size
        self.start = inputs.image_id_offset(seed)
        self.table = self.images_path = os.path.join(data_dir, "batches")
        self.max_ops = self.batches
        # batch-level warm-up; later batches also differ by design, as the
        # state grows between compactions
        self.warmups = 2
        self.state = os.path.join(data_dir, "state")

    def setup(self, spark) -> None:
        inputs.write_images_table(spark, self.table, self.n, self.start, batch_size=self.batch_size)

    def prepare(self, spark) -> None:
        from cuda_gis_smoothing_spark.streaming.incremental import IncrementalSmoother

        inputs.verify_images_table(self.table, self.start, self.n)
        shutil.rmtree(self.state, ignore_errors=True)
        self.smoother = IncrementalSmoother(spark, self.state)
        self.plan = self.smoother.plan
        self.sums: dict[int, list[float]] = {}

    def batch_dir(self, i: int) -> str:
        return os.path.join(self.table, f"batch={i}")

    def op(self, spark, i: int, tracer=None):
        if i >= self.batches:
            raise IndexError(f"only {self.batches} batches were written")
        batch = spark.read.parquet(self.batch_dir(i))
        with maybe_span(tracer, "streaming.incremental.process_batch"):
            self.smoother.process_batch(batch, i)
        live = _live_deltas(os.path.join(self.state, "smoothed")) if tracer else None
        with maybe_span(tracer, "streaming.incremental.current_smoothed", live_deltas=live):
            return self.smoother.current_smoothed().toPandas()

    def check(self, i: int, pdf) -> list[str]:
        """Checks must be called for every batch, in order: they fold each
        batch into the from-scratch expectation."""
        cols = inputs.read_images_columns(self.batch_dir(i))
        ndvi = inputs.image_ndvi(cols["bytes"], cols["fmt"], cols["w"], cols["h"])
        for c, (s, k) in inputs.cell_sums(inputs.cells_of(cols["phash"]), ndvi).items():
            acc = self.sums.setdefault(c, [0.0, 0])
            acc[0] += s
            acc[1] += k
        values = {c: {"ndvi": s / k} for c, (s, k) in self.sums.items()}
        expected = checks.oracle_expect(values, values.keys(), self.plan.variant, self.plan.variables)
        cells = np.fromiter(values.keys(), dtype=np.int64, count=len(values))
        return checks.check_smoothed(pdf, cells, expected, self.plan.variables)

    def trace_targets(self, tracer):
        from cuda_gis_smoothing_spark.streaming import incremental

        def delta_size(log, df, batch_id):
            path = os.path.join(log.path, f"delta-b{batch_id:08d}")
            return {"log": os.path.basename(log.path), "bytes": inputs.dir_bytes(path), "rows": _rows(path)}

        def base_size(log, batch_id):
            path = os.path.join(log.path, f"base-b{batch_id:08d}")
            return {"log": os.path.basename(log.path), "bytes": inputs.dir_bytes(path)}

        return [
            (incremental, "cell_partials", materialized(tracer, "operators.multimodal.cell_partials")),
            (incremental, "_merge_cell_partials", timed(tracer, "streaming.incremental.merge")),
            (incremental, "smooth", materialized(tracer, "operators.smoothing.smooth")),
            (
                incremental.SnapshotLog,
                "write_delta",
                timed(tracer, "streaming.incremental.SnapshotLog.write_delta", after=delta_size),
            ),
            (
                incremental.SnapshotLog,
                "compact",
                timed(tracer, "streaming.incremental.SnapshotLog.compact", after=base_size),
            ),
        ]

    def layer_metrics(self, ops) -> dict:
        write = "streaming.incremental.SnapshotLog.write_delta"
        compact = "streaming.incremental.SnapshotLog.compact"
        per_batch_bytes, ratios, smooth_affected = [], [], []
        for op in ops:
            writes = [s for s in op["spans"] if s.name == write]
            per_batch_bytes.append(sum(s.attrs["bytes"] for s in writes))
            rows = {s.attrs["log"]: s.attrs["rows"] for s in writes}
            if rows.get("cell_aggregates"):
                ratios.append(rows["smoothed"] / rows["cell_aggregates"])
            smooth_affected.append(
                sum(s.wall_s for s in op["spans"] if s.name == "operators.smoothing.smooth")
                + sum(s.wall_s for s in writes if s.attrs["log"] == "smoothed")
            )
        compactions = [spans for spans in _spans(ops, compact) if spans]
        partials = "operators.multimodal.cell_partials"
        return {
            "operators.multimodal.cell_partials_s": _median_wall(ops, partials),
            "operators.multimodal.partial_rows_per_image": _median_of(
                ops, partials, lambda s: s.rows / self.batch_size
            ),
            "operators.multimodal.cell_partials.executor_cpu_s": _median_of(
                ops, partials, lambda s: s.counters["executor_cpu_s"]
            ),
            **_smoothing_metrics(ops),
            "streaming.incremental.batch_s": _median_wall(ops, "streaming.incremental.process_batch"),
            "streaming.incremental.read_s": _median_wall(ops, "streaming.incremental.current_smoothed"),
            "streaming.incremental.merge_s": _median_wall(ops, "streaming.incremental.merge"),
            "streaming.incremental.smooth_affected_s": float(np.median(smooth_affected)),
            "streaming.incremental.compact_s": float(
                np.mean([sum(s.wall_s for s in spans) for spans in compactions]) if compactions else 0.0
            ),
            "streaming.incremental.delta_bytes_per_batch": float(np.median(per_batch_bytes)),
            "streaming.incremental.compact_bytes_rewritten": float(
                np.mean([sum(s.attrs["bytes"] for s in spans) for spans in compactions]) if compactions else 0.0
            ),
            "streaming.incremental.live_deltas": _median_of(
                ops, "streaming.incremental.current_smoothed", lambda s: s.attrs["live_deltas"]
            ),
            "streaming.incremental.affected_per_updated": float(np.median(ratios)) if ratios else 0.0,
        }


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return 0
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


WORKLOADS = {w.name: w for w in (IngestImages, SmoothGrid, MaintainStream)}
