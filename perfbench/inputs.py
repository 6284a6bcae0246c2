"""Seeded inputs and their independent expectations.

Every input is a pure function of ``(workload, seed, size)``:

* images tables come from ``datagen.gen_images`` over a block of image
  ids whose start is derived from the seed, written as parquet with the
  layout of ``sources.images.write_images``;
* the hex grid is built in Spark from column arithmetic (no Python), as
  a square patch of axial cells with a seeded share of dropped cells and
  seeded values.

The expectations (cell ids, image counts, per-cell vegetation index,
grid values) are recomputed here in numpy, without Spark, so output
checks do not trust the code under test.
"""

from __future__ import annotations

import os

import numpy as np

#: each seed owns a disjoint block of this many image ids
_ID_BLOCK = 10_000_000

_VALUE_MUL, _VALUE_SEED, _VALUE_MOD = 7919, 104_729, 1_000_003
_DROP_MUL, _DROP_SEED = 6007, 7727


def image_id_offset(seed: int) -> int:
    return (seed % 100_000 + 1) * _ID_BLOCK


def _gen_batches(start: int):
    """mapInPandas body: spark.range slices → generated image rows."""

    def gen(it):
        from cuda_gis_smoothing_spark.datagen import gen_images

        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            if not (ids == ids[0] + np.arange(len(ids))).all():
                raise ValueError("spark.range slice is not contiguous")
            out = gen_images(len(ids), start=int(ids[0]))
            if "batch" in pdf:
                out["batch"] = pdf["batch"].to_numpy()
            yield out

    return gen


def write_images_table(spark, path: str, n: int, start: int, batch_size: int | None = None) -> None:
    """Generate images ``start .. start+n-1`` and write them as parquet.

    With ``batch_size`` the table is partitioned into ``batch=<k>``
    directories of ``batch_size`` consecutive images each, written by
    one job.
    """
    from pyspark.sql import functions as F

    from cuda_gis_smoothing_spark.sources.images import IMAGES_SCHEMA

    parts = 2 * spark.sparkContext.defaultParallelism
    src = spark.range(start, start + n, 1, parts)
    schema = IMAGES_SCHEMA
    if batch_size:
        src = src.withColumn("batch", ((F.col("id") - start) / batch_size).cast("int"))
        schema += ", batch int"
    df = src.mapInPandas(_gen_batches(start), schema=schema)
    writer = (
        df.write.mode("overwrite")
        .option("parquet.block.size", 8 * 1024 * 1024)
        .option("compression", "none")
    )
    if batch_size:
        writer = writer.partitionBy("batch")
    writer.parquet(path)


def expected_phash(start: int, n: int) -> np.ndarray:
    from cuda_gis_smoothing_spark.datagen import splitmix64

    ids = np.arange(start, start + n, dtype=np.uint64)
    return splitmix64(ids).astype(np.int64)


def phash_checksum(phash: np.ndarray) -> int:
    with np.errstate(over="ignore"):
        return int(np.asarray(phash).astype(np.uint64).sum(dtype=np.uint64))


def verify_images_table(path: str, start: int, n: int) -> None:
    """Row count and content checksum of a written images table; raises
    on mismatch."""
    import pyarrow.parquet as pq

    got = pq.read_table(path, columns=["phash"]).column("phash").to_numpy()
    if len(got) != n:
        raise RuntimeError(f"images table {path}: {len(got)} rows, expected {n}")
    if phash_checksum(got) != phash_checksum(expected_phash(start, n)):
        raise RuntimeError(f"images table {path}: phash checksum mismatch")


def cells_of(phash: np.ndarray) -> np.ndarray:
    from cuda_gis_smoothing_spark.datagen import phash_to_latlng
    from cuda_gis_smoothing_spark.hexgrid import GridSpec

    lat, lon = phash_to_latlng(phash)
    return GridSpec().latlng_to_cell(lat, lon)


def image_ndvi(data, fmt, w, h) -> np.ndarray:
    """Per-image vegetation index from decoded payloads, by the
    definition in operators/multimodal.py: (G - R) / (G + R + 1e-9) over
    the integer channel means."""
    from cuda_gis_smoothing_spark.functions import codecs

    out = np.empty(len(data))
    for i, (b, f, ww, hh) in enumerate(zip(data, fmt, w, h)):
        pix = codecs.decode(b, f, int(ww), int(hh))
        s = pix.reshape(-1, 3).sum(axis=0, dtype=np.int64)
        npix = pix.shape[0] * pix.shape[1]
        r, g = s[0] / npix, s[1] / npix
        out[i] = (g - r) / (g + r + 1e-9)
    return out


def read_images_columns(path: str, mask_fn=None) -> dict[str, np.ndarray]:
    """Read an images table with pyarrow; ``mask_fn(phash)`` selects rows
    before payloads are materialized as Python objects."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["bytes", "w", "h", "fmt", "phash"])
    phash = t.column("phash").to_numpy()
    if mask_fn is not None:
        import pyarrow as pa

        t = t.filter(pa.array(mask_fn(phash)))
        phash = t.column("phash").to_numpy()
    return {
        "bytes": t.column("bytes").to_pylist(),
        "w": t.column("w").to_numpy(),
        "h": t.column("h").to_numpy(),
        "fmt": t.column("fmt").to_pylist(),
        "phash": phash,
    }


def cell_sums(cells: np.ndarray, ndvi: np.ndarray) -> dict[int, tuple[float, int]]:
    """cell -> (sum of image ndvi, image count)."""
    uniq, inv = np.unique(cells, return_inverse=True)
    sums = np.bincount(inv, weights=ndvi)
    counts = np.bincount(inv)
    return {int(c): (float(s), int(k)) for c, s, k in zip(uniq, sums, counts)}


def derived(ndvi: float) -> dict[str, float]:
    """The four smoothed variables of a cell, by derive_variables."""
    return {"ndvi": ndvi, "mndwi": ndvi * 0.9 + 0.05, "evi": ndvi * 1.1 - 0.05, "ndwi": ndvi * 0.95}


# -- synthetic hex grid -------------------------------------------------------------
def grid_frame(spark, side: int, seed: int, drop_permille: int):
    """A ``side`` x ``side`` axial patch minus a seeded share of dropped
    cells, with seeded ndvi and the derived variables; pure column
    arithmetic, no Python UDF."""
    from pyspark.sql import functions as F

    from cuda_gis_smoothing_spark.hexgrid import ENC, OFFSET
    from cuda_gis_smoothing_spark.operators.smoothing import derive_variables

    q = F.col("id") % side
    r = (F.col("id") / side).cast("long")
    cell = F.col("cell")
    base = spark.range(0, side * side, 1, 2 * spark.sparkContext.defaultParallelism).select(
        ((q + OFFSET) * ENC + (r + OFFSET)).alias("cell")
    )
    kept = base.where(F.pmod(cell * _DROP_MUL + seed * _DROP_SEED, F.lit(1000)) >= drop_permille)
    u = F.pmod(cell * _VALUE_MUL + seed * _VALUE_SEED, F.lit(_VALUE_MOD)) / float(_VALUE_MOD)
    return derive_variables(kept.select("cell", (F.lit(-0.2) + F.lit(1.1) * u).alias("ndvi")))


def grid_expected(side: int, seed: int, drop_permille: int) -> tuple[np.ndarray, np.ndarray]:
    """(sorted cell ids, ndvi) of :func:`grid_frame`, in numpy."""
    from cuda_gis_smoothing_spark.hexgrid import pack

    ids = np.arange(side * side, dtype=np.int64)
    cell = pack(ids % side, ids // side)
    keep = (cell * _DROP_MUL + seed * _DROP_SEED) % 1000 >= drop_permille
    cell = np.sort(cell[keep])
    u = ((cell * _VALUE_MUL + seed * _VALUE_SEED) % _VALUE_MOD) / float(_VALUE_MOD)
    return cell, -0.2 + 1.1 * u


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
