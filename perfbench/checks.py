"""Output checks. Pure functions over pandas/numpy data: no Spark, so the
negative tests can feed them a perturbed output directly.

Each check returns a list of human-readable errors; an empty list means
the output is correct.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence

import numpy as np

from cuda_gis_smoothing_spark import oracle
from cuda_gis_smoothing_spark.hexgrid import kring_cells

#: absolute tolerance between the Spark output and the Python oracle;
#: both sum the same doubles, only in a different order
TOL = 1e-9


def oracle_expect(
    values: Mapping[int, Mapping[str, float]],
    cells: Iterable[int],
    variant: str,
    variables: Sequence[str],
) -> dict[int, dict[str, float]]:
    """``oracle.smooth_cells`` for ``cells`` only, fed just their k-ring
    neighbourhoods (cells absent from ``values`` are absent from the
    grid, so they contribute nothing, as in the oracle)."""
    cells = np.asarray(list(cells), dtype=np.int64)
    k = max(oracle.VARIANTS[variant])
    hood = np.unique(kring_cells(cells, k=k))
    sub = {int(c): values[int(c)] for c in hood if int(c) in values}
    full = oracle.smooth_cells(sub, variant, variables)
    return {int(c): full[int(c)] for c in cells}


def seeded_sample(cells: np.ndarray, n: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return np.sort(rng.choice(np.asarray(cells, dtype=np.int64), size=min(n, len(cells)), replace=False))


def check_smoothed(
    out,
    expected_cells: np.ndarray,
    expected: Mapping[int, Mapping[str, float]],
    variables: Sequence[str],
    expected_counts: Mapping[int, int] | None = None,
) -> list[str]:
    """``out`` (a DataFrame with ``cell`` and ``smoothed_<var>`` columns,
    plus ``n_images`` when ``expected_counts`` is given) must hold exactly
    ``expected_cells``, once each, and match ``expected`` on the cells it
    lists, within :data:`TOL`."""
    errors: list[str] = []
    cells = out["cell"].to_numpy(dtype=np.int64)
    want = np.sort(np.asarray(expected_cells, dtype=np.int64))
    got = np.sort(cells)
    if len(np.unique(got)) != len(got):
        errors.append(f"{len(got) - len(np.unique(got))} duplicate output cells")
    if len(got) != len(want) or not np.array_equal(got, want):
        missing = len(np.setdiff1d(want, got))
        extra = len(np.setdiff1d(got, want))
        errors.append(f"cell set differs: {missing} missing, {extra} unexpected, {len(got)} rows")
    if expected_counts is not None:
        counts = dict(zip(cells.tolist(), out["n_images"].to_numpy().tolist()))
        bad = [c for c, n in expected_counts.items() if counts.get(c) != n]
        if bad:
            errors.append(f"n_images differs on {len(bad)} cells, e.g. cell {bad[0]}")
        total = int(out["n_images"].sum())
        want_total = int(sum(expected_counts.values()))
        if total != want_total:
            errors.append(f"n_images sums to {total}, expected {want_total}")
    keys = np.fromiter(expected.keys(), dtype=np.int64, count=len(expected))
    index = {int(cells[i]): i for i in np.nonzero(np.isin(cells, keys))[0]}
    cols = {v: out[f"smoothed_{v}"].to_numpy(dtype=np.float64) for v in variables}
    for c, vals in expected.items():
        i = index.get(c)
        if i is None:
            errors.append(f"sampled cell {c} missing from output")
            continue
        for v in variables:
            if not abs(cols[v][i] - vals[v]) <= TOL:
                errors.append(f"cell {c} smoothed_{v} = {cols[v][i]!r}, oracle {vals[v]!r}")
    return errors
