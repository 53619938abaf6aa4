"""Seeded input generators: one parquet directory per frame a workload reads.

The same (workload, seed, size) always yields byte-identical files: inputs
come from one numpy PCG64 stream and are cut into `config.FILES` contiguous
parts, with no shuffle and nothing machine-dependent in between.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import config

# Factor levels are named so that alphabetical order differs from both
# frequency order and listing order: the reference level must come from
# the alphabetical rule, not from luck. Effects and level shares are fixed,
# so the IRLS iteration count does not depend on the seed; the seed only
# draws the data.
FACTOR_LEVELS = {
    "a": (["west", "north", "south", "east"], [0.4, 0.3, 0.2, 0.1]),
    "b": (["mid", "top", "lo", "hi"], [0.35, 0.3, 0.2, 0.15]),
    "c": (["red", "green", "blue"], [0.5, 0.3, 0.2]),
}
FACTOR_EFFECTS = {
    "a": [0.0, 0.5, -0.4, 0.3],
    "b": [0.0, -0.3, 0.6, 0.2],
    "c": [0.0, 0.4, -0.5],
}
FACTOR_D_BETA = 0.3
FACTOR_INTERCEPT = -0.6


def _logistic(eta):
    return 1.0 / (1.0 + np.exp(-eta))


def _bernoulli(rng, eta):
    return (rng.random(len(eta)) < _logistic(eta)).astype(np.float64)


def glm_factor(rng, rows):
    cols, eta = {}, np.full(rows, FACTOR_INTERCEPT)
    for name, (levels, probs) in FACTOR_LEVELS.items():
        idx = rng.choice(len(levels), size=rows, p=probs)
        cols[name] = np.array(levels, dtype=object)[idx]
        eta += np.array(FACTOR_EFFECTS[name])[idx]
    d = rng.integers(0, 4, size=rows).astype(np.float64)
    cols["d"] = d
    eta += FACTOR_D_BETA * d
    cols["y"] = _bernoulli(rng, eta)
    return {"factor": pa.table(cols)}


def graph_labelprop(rng, edges, nodes):
    # ids are unpadded decimal strings of a permutation, so string order
    # (which breaks label ties) differs from numeric order
    ids = np.array([str(i) for i in rng.permutation(nodes)], dtype=object)
    u = rng.integers(0, nodes, size=edges)
    # skewed targets: a few hub nodes receive most edges
    v = np.minimum((nodes * rng.random(edges) ** 3).astype(np.int64), nodes - 1)
    return {"edges": pa.table({"u": ids[u], "v": ids[v]})}


GENERATORS = {
    "glm_factor": lambda rng, s: glm_factor(rng, s["rows"]),
    "graph_labelprop": lambda rng, s: graph_labelprop(rng, s["edges"], s["nodes"]),
}


def write_frame(table, path, files=config.FILES):
    """Write `table` as `files` contiguous parquet parts under directory `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = [n * i // files for i in range(files + 1)]
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")


def generate(workload, seed, out_dir, sizes=None):
    """Write the inputs of `workload` for `seed` under `out_dir`; returns frame paths."""
    sizes = sizes or config.WORKLOADS[workload]
    rng = np.random.default_rng(seed)
    paths = {}
    for name, table in GENERATORS[workload](rng, sizes).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        write_frame(table, path)
        paths[name] = path
    return paths
