"""Self-tests of the seeded input generators.

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import config  # noqa: E402
import gen  # noqa: E402

SMALL = {
    "glm_factor": {"rows": 2000},
    "graph_labelprop": {"edges": 2000, "nodes": 300, "rounds": 2},
}


def digest(out_dir):
    """Hash of every file under `out_dir`, by relative path."""
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(out_dir)):
        for n in sorted(names):
            path = os.path.join(d, n)
            h.update(os.path.relpath(path, out_dir).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Determinism(unittest.TestCase):
    def generate(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, d, SMALL[workload])
            return digest(d)

    def test_same_seed_gives_identical_bytes(self):
        for w in SMALL:
            self.assertEqual(self.generate(w, 7), self.generate(w, 7), w)

    def test_other_seed_gives_other_bytes(self):
        for w in SMALL:
            self.assertNotEqual(self.generate(w, 7), self.generate(w, 8), w)

    def test_fixed_file_count_and_sizes(self):
        with tempfile.TemporaryDirectory() as d:
            paths = gen.generate("graph_labelprop", 3, d, SMALL["graph_labelprop"])
            self.assertEqual(len(os.listdir(paths["edges"])), config.FILES)
            table = pq.read_table(paths["edges"])
            self.assertEqual(table.num_rows, 2000)
            self.assertEqual(table.column_names, ["u", "v"])
            nodes = set(table.column("u").to_pylist()) | set(table.column("v").to_pylist())
            self.assertLessEqual(len(nodes), 300)

    def test_factor_design_has_384_patterns(self):
        with tempfile.TemporaryDirectory() as d:
            paths = gen.generate("glm_factor", 1, d, {"rows": 50_000})
            t = pq.read_table(paths["factor"]).to_pandas()
            self.assertEqual(len(t.drop_duplicates()), 4 * 4 * 3 * 4 * 2)

    def test_every_workload_has_a_generator_and_sizes(self):
        self.assertEqual(set(gen.GENERATORS), set(config.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
