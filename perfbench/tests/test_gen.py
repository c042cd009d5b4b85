"""The seeded inputs: one seed gives one set of bytes, and every seed gives
the same amount of work."""
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data")
WORKLOADS = ("replay_backlog", "curate_corpus")


def work_counts(d):
    """Everything the work depends on: file sizes, message counts, dirty
    share per kind and curate row counts, but not the bytes themselves."""
    with open(os.path.join(d, "manifest.json")) as f:
        m = json.load(f)
    counts = {k: v for k, v in m.items() if k not in ("seed", "remap", "expect", "tags", "ranges")}
    for name in sorted(os.listdir(d)):
        if name.endswith(".tsv"):
            with open(os.path.join(d, name), "rb") as f:
                data = f.read()
            counts[name] = (len(data), data.count(b"\n"))
    return counts


class GenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, workload, seed, name):
        d = os.path.join(self.tmp, name)
        gen.generate(workload, seed, d, DATA)
        return d

    def test_same_seed_same_bytes(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a, b = self.gen(w, 7, w + "-a"), self.gen(w, 7, w + "-b")
                self.assertEqual(gen.fingerprint(a), gen.fingerprint(b))

    def test_other_seed_other_bytes_same_work(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a, b = self.gen(w, 7, w + "-a"), self.gen(w, 8, w + "-b")
                self.assertNotEqual(gen.fingerprint(a), gen.fingerprint(b))
                self.assertEqual(work_counts(a), work_counts(b))

    def test_dirty_share_is_exact(self):
        d = self.gen("replay_backlog", 3, "r")
        with open(os.path.join(d, "manifest.json")) as f:
            m = json.load(f)
        for kind, per_mille in gen.DIRTY_PER_MILLE.items():
            self.assertEqual(m["dirty"][kind], m["messages"] * per_mille // 1000)

    def test_curate_remap_keeps_rows_and_order(self):
        import pyarrow.parquet as pq
        d = self.gen("curate_corpus", 3, "c")
        with open(os.path.join(d, "manifest.json")) as f:
            remap = json.load(f)["remap"]
        for table, idc in (("documents", "doc_id"), ("embeddings", "vec_id")):
            base = pq.read_table(os.path.join(DATA, table + ".parquet"))
            seeded = pq.read_table(os.path.join(d, table + ".parquet"))
            self.assertEqual(base.num_rows, seeded.num_rows)
            back = {i - remap["shift"]: r
                    for i, r in zip(seeded.column(idc).to_pylist(), seeded.to_pylist())}
            for r in base.to_pylist():
                got = dict(back[r[idc]])
                got[idc] = r[idc]
                self.assertEqual(got, r)


if __name__ == "__main__":
    unittest.main()
