"""Each correctness gate passes a right output and fires on a corrupted one."""
import json
import os
import shutil
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
import check  # noqa: E402
import gen  # noqa: E402

DATA = os.path.join(BENCH, "data")


class GateTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def inputs(self, workload):
        d = os.path.join(self.tmp, workload)
        if not os.path.exists(d):
            gen.generate(workload, 11, d, DATA)
        with open(os.path.join(d, "manifest.json")) as f:
            return d, json.load(f)


class ReplayGate(GateTest):
    def results(self):
        _, m = self.inputs("replay_backlog")
        ops = [("publish", [m["messages"]])]
        ops += [("parse " + lc, v) for lc, v in m["expect"].items()]
        ops += [("tag " + t, v) for t, v in m["tags"].items()]
        ops += [("range %d" % i, [n, s]) for i, (_, _, n, s) in enumerate(m["ranges"])]
        return [{"cycle": c, "op": op, "got": list(v)} for c in range(2) for op, v in ops]

    def run_gate(self, results):
        _, m = self.inputs("replay_backlog")
        out = os.path.join(self.tmp, "replay_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, "replay.json"), "w") as f:
            json.dump(results, f)
        return check.replay(out, m)[1]

    def test_right_results_pass(self):
        self.assertEqual(self.run_gate(self.results()), [])

    def test_wrong_count_fires(self):
        for op in ("publish", "parse SKIP", "parse PAD", "tag B", "range 2"):
            with self.subTest(op=op):
                r = self.results()
                next(x for x in r if x["op"] == op)["got"][0] += 1
                self.assertTrue(self.run_gate(r))

    def test_wrong_digest_fires(self):
        r = self.results()
        next(x for x in r if x["op"] == "parse NONE")["got"][2] -= 7
        self.assertTrue(self.run_gate(r))

    def test_missing_operation_fires(self):
        self.assertTrue(self.run_gate(self.results()[1:]))


class CurateGate(GateTest):
    """The oracle replayed in DuckDB on a seeded corpus, with ids shifted
    back, matches the committed digests; these keys replay in seconds."""
    KEYS = ("heavy_hitters", "decontaminate", "text_bigram_logprob", "bpe_encode")

    @classmethod
    def setUpClass(cls):
        super().setUpClass()
        d = os.path.join(cls.tmp, "curate_corpus")
        gen.generate("curate_corpus", 11, d, DATA)
        with open(os.path.join(d, "manifest.json")) as f:
            cls.manifest = json.load(f)
        cls.out = os.path.join(cls.tmp, "curate_out")
        con = check.connect(d)
        for k in cls.KEYS:
            os.makedirs(os.path.join(cls.out, k))
            con.execute("COPY (%s) TO '%s' (FORMAT PARQUET)"
                        % (check.oracle()[k]["sql"], os.path.join(cls.out, k, "part.parquet")))

    def test_seeded_oracle_matches_committed_digest(self):
        self.assertNotEqual(self.manifest["remap"]["shift"], 0)
        n, bad = check.curate(self.out, self.manifest, keys=self.KEYS)
        self.assertEqual((n, bad), (len(self.KEYS), []))

    def test_changed_row_fires(self):
        import duckdb
        bad_out = os.path.join(self.tmp, "curate_bad")
        shutil.copytree(self.out, bad_out)
        p = os.path.join(bad_out, "decontaminate", "part.parquet")
        duckdb.execute("COPY (SELECT doc_id, shared_grams + (row_number() OVER () = 1)::BIGINT AS shared_grams "
                       "FROM read_parquet('%s')) TO '%s.tmp' (FORMAT PARQUET)" % (p, p))
        os.replace(p + ".tmp", p)
        self.assertTrue(check.curate(bad_out, self.manifest, keys=self.KEYS)[1])

    def test_missing_output_fires(self):
        bad_out = os.path.join(self.tmp, "curate_missing")
        shutil.copytree(self.out, bad_out)
        shutil.rmtree(os.path.join(bad_out, "heavy_hitters"))
        self.assertTrue(check.curate(bad_out, self.manifest, keys=self.KEYS)[1])


if __name__ == "__main__":
    unittest.main()
