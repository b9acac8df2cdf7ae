"""Tests of the benchmark's generator, checks and record diff.

Run: python3 -m pytest perfbench   (or python3 -m unittest discover -s perfbench)
"""
import hashlib
import os
import sys
import tempfile
import unittest

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import diff  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, root).encode())
            if n.endswith(".parquet"):
                h.update(pq.read_table(p).to_pandas().to_csv().encode())
            else:
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def generate(self, workload, seed):
        d = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(d, ignore_errors=True))
        return d, gen.generate(workload, seed, d)

    def test_same_seed_same_inputs(self):
        for w in ("text_curation", "vector_graph"):
            a, _ = self.generate(w, 7)
            b, _ = self.generate(w, 7)
            self.assertEqual(tree_digest(a), tree_digest(b), w)

    def test_incident_seed_moves_batches_and_duplicates(self):
        a, ma = self.generate("incident_daily", 1)
        b, mb = self.generate("incident_daily", 2)
        c, mc = self.generate("incident_daily", 1)
        self.assertEqual(ma, mc)
        self.assertNotEqual(ma["batch_rows"], mb["batch_rows"])
        self.assertGreaterEqual(ma["batches"], 100)
        ids = lambda d, i: set(pq.read_table(
            f"{d}/batches/b{i:04d}/events.parquet").column("event_id").to_pylist())
        self.assertNotEqual(ids(a, 10), ids(b, 10))
        # every batch after the first re-delivers ids of earlier batches
        seen = set().union(*(ids(a, i) for i in range(10)))
        self.assertTrue(ids(a, 10) & seen)

    def test_incident_prefix_is_the_late_one_shot(self):
        d, m = self.generate("incident_daily", 4)
        cfg = gen.SIZES["incident_daily"]
        tail = cfg["batches"] - m["prefix_batches"]
        self.assertTrue(cfg["tail_batches"] <= tail <= cfg["tail_batches"] + cfg["tail_jitter"])
        self.assertGreater(tail, m["warm_batches"])
        got = duckdb.sql(f"SELECT count(*), max(arrival) FROM '{d}/prefix.parquet'").fetchone()
        exp = duckdb.sql(f"SELECT count(*) FROM ({checks.incident_one_shot(d, range(m['prefix_batches']), m['lookback_days'])})").fetchone()
        self.assertEqual(got, (exp[0], m["prefix_batches"] - 1))

    def test_tables_keep_sf_names_and_schemas(self):
        found = set()
        for w in ("incident_daily", "text_curation", "vector_graph"):
            d, _ = self.generate(w, 3)
            for root, _, names in os.walk(d):
                for n in names:
                    if n.endswith(".parquet") and n != "prefix.parquet":
                        t = n[:-len(".parquet")]
                        found.add(t)
                        self.assertEqual(pq.read_schema(os.path.join(root, n)).remove_metadata(),
                                         gen.base(t).schema, t)
        self.assertEqual(found, {"events", "documents", "embeddings"})

    def test_text_is_sampled_from_base_and_rotated_per_shard(self):
        d, _ = self.generate("text_curation", 5)
        docs = pq.read_table(f"{d}/main/documents.parquet").to_pydict()
        by_id = dict(zip(docs["doc_id"], docs["text"]))
        base = gen.base("documents").to_pydict()
        base = dict(zip(base["doc_id"], base["text"]))
        firsts = [i for i in by_id if i < 90_000]
        self.assertEqual(len(firsts), gen.SIZES["text_curation"]["base_docs"])
        for i in firsts:
            self.assertEqual(by_id[i], base[i])
            self.assertEqual(gen.rotate(by_id[i], 1), by_id[100_000 + i])


class ChecksTest(unittest.TestCase):
    def test_one_shot_keeps_first_arrival_and_drops_stale(self):
        d = tempfile.mkdtemp()
        day = 86_400 * 1_000_000
        schema = gen.base("events").schema
        rows = lambda ids, ts, vals: {
            "event_id": ids, "ts": ts, "user_id": [1] * len(ids),
            "event_type": ["view"] * len(ids), "value": vals,
            "props": ['{"k": 1}'] * len(ids)}
        t = 1_704_067_200 * 1_000_000 + 10 * day
        gen.write(rows([1, 2], [t, t + 1], [1.0, 2.0]), schema,
                  f"{d}/batches/b0000/events.parquet")
        # id 2 re-delivered with a corrected value; id 3 stale by 5 days
        gen.write(rows([2, 3, 4], [t + 1, t - 5 * day, t + 2], [9.0, 3.0, 4.0]),
                  schema, f"{d}/batches/b0001/events.parquet")
        got = duckdb.sql(f"SELECT event_id, value, arrival FROM "
                         f"({checks.incident_one_shot(d, [0, 1], 3)}) ORDER BY 1").fetchall()
        self.assertEqual(got, [(1, 1.0, 0), (2, 2.0, 0), (4, 4.0, 1)])

    def test_union_find_labels_by_min_id(self):
        comps = checks.union_find_components([(5, 3), (3, 9), (7, 8)])
        self.assertEqual(comps, {3: 3, 5: 3, 9: 3, 7: 7, 8: 7})


class MetricsTest(unittest.TestCase):
    def test_quantile_interpolates(self):
        self.assertEqual(run.quantile([4.0, 1.0, 3.0, 2.0], 0.5), 2.5)
        self.assertAlmostEqual(run.quantile(list(range(11)), 0.9), 9.0)

    def test_diff_verdicts(self):
        a = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.1, 10.0, 9.9, 10.2]
        self.assertEqual(diff.verdict(a, [x * 0.8 for x in a], "lower", 0.1), "better")
        self.assertEqual(diff.verdict(a, [x * 1.3 for x in a], "lower", 0.1), "worse")
        self.assertEqual(diff.verdict(a, [x * 1.01 for x in a], "lower", 0.1), "not worse")
        noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        self.assertEqual(diff.verdict(a, noisy, "lower", 0.1), "unresolved")


if __name__ == "__main__":
    unittest.main()
