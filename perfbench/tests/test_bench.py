"""Tests of the benchmark's own logic: input generation, the tail
percentile rule, the dead-gap union and span self times.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402


def tmpdir():
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    return tempfile.TemporaryDirectory(dir=os.path.join(HERE, "work"))


def files(root):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.relpath(os.path.join(d, n), root) for n in names]
    return sorted(out)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.SIZES:
            with tmpdir() as a, tmpdir() as b:
                gen.generate(w, 5, a)
                gen.generate(w, 5, b)
                self.assertEqual(files(a), files(b))
                _, diff, errors = filecmp.cmpfiles(a, b, files(a),
                                                   shallow=False)
                self.assertEqual((diff, errors), ([], []), w)

    def test_other_seed_gives_other_inputs(self):
        with tmpdir() as a, tmpdir() as b:
            gen.generate("serve", 5, a)
            gen.generate("serve", 6, b)
            self.assertFalse(filecmp.cmp(os.path.join(a, "documents.parquet"),
                                         os.path.join(b, "documents.parquet"),
                                         shallow=False))

    def test_manifest_records_every_file(self):
        with tmpdir() as a:
            m = gen.generate("maintain", 1, a)
            on_disk = [f for f in files(a) if f != "manifest.json"]
            self.assertEqual(sorted(m), on_disk)
            for f, size in m.items():
                self.assertEqual(size, os.path.getsize(os.path.join(a, f)))

    def test_id_and_key_limits(self):
        import pyarrow.parquet as pq
        with tmpdir() as a:
            gen.generate("maintain", 3, a)
            for f in ["documents.parquet"] + [
                    os.path.join("batches", n)
                    for n in os.listdir(os.path.join(a, "batches"))]:
                ids = pq.read_table(os.path.join(a, f))["doc_id"].to_pylist()
                self.assertLess(max(ids), gen.DOC_ID_LIMIT, f)
        for seed in (0, 1, 2 ** 31 - 1):
            with tmpdir() as a:
                gen.generate("serve", seed, a)
                li = pq.read_table(os.path.join(a, "lineitem.parquet"))
                for col in ("l_orderkey", "l_partkey"):
                    v = li[col].to_pylist()
                    self.assertGreaterEqual(min(v), 0)
                    self.assertLess(max(v), gen.KEY_LIMIT)

    def test_schedule_redelivers_and_replays(self):
        import pyarrow.parquet as pq
        with tmpdir() as a:
            gen.generate("maintain", 2, a)
            names = sorted(os.listdir(os.path.join(a, "batches")))
            ids = [n.split("_b")[1] for n in names]
            self.assertEqual(ids[0], ids[1])  # batch 1 delivered twice
            seen, resent = set(), 0
            for n in names[1:]:
                t = pq.read_table(os.path.join(a, "batches", n))
                d = set(t["doc_id"].to_pylist())
                resent += len(d & seen)
                seen |= d
            self.assertGreater(resent, 0)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        v, pct, n = stats.tail(list(range(1, 101)))  # 1..100
        self.assertEqual((v, pct, n), (90, 90.0, 100))
        v, pct, n = stats.tail(list(range(1, 1001)))
        self.assertEqual((v, pct), (990, 99.0))
        # exactly ten samples lie beyond the chosen one
        s = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11, 12, 13, 14, 15, 16, 17, 18,
             19, 20]
        v, pct, n = stats.tail(s)
        self.assertEqual(sum(1 for x in s if x > v), 10)
        self.assertEqual((v, pct, n), (10, 50.0, 20))

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(stats.tail(list(range(10))), (9, 100.0, 10))
        self.assertEqual(stats.tail(list(range(11))), (0, 100.0 / 11, 11))


class DeadGapTest(unittest.TestCase):
    def test_union_of_overlapping_jobs(self):
        jobs = [(10, 20), (15, 30), (40, 50), (45, 47), (60, 60), (70, 65)]
        self.assertEqual(stats.union_length(jobs), 30)
        # window 0..100: covered 10..30 and 40..50
        self.assertEqual(stats.dead_gap((0, 100), jobs), 70)

    def test_jobs_clipped_to_window(self):
        jobs = [(-5, 5), (95, 120), (30, 40)]
        self.assertEqual(stats.dead_gap((0, 100), jobs), 100 - 5 - 5 - 10)
        self.assertEqual(stats.dead_gap((0, 100), []), 100)
        self.assertEqual(stats.dead_gap((0, 100), [(0, 100), (20, 30)]), 0)

    def test_self_time_subtracts_child_cover(self):
        spans = [
            {"id": 1, "parent": 0, "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "start_ms": 10, "end_ms": 40},
            {"id": 3, "parent": 1, "start_ms": 30, "end_ms": 60},
            {"id": 4, "parent": 2, "start_ms": 15, "end_ms": 20},
        ]
        self.assertEqual(stats.self_times(spans),
                         {1: 50, 2: 25, 3: 30, 4: 5})


if __name__ == "__main__":
    unittest.main()
