"""Tests for the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(run.percentile(xs, 50), 50)
        self.assertEqual(run.percentile(xs, 90), 90)
        self.assertEqual(run.percentile(xs, 100), 100)
        self.assertEqual(run.percentile([7.0], 99), 7.0)

    def test_unsorted_input(self):
        xs = [1] * 90 + [5] * 10
        xs.reverse()
        self.assertEqual(run.percentile(xs, 90), 1)
        self.assertEqual(run.percentile(xs, 91), 5)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(run.tail_percentile(list(range(9))), (None, None))
        self.assertEqual(run.tail_percentile(list(range(20)))[0], 50.0)
        self.assertEqual(run.tail_percentile(list(range(99)))[0], 50.0)
        self.assertEqual(run.tail_percentile(list(range(100)))[0], 90.0)
        self.assertEqual(run.tail_percentile(list(range(999)))[0], 90.0)
        self.assertEqual(run.tail_percentile(list(range(1000))), (99.0, 989.0))
        self.assertEqual(run.tail_percentile(list(range(10000)))[0], 99.9)


class LatencyJoinTest(unittest.TestCase):
    def test_markers_skip_crc_siblings(self):
        with tempfile.TemporaryDirectory() as dest:
            d = os.path.join(dest, "_graft_commits", "mirror")
            os.makedirs(d)
            for name, mtime_s in (("0", 100.0), ("1", 101.5), (".0.crc", 500.0),
                                  (".1.crc", 500.0)):
                p = os.path.join(d, name)
                open(p, "w").close()
                os.utime(p, (mtime_s, mtime_s))
            markers = run.marker_times(dest, "mirror")
            self.assertEqual(markers, {0: 100000.0, 1: 101500.0})
            lat = run.latency_join([99900.0, 101000.0, 101200.0], [0, 1, 1], markers)
            self.assertEqual(lat.tolist(), [100.0, 500.0, 300.0])

    def test_epoch_files(self):
        with tempfile.TemporaryDirectory() as dest:
            for name in ("graft-mirror-e3-p0.parquet", "graft-mirror-e12-p1.parquet",
                         "_provision.properties", "graft-other-e1-p0.parquet"):
                open(os.path.join(dest, name), "w").close()
            got = [(e, os.path.basename(p)) for e, p in run.epoch_files(dest, "mirror")]
            self.assertEqual(sorted(got), [(3, "graft-mirror-e3-p0.parquet"),
                                           (12, "graft-mirror-e12-p1.parquet")])


class GeneratorTest(unittest.TestCase):
    def _hash(self, seed):
        src = gen.MirrorSource(seed)
        with tempfile.TemporaryDirectory() as d:
            src.write(d, 500, 1_000_000)
            src.write(d, 700, 2_000_000)
            self.assertEqual(sorted(os.listdir(d)),
                             ["ev-0000001.parquet", "ev-0000002.parquet"])
        return src.events, src.hash

    def test_same_seed_same_content_hash(self):
        self.assertEqual(self._hash(7), self._hash(7))
        self.assertNotEqual(self._hash(7)[1], self._hash(8)[1])

    def test_offsets_dense_per_partition(self):
        src = gen.MirrorSource(3)
        t1, t2 = src.batch(400, 0), src.batch(400, 0)
        for t in (t1, t2):
            self.assertEqual(t.num_rows, 400)
        rows = {}
        for t in (t1, t2):
            for tp, o in zip(zip(t["topic"].to_pylist(), t["partition"].to_pylist()),
                             t["offset"].to_pylist()):
                rows.setdefault(tp, []).append(o)
        for offs in rows.values():
            self.assertEqual(sorted(offs), list(range(len(offs))))

    def test_hash_survives_a_parquet_round_trip(self):
        src = gen.MirrorSource(11)
        t = src.batch(300, 5)
        with tempfile.TemporaryDirectory() as d:
            gen.publish(t, d, "x.parquet")
            back = pq.read_table(os.path.join(d, "x.parquet"))
        n = back.num_rows
        key = np.frombuffer(b"".join(back["key"].to_pylist()), np.uint8).reshape(n, gen.KEY_WIDTH)
        val = np.frombuffer(b"".join(back["value"].to_pylist()), np.uint8).reshape(
            n, gen.VALUE_BYTES)
        topic = np.array([int(x[1:]) for x in back["topic"].to_pylist()])
        h = gen.wrap_sum(gen.row_hashes(topic, back["partition"].to_numpy(),
                                        back["offset"].to_numpy(), key, val))
        self.assertEqual(h, src.hash)


if __name__ == "__main__":
    unittest.main()
