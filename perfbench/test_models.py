"""Hand-computed cases for the benchmark's reference models and value
canonicalisation.

    python3 perfbench/test_models.py
"""
import datetime
import decimal
import os
import struct
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402


class JoinModel(unittest.TestCase):
    def test_pairs_by_name_and_window(self):
        # (step, side, ts_ms, name, grade or salary, id), 2000 ms windows
        events = [(0, "g", 1000, "tom", 3, 1), (0, "g", 10, "tom", 4, 4),
                  (0, "g", 1500, "bob", 2, 2), (0, "g", 2500, "tom", 5, 3),
                  (0, "s", 1999, "tom", 100, 10), (0, "s", 2000, "tom", 200, 11),
                  (0, "s", 100, "alice", 7, 12)]
        # tom@[0,2000): grades 1, 4 x salary 10; tom@[2000,4000): 3 x 11;
        # bob has no salary and alice no grade in their windows
        self.assertEqual(sorted(check.join_model(events, 2000)), [
            ("tom", 0, 1, 10, 3, 100), ("tom", 0, 4, 10, 4, 100),
            ("tom", 2000, 3, 11, 5, 200)])


class TopSpeedModel(unittest.TestCase):
    def test_delta_trigger_and_time_evictor(self):
        # (car, speed, distance, time_ms, seq)
        e1 = (0, 10, 20.0, 0, 1)
        e2 = (0, 30, 40.0, 1000, 2)
        e3 = (0, 20, 55.0, 2000, 3)      # 55 - 0 >= 50: fires, e2 fastest
        e4 = (0, 5, 80.0, 15000, 4)      # 80 - 55 < 50
        e5 = (0, 8, 105.0, 16000, 5)     # 105 - 55 = 50: fires; e1-e3 evicted
        e6 = (0, 8, 154.9, 16500, 6)     # 49.9 short of the trigger
        e7 = (0, 8, 160.0, 17000, 7)     # fires; e5, e6, e7 tie on speed
        f1 = (1, 40, 50.0, 0, 1)         # exactly 50 m fires on itself
        g1 = (2, 90, 49.99, 0, 1)        # never fires
        out = check.topspeed_model([e1, e2, e3, e4, e5, e6, e7, f1, g1])
        self.assertEqual(sorted(out), sorted([e2, e5, e7, f1]))

    def test_rejects_unordered_time(self):
        with self.assertRaises(ValueError):
            check.topspeed_model([(0, 1, 60.0, 10, 1), (0, 1, 70.0, 5, 2)])


class Components(unittest.TestCase):
    def test_smallest_member_is_root(self):
        root = check.components([1, 2, 3, 4, 5], [(4, 2), (2, 5), (1, 3)])
        self.assertEqual(root, {1: 1, 2: 2, 3: 1, 4: 2, 5: 2})


class Canon(unittest.TestCase):
    def test_jvm_and_duckdb_values_agree(self):
        bits = struct.unpack(">Q", struct.pack(">d", 0.1 + 0.2))[0]
        self.assertEqual(check.canon_jvm({"d": "%x" % bits}), check.canon_duck(0.1 + 0.2))
        ts = datetime.datetime(1998, 9, 2, 0, 0, 0, 5)
        micros = (ts - datetime.datetime(1970, 1, 1)) // datetime.timedelta(microseconds=1)
        self.assertEqual(check.canon_jvm({"ts": micros}), check.canon_duck(ts))
        self.assertEqual(check.canon_jvm({"dec": "12.50"}),
                         check.canon_duck(decimal.Decimal("12.5")))
        self.assertEqual(check.canon_jvm({"date": "1995-03-15"}),
                         check.canon_duck(datetime.date(1995, 3, 15)))
        self.assertEqual(check.canon_jvm([1, None, True]), check.canon_duck([1, None, True]))


if __name__ == "__main__":
    unittest.main()
