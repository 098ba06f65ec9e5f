"""Tests of the benchmark's own computations.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class OpenLoopLatency(unittest.TestCase):
    def test_counted_from_due_time_not_send_time(self):
        # 1000 ev/s from t=0: event i is due at i ms.  The generator stalled
        # and sent events 0..4 together at 50 ms; their batch wrote at 100 ms.
        chunks = [{"offset": 0, "first": 0, "end": 5, "send_ns": 50_000_000}]
        progress = [{"batch": 0, "start_offset": None, "end_offset": "0"}]
        batches = [{"batch": 0, "write_end_ns": 100_000_000}]
        fresh, unmapped = stats.freshness_ms(chunks, progress, batches, 0, 1000)
        self.assertEqual(unmapped, 0)
        self.assertEqual(fresh, [100.0, 99.0, 98.0, 97.0, 96.0])
        lag = stats.generator_lag_ms(chunks, 0, 1000)
        self.assertEqual(lag, [50.0, 49.0, 48.0, 47.0, 46.0])

    def test_events_map_to_batches_by_source_offset(self):
        chunks = [{"offset": o, "first": o, "end": o + 1, "send_ns": 0} for o in range(4)]
        progress = [{"batch": 7, "start_offset": None, "end_offset": "1"},
                    {"batch": 8, "start_offset": "1", "end_offset": "3"}]
        batches = [{"batch": 7, "write_end_ns": 10_000_000},
                   {"batch": 8, "write_end_ns": 20_000_000}]
        fresh, unmapped = stats.freshness_ms(chunks, progress, batches, 0, 1000)
        self.assertEqual(fresh, [10.0, 9.0, 18.0, 17.0])
        self.assertEqual(unmapped, 0)

    def test_event_of_an_unfinished_batch_is_unmapped(self):
        chunks = [{"offset": 5, "first": 0, "end": 3, "send_ns": 0}]
        fresh, unmapped = stats.freshness_ms(chunks, [], [], 0, 1000)
        self.assertEqual((fresh, unmapped), ([], 3))


class Percentiles(unittest.TestCase):
    def test_ten_samples_beyond_rule(self):
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertEqual(stats.percentile(list(range(100)), 90), 89)
        self.assertIsNone(stats.percentile(list(range(199)), 95))
        self.assertEqual(stats.percentile(list(range(200)), 95), 189)
        self.assertIsNone(stats.percentile(list(range(19)), 50))
        self.assertEqual(stats.percentile(list(range(20)), 50), 9)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 40
        self.assertEqual(stats.percentile(xs, 50), stats.percentile(sorted(xs), 50))


class SelfTime(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        spans = [{"id": 1, "parent": 0, "start_ns": 0, "end_ns": 100},
                 {"id": 2, "parent": 1, "start_ns": 10, "end_ns": 40},
                 {"id": 3, "parent": 1, "start_ns": 30, "end_ns": 60},
                 {"id": 4, "parent": 2, "start_ns": 15, "end_ns": 20},
                 {"id": 5, "parent": 1, "start_ns": 90, "end_ns": 120}]
        st = stats.self_time(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[5], 30)


def env(op, rows, es, table="t_meeting_info", ddl=False):
    return json.dumps({"data": rows, "database": "mrbs", "es": es, "isDdl": ddl,
                       "old": None, "table": table, "type": op})


class ReplayOracle(unittest.TestCase):
    dim = gen.dim_lookup([(1, "Room 1", 1), (2, "Room 2", None)], [(1, "Floor 1", "Beijing")])

    def row(self, key, code, addr):
        return {"id": str(key), "meeting_code": code, "address_id": addr}

    def test_insert_update_delete_of_one_key_in_one_batch(self):
        lines = [env("INSERT", [self.row(7, "a", "1")], 1),
                 env("UPDATE", [self.row(7, "b", "1")], 2),
                 env("DELETE", [self.row(7, "b", "1")], 3)]
        rows, st = gen.replay(lines, self.dim)
        self.assertEqual(rows, {})
        self.assertEqual(st["meeting_rows"], 3)

    def test_last_writer_by_es_not_by_line_order(self):
        lines = [env("UPDATE", [self.row(7, "late", "1")], 9),
                 env("INSERT", [self.row(7, "early", "1")], 4)]
        rows, _ = gen.replay(lines, self.dim)
        self.assertEqual(rows[7][1], "late")

    def test_dangling_foreign_key_left_joins_to_nulls(self):
        lines = [env("INSERT", [self.row(1, "x", "999")], 1),
                 env("INSERT", [self.row(2, "y", "2")], 2),
                 env("INSERT", [self.row(3, "z", "1")], 3)]
        rows, _ = gen.replay(lines, self.dim)
        self.assertEqual(rows[1], (1, "x", None, None, None, None))
        self.assertEqual(rows[2], (2, "y", 2, "Room 2", None, None))
        self.assertEqual(rows[3], (3, "z", 1, "Room 1", "Floor 1", "Beijing"))

    def test_corrupt_ddl_and_other_table_lines_are_skipped(self):
        good = env("INSERT", [self.row(5, "k", "1")], 1)
        lines = [good[:30],
                 env("ALTER", None, 2, ddl=True),
                 env("INSERT", [{"id": "5", "name": "user"}], 3, table="t_user"),
                 "not json at all",
                 good]
        rows, st = gen.replay(lines, self.dim)
        self.assertEqual(list(rows), [5])
        self.assertEqual(st["skipped"], 4)
        self.assertEqual(gen.meeting_rows_per_line(lines), [0, 0, 0, 0, 1])

    def test_generated_feed_is_seeded(self):
        self.assertEqual(gen.cdc_feed(3, 500), gen.cdc_feed(3, 500))
        self.assertNotEqual(gen.cdc_feed(3, 500), gen.cdc_feed(4, 500))


class SinkCompare(unittest.TestCase):
    def test_lost_extra_duplicate_wrong(self):
        expected = {1: (1, "a", None, None, None, None), 2: (2, "b", 3, "R", "F", "C"),
                    3: (3, "c", None, None, None, None)}
        rows = [["2", "b", "3", "R", "F", "C"], ["3", "WRONG", None, None, None, None],
                ["4", "d", None, None, None, None], ["2", "b", "3", "R", "F", "C"]]
        res = check.sink(rows, expected)
        self.assertEqual((res["lost"], res["extra"], res["duplicate"], res["wrong"]), (1, 1, 1, 1))

    def test_exact_match(self):
        expected = {1: (1, "a", 4, "R", None, None)}
        res = check.sink([["1", "a", "4", "R", None, None]], expected)
        self.assertEqual(res["examples"], [])


if __name__ == "__main__":
    unittest.main()
