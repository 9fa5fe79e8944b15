"""The benchmark's own checkers on small fixed inputs with known answers.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "lib"))

import common  # noqa: E402
import kv_model  # noqa: E402
import workload_ingest  # noqa: E402
import zestql_model as zm  # noqa: E402


def fixture():
    """Two numeric series and one blob series:
    a: t=10 v=1 k=5, t=20 v=2 k=15, t=20 v=4 k=25 (tie at t=20), t=30 v=3 k=5
    b: t=15 v=10 k=50, t=25 v=20 (no tag)
    blob c: t=1 {"x":1}, t=2 {"x":2}
    """
    st = zm.Store()
    a, b = st.series("a"), st.series("b")
    a.add(10, 1, 1.0, ("k", "5"))
    a.add(20, 2, 2.0, ("k", "15"))
    a.add(20, 3, 4.0, ("k", "25"))
    a.add(30, 4, 3.0, ("k", "5"))
    b.add(15, 5, 10.0, ("k", "50"))
    b.add(25, 6, 20.0, None)
    c = st.series("c", blob=True)
    c.add(1, 7, '{"x": 1}')
    c.add(2, 8, '{"x": 2}')
    return st


def ts(answer):
    return [r["timestamp"] for r in answer]


def vals(answer):
    return [r["data"]["value"] for r in answer]


class ZestQlModelTest(unittest.TestCase):
    def setUp(self):
        self.st = fixture()

    def q(self, path):
        return zm.answer(self.st, path)

    def test_latest_and_earliest_per_series(self):
        self.assertEqual(self.q("/ts/a/latest"),
                         [{"timestamp": 30, "data": {"value": 3.0, "k": "5"}}])
        # one row per series, then newest first
        self.assertEqual(ts(self.q("/ts/a,b/latest")), [30, 25])
        self.assertEqual(ts(self.q("/ts/a,b/earliest")), [10, 15])

    def test_top_n_is_per_series_with_event_id_ties(self):
        # a's last 2: t=30, then the later event at the t=20 tie (v=4)
        self.assertEqual(vals(self.q("/ts/a/last/2")), [3.0, 4.0])
        self.assertEqual(vals(self.q("/ts/a/first/2")), [1.0, 2.0])
        # 2 per series, merged newest first
        self.assertEqual(ts(self.q("/ts/a,b/last/2")), [30, 25, 20, 15])
        self.assertEqual(self.q("/ts/a/last/0"), [])

    def test_windows_are_inclusive(self):
        self.assertEqual(ts(self.q("/ts/a/since/20")), [30, 20, 20])
        self.assertEqual(ts(self.q("/ts/a,b/range/15/25")), [25, 20, 20, 15])
        self.assertEqual(self.q("/ts/a/range/31/40"), [])

    def test_tag_filters_apply_after_selection(self):
        self.assertEqual(vals(self.q("/ts/a/since/0/filter/k/equals/5")), [3.0, 1.0])
        # contains is a substring match; the untagged row never matches
        self.assertEqual(vals(self.q("/ts/a,b/since/0/filter/k/contains/5")),
                         [3.0, 4.0, 2.0, 10.0, 1.0])
        # last/1 selects t=30 first, then the filter keeps nothing
        self.assertEqual(self.q("/ts/a/last/1/filter/k/equals/15"), [])

    def test_seven_aggregates(self):
        exp = {"sum": 10.0, "count": 4.0, "min": 1.0, "max": 4.0, "mean": 2.5,
               "median": 2.5, "sd": 1.2909944487358056}
        for fn, v in exp.items():
            got = self.q(f"/ts/a/since/0/{fn}")
            self.assertTrue(zm.matches({"result": v}, got), (fn, got))
        self.assertIsInstance(self.q("/ts/a/since/0/count")["result"], float)
        self.assertEqual(self.q("/ts/a/range/100/200/sum"), {})
        # sd of one row is undefined: the empty result
        self.assertEqual(self.q("/ts/a/last/1/sd"), {})
        self.assertEqual(self.q("/ts/a/since/0/filter/k/equals/5/mean"), {"result": 2.0})

    def test_length_and_untagged_rows(self):
        self.assertEqual(self.q("/ts/a,b/length"), {"length": 6})
        self.assertEqual(self.q("/ts/b/latest"),
                         [{"timestamp": 25, "data": {"value": 20.0}}])
        self.assertEqual(self.q("/ts/zz/latest"), [])

    def test_blob_reads(self):
        self.assertEqual(self.q("/ts/blob/c/last/5"),
                         [{"timestamp": 2, "data": {"x": 2}},
                          {"timestamp": 1, "data": {"x": 1}}])

    def test_matches_tolerates_summation_order_only(self):
        self.assertTrue(zm.matches({"result": 0.3}, {"result": 0.1 + 0.2}))
        self.assertFalse(zm.matches({"result": 0.3}, {"result": 0.31}))
        self.assertFalse(zm.matches({"result": 1.0}, {}))
        self.assertFalse(zm.matches([{"timestamp": 1, "data": {"value": 1.0}}], []))


class LwwModelTest(unittest.TestCase):
    def test_last_writer_wins_and_listings(self):
        m = kv_model.Lww()
        m.put("u", "b", "1")
        m.put("u", "a", "2")
        m.put("u", "b", "3")
        m.put("v", "c", "4")
        self.assertEqual(m.get("u", "b", "{}"), "3")
        self.assertEqual(m.get("u", "zz", "{}"), "{}")
        self.assertEqual(m.keys("u"), ["a", "b"])
        self.assertEqual(m.count("u"), 2)

    def test_fold_log_orders_by_write_ts_then_event_id(self):
        # log order is not time order: the newer event at a write_ts tie
        # comes first and must still win
        log = [("u", "k", "old", 100, 1, False),
               ("u", "k", "tie-high", 200, 3, False),
               ("u", "k", "tie-low", 200, 2, False),
               ("u", "j", "x", 50, 4, False),
               ("u", "j", "{}", 60, 5, True)]   # tombstone
        self.assertEqual(kv_model.fold_log(log), {("u", "k"): "tie-high"})
        # a write older than the tombstone does not resurrect the cell
        self.assertEqual(kv_model.fold_log(log + [("u", "j", "y", 55, 6, False)]),
                         {("u", "k"): "tie-high"})


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(common.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertAlmostEqual(common.percentile([1, 2, 3, 4], 95), 3.85)
        self.assertEqual(common.percentile(list(range(101)), 99), 99)
        self.assertEqual(common.percentile([7], 95), 7)
        self.assertEqual(common.percentile([1, 9], 0), 1)
        self.assertEqual(common.percentile([1, 9], 100), 9)
        self.assertEqual(common.median([5, 1, 3]), 3)
        with self.assertRaises(ValueError):
            common.percentile([], 50)


class SplitLostTest(unittest.TestCase):
    """The ingest store check: a buffer's rows are all durable, or all but
    the ones it held at the stop; any other difference is a problem."""

    @staticmethod
    def writes(n):
        ops = [{"t0": 10 * i, "t1": 10 * i + 5} for i in range(n)]
        reqs = [workload_ingest._req("POST", f"/ts/s/at/{i}",
                                     f'{{"value": {i}, "room": "r"}}') for i in range(n)]
        return {"numeric": list(zip(ops, reqs))}

    @staticmethod
    def stored(writes, keep):
        return {"numeric": [workload_ingest.stored_key(r)
                            for i, (_, r) in enumerate(writes["numeric"]) if i in keep]}

    def test_all_durable(self):
        w = self.writes(70)
        lost, problems = workload_ingest.split_lost(w, self.stored(w, range(70)))
        self.assertEqual((lost, problems), ({}, []))

    def test_the_pending_tail_lost_whole(self):
        w = self.writes(70)
        lost, problems = workload_ingest.split_lost(w, self.stored(w, range(64)))
        self.assertEqual(problems, [])
        self.assertEqual([o["t0"] for o in lost["numeric"]], [10 * i for i in range(64, 70)])

    def test_part_of_the_tail_lost(self):
        w = self.writes(70)
        _, problems = workload_ingest.split_lost(w, self.stored(w, range(66)))
        self.assertEqual(len(problems), 1)

    def test_an_old_row_lost(self):
        w = self.writes(70)
        keep = set(range(70)) - set(range(10, 16))  # six rows, but not the last six
        _, problems = workload_ingest.split_lost(w, self.stored(w, keep))
        self.assertEqual(len(problems), 1)

    def test_a_row_no_client_wrote(self):
        w = self.writes(3)
        st = self.stored(w, range(3))
        st["numeric"].append(("s", 99, 1.0, (("room", "r"),)))
        _, problems = workload_ingest.split_lost(w, st)
        self.assertEqual(len(problems), 1)

    def test_copies_of_a_row_lose_the_latest(self):
        first = workload_ingest._req("POST", "/kv/i/k", "first", "text")
        same = workload_ingest._req("POST", "/kv/i/k", "same", "text")
        w = {"kv_text": [({"t0": 0, "t1": 1}, first), ({"t0": 2, "t1": 3}, same),
                         ({"t0": 4, "t1": 5}, same)]}
        stored = {"kv_text": [workload_ingest.stored_key(r) for r in (first, same)]}
        lost, problems = workload_ingest.split_lost(w, stored, flush_rows=2)
        self.assertEqual(problems, [])
        self.assertEqual([o["t0"] for o in lost["kv_text"]], [4])


if __name__ == "__main__":
    unittest.main()
