"""Tests for the benchmark's own arithmetic and checks.

Run from the repository root:
    python3 -m unittest discover -s graftbench/tests
"""
import datetime
import io
import json
import os
import subprocess
import sys
import tarfile
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
from bench import checks, digest, metrics  # noqa: E402


def fake_jpeg(w, h):
    """SOI + a baseline SOF0 header: enough for checks.jpeg_size."""
    sof = bytes([0xFF, 0xC0, 0, 17, 8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes(12)
    return b"\xff\xd8" + sof + b"\xff\xd9"


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 31))  # 30 samples
        value, pct, n = metrics.tail(xs)
        self.assertEqual(n, 30)
        self.assertEqual(value, 20)  # 10 samples (21..30) lie beyond it
        self.assertAlmostEqual(pct, 100 * 20 / 30)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_eleven_samples_is_the_minimum(self):
        self.assertEqual(metrics.tail(list(range(11)))[0], 0)

    def test_ten_or_fewer_reports_the_maximum(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 100.0, 3))

    def test_failed_call_counts_as_infinite(self):
        xs = [1.0] * 20 + [float("inf")] * 11
        self.assertEqual(metrics.tail(xs)[0], float("inf"))
        self.assertEqual(metrics.tail([1.0] * 20 + [float("inf")] * 10)[0], 1.0)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_nesting(self):
        self.assertEqual(metrics.union_length([(0, 4), (2, 6), (3, 5), (8, 9)]), 7)

    def test_union_clips(self):
        self.assertEqual(metrics.union_length([(0, 10), (12, 20)], 5, 15), 8)

    def test_driver_gap(self):
        # action 100..200, stages cover 110..150 and 140..170 -> 60 covered
        self.assertEqual(metrics.driver_gap(100, 200, [(110, 150), (140, 170)]), 40)
        self.assertEqual(metrics.driver_gap(100, 200, []), 100)
        self.assertEqual(metrics.driver_gap(100, 200, [(50, 250)]), 0)

    def test_span_self_time(self):
        spans = [{"id": 1, "parent": -1, "start": 0, "end": 100},
                 {"id": 2, "parent": 1, "start": 10, "end": 40},
                 {"id": 3, "parent": 1, "start": 30, "end": 60},
                 {"id": 4, "parent": 3, "start": 35, "end": 45}]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 50)  # children cover 10..60
        self.assertEqual(st[3], 20)
        self.assertEqual(st[4], 10)


class DigestTest(unittest.TestCase):
    def test_order_neutral(self):
        a = digest.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = digest.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)

    def test_numbers_normalize_across_types(self):
        import decimal
        self.assertEqual(digest.cell(3), digest.cell(3.0))
        self.assertEqual(digest.cell(decimal.Decimal("2.50")), digest.cell(2.5))
        self.assertEqual(digest.cell(-0.0), "i:0")
        self.assertEqual(digest.cell(0.1), "f:3fb999999999999a")
        self.assertEqual(digest.cell(float("nan")), "f:nan")
        self.assertNotEqual(digest.cell(0.1), digest.cell(0.1 + 1e-17 * 2))

    def test_values_that_differ_change_the_digest(self):
        base = digest.digest(["a"], [(1,), (2,)])
        self.assertNotEqual(base, digest.digest(["a"], [(1,), (3,)]))
        self.assertNotEqual(base, digest.digest(["a"], [(1,)]))
        self.assertNotEqual(base, digest.digest(["b"], [(1,), (2,)]))

    def test_timestamps_are_utc_micros(self):
        t = datetime.datetime(1970, 1, 1, 0, 0, 1, 5)
        self.assertEqual(digest.cell(t), "t:1000005")
        aware = datetime.datetime(1970, 1, 1, 1, 0, 1, 5,
                                  tzinfo=datetime.timezone(datetime.timedelta(hours=1)))
        self.assertEqual(digest.cell(aware), "t:1000005")

    # The table graftbench.SelfTest builds on the JVM side.
    SELF_TEST = (["b_name", "a_int", "c_dbl", "d_arr", "e_ts", "f_flag", "g_date"], [
        ("zeta", 3, 0.1, [1.0, 2.5], datetime.datetime(2024, 1, 2, 3, 4, 5, 123456), True,
         datetime.date(1995, 1, 1)),
        ("alpha", -7, 2.0, [], None, False, None),
        (None, 0, -0.0, None, None, None, datetime.date(1970, 1, 2))])

    def test_matches_the_jvm_digest(self):
        cp_file = os.path.join(os.path.dirname(BENCH), ".bench_build", "classpath.json")
        if not os.path.exists(cp_file):
            self.skipTest("harness not built (run graftbench/run.py once)")
        with open(cp_file) as f:
            cp = json.load(f)["classpath"]
        out = subprocess.run(["java", "-Duser.timezone=UTC", "-cp", cp, "graftbench.Main",
                              "--mode", "digest-selftest"], capture_output=True, text=True,
                             check=True).stdout.split()[-1]
        self.assertEqual(out, digest.digest(*self.SELF_TEST)[0])


class QueryCheckTest(unittest.TestCase):
    def rec(self):
        return {"calls": [
            {"name": "q1", "pass": 0, "ok": True, "digest": "aa", "rows": 3, "wall_s": 0.5,
             "cpu_s": 1.0, "out_bytes": 10},
            {"name": "q2", "pass": 0, "ok": True, "digest": "bb", "rows": 1, "wall_s": 0.7,
             "cpu_s": 1.0, "out_bytes": 10},
            {"name": "q3", "pass": 0, "ok": False, "error": "boom", "wall_s": 0.1,
             "cpu_s": 0.1}],
            "passes": [{"pass": 0, "wall_s": 1.3, "cpu_s": 2.1, "calls": 3}],
            "setup_s": [1.0, 2.0, 3.0], "peak_heap_mb": 100.0}

    def test_planted_wrong_golden_raises_fail_ratio(self):
        good = {"q1": {"digest": "aa", "rows": 3, "source": "duckdb"},
                "q2": {"digest": "bb", "rows": 1, "source": "duckdb"},
                "q3": {"digest": "cc", "rows": 1, "source": "duckdb"}}
        rec = self.rec()
        wrong, _ = checks.check_queries(rec, good)
        self.assertEqual(wrong, [0, 0, 1])  # q3 raised
        planted = dict(good, q2={"digest": "zz", "rows": 1, "source": "duckdb"})
        wrong2, problems = checks.check_queries(rec, planted)
        self.assertEqual(wrong2, [0, 1, 1])
        self.assertGreater(sum(wrong2) / len(wrong2), sum(wrong) / len(wrong))
        self.assertTrue(any("q2" in p for p in problems))

    def test_failed_construction_still_yields_layer_metrics(self):
        rec = self.rec()
        # Call windows are epoch milliseconds; no stages ran, so the gap
        # is the whole action.
        rec["calls"][2].update(start=9000.0, end=9100.0, action_start=None, construct_s=None)
        for i, c in enumerate(rec["calls"][:2]):
            c.update(start=1000.0 * i, end=1000.0 * i + 500, action_start=1000.0 * i + 200,
                     construct_s=0.2, action_s=0.3)
        m = metrics.per_layer(rec, {}, 1 / 3, 0)
        self.assertAlmostEqual(m["SparkEntry.construct_ms"], 200.0)
        self.assertAlmostEqual(m["spark.driver_gap_ms"], (300 + 300 + 0) / 3)

    def test_failed_query_is_never_timed_as_fast(self):
        rec = self.rec()
        e2e, info = metrics.end_to_end(rec, [0, 0, 1])
        # samples 0.5, 0.7, inf: the median is 0.7, not the failed 0.1
        self.assertEqual(info["op_p50_s"], 0.7)
        self.assertIsNone(info["op_tail_s"])  # +inf has no JSON number
        self.assertEqual(e2e["setup_s"], 2.0)


class PipelineCheckTest(unittest.TestCase):
    def make_output(self, d, statuses):
        """A webdataset-shaped output for three URLs."""
        exp_lines, rows = [], []
        totals = {"count": 0, "successes": 0, "failed_to_download": 0, "failed_to_resize": 0}
        tar_path = os.path.join(d, "00000.tar")
        with tarfile.open(tar_path, "w") as t:
            for i, status in enumerate(statuses):
                url, key, sha = f"http://h/{i}.jpg", f"{i:09d}", f"{i:064x}"
                exp_lines.append(f"{url}\t{status}\t{sha}\n")
                rows.append({"key": key, "url": url, "status": status,
                             "sha256": sha if status == "success" else None,
                             "width": 256 if status == "success" else None,
                             "height": 256 if status == "success" else None})
                totals["count"] += 1
                totals["successes" if status == "success" else status] += 1
                if status == "success":
                    data = fake_jpeg(256, 256)
                    info = tarfile.TarInfo(f"{key}.jpg")
                    info.size = len(data)
                    t.addfile(info, io.BytesIO(data))
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(d, "00000.parquet"))
        with open(os.path.join(d, "00000_stats.json"), "w") as f:
            json.dump(totals, f)
        exp = os.path.join(d, "expected.tsv")
        with open(exp, "w") as f:
            f.writelines(exp_lines)
        return exp

    def test_clean_output_passes(self):
        with tempfile.TemporaryDirectory() as d:
            exp = self.make_output(d, ["success", "failed_to_download", "failed_to_resize"])
            n, problems = checks.check_output(d, checks.read_expected(exp), "webdataset")
            self.assertEqual((n, problems), (0, []))

    def test_planted_wrong_status_raises_fail_ratio(self):
        with tempfile.TemporaryDirectory() as d:
            exp = self.make_output(d, ["success", "failed_to_download", "failed_to_resize"])
            expected = checks.read_expected(exp)
            url = "http://h/1.jpg"
            expected[url] = ("success", expected[url][1])  # the pipeline said failed_to_download
            rec = {"expected": exp, "out_dir": d, "format": "webdataset", "urls": 3,
                   "calls": [{"count": 3, "successes": 1, "failed_to_download": 1,
                              "failed_to_resize": 1}]}
            with open(exp, "w") as f:
                f.writelines(f"{u}\t{s}\t{h}\n" for u, (s, h) in expected.items())
            wrong, problems = checks.check_pipeline(rec)
            self.assertGreaterEqual(wrong[0], 1)
            self.assertGreater(wrong[0] / rec["urls"], 0)
            self.assertTrue(any(url in p for p in problems))

    def test_jpeg_size(self):
        self.assertEqual(checks.jpeg_size(fake_jpeg(256, 128)), (256, 128))
        self.assertIsNone(checks.jpeg_size(b"not a jpeg"))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_lists_the_printed_metrics(self):
        path = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside graftbench/")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, dict(metrics.E2E))
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
