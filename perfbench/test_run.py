"""Self-tests of the benchmark's metric code: python3 perfbench/test_run.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def outcome(face, p, seconds, error=None):
    return {"face": face, "pass": p, "seconds": seconds, "error": error}


class FailuresAreNotTimings(unittest.TestCase):
    def raw(self):
        cold = [outcome("a", 0, 5.0), outcome("boom", 0, None, "injected"),
                outcome("bad", 0, 4.0)]
        warm = [outcome(f, p, s) for p in (1, 2, 3)
                for f, s in (("a", 1.0 + p / 10), ("bad", 9.0))]
        warm += [outcome("boom", p, None, "injected") for p in (1, 2, 3)]
        return {"setup_s": 10.0, "retained_heap_mb": 100.0, "cold": cold,
                "outcomes": warm, "cold_unit": {"wall_s": 9.0, "cpu_s": 9.0},
                "units": [{"wall_s": 2.0, "cpu_s": 2.0, "traced": False}] * run.WARM_PASSES}

    def test_thrown_and_check_failed_faces_give_no_samples(self):
        raw = self.raw()
        # "bad" ran fine but its output failed the oracle compare
        m, extra = run.end_to_end("face_mix", raw, failed_faces={"boom", "bad"})
        self.assertEqual(extra["warm_samples"], 3)
        self.assertAlmostEqual(extra["warm_p50_s"], 1.2)
        self.assertAlmostEqual(extra["warm_face_geomean_s"], 1.2)
        self.assertAlmostEqual(m["wall_s"], 9.0 + 2.0 * run.WARM_PASSES)
        self.assertEqual(run.face_latencies(raw["cold"], {"boom", "bad"}), [5.0])

    def test_extra_warm_passes_stay_out_of_the_unit(self):
        raw = self.raw()
        m, _ = run.end_to_end("face_mix", raw, failed_faces=set())
        # passes run after the fixed ones, because --seconds had not yet
        # passed, add neither their wall nor their CPU time
        for extra in (1, 5):
            more = dict(raw, units=raw["units"] + [
                {"wall_s": 1.5, "cpu_s": 1.5, "traced": False}] * extra)
            m2, _ = run.end_to_end("face_mix", more, failed_faces=set())
            self.assertEqual((m2["wall_s"], m2["cpu_s"]), (m["wall_s"], m["cpu_s"]))

    def test_tail_has_ten_samples_beyond_it(self):
        value, pct, n = run.tail(list(range(1, 101)))
        self.assertEqual((value, n), (90, 100))
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)
        self.assertEqual(run.tail([3.0, 1.0, 2.0])[0], 3.0)


class ReportCheck(unittest.TestCase):
    def unit(self):
        sheets = {s: {"complete": True} for s in run.REPORT_SHEETS}
        sheets["lda/summary"] = {"n_docs": 1000}
        sheets["lda/topics"] = {"rows": run.TOPICS * run.TOP_N}
        return {"halves_ok": [True, True], "sheets": sheets}

    def test_complete_report_passes(self):
        self.assertEqual(run.report_failures(self.unit(), 1000), 0)

    def test_missing_sheet_fails_its_half(self):
        u = self.unit()
        del u["sheets"]["bertopic/keywords"]
        self.assertEqual(run.report_failures(u, 1000), 1)
        u["sheets"]["lda/overlap"] = {"complete": False}
        self.assertEqual(run.report_failures(u, 1000), 2)

    def test_wrong_counts_and_false_halves_fail(self):
        self.assertEqual(run.report_failures(self.unit(), 999), 1)
        u = self.unit()
        u["halves_ok"] = [False, True]
        self.assertEqual(run.report_failures(u, 1000), 1)


if __name__ == "__main__":
    unittest.main()
