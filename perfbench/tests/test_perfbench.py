"""The benchmark's own tests. Run from the checkout root:

    python3 -m unittest discover -s perfbench/tests
"""
import csv
import io
import json
import os
import shutil
import sys
import tempfile
import unittest
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))
TINY = gen.Shape(buildings=1, scenarios=1, hours=2, zones=1, ahus=1)


def bundle_files(d):
    out = {}
    for n in sorted(os.listdir(d)):
        with open(os.path.join(d, n), "rb") as f:
            out[n] = f.read()
    return out


def temp_dir(test):
    d = tempfile.mkdtemp()
    test.addCleanup(shutil.rmtree, d)
    return d


class GeneratorTest(unittest.TestCase):

    def generate(self, seed, shape=gen.Shape(2, 2, 30, 2, 1)):
        d = temp_dir(self)
        gen.generate(d, seed, shape)
        return bundle_files(d)

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(self.generate(7), self.generate(7))

    def test_other_seed_gives_other_bundles(self):
        a, b = self.generate(7), self.generate(8)
        self.assertEqual(sorted(a), sorted(b))
        zips = [n for n in a if n.endswith(".zip")]
        self.assertTrue(all(a[n] != b[n] for n in zips))

    def test_bundle_layout(self):
        d = temp_dir(self)
        gen.generate(d, 1, TINY)
        with zipfile.ZipFile(os.path.join(d, "run_B01_S01.zip")) as zf:
            self.assertEqual(sorted(zf.namelist()), [
                "run_B01_S01/hvac.csv", "run_B01_S01/metadata.json", "run_B01_S01/meters.csv",
                "run_B01_S01/weather.csv", "run_B01_S01/zones.csv"])

    def test_answers_agree_with_hand_computed_fixture(self):
        d = temp_dir(self)
        answers = gen.generate(d, 3, TINY)
        with zipfile.ZipFile(os.path.join(d, "run_B01_S01.zip")) as zf:
            def rows(name):
                text = zf.read("run_B01_S01/" + name).decode()
                return list(csv.DictReader(io.StringIO(text)))
            meters, zones = rows("meters.csv"), rows("zones.csv")
            weather, hvac = rows("weather.csv"), rows("hvac.csv")
        # 1 building x 1 scenario x 2 hours, 1 zone, 1 AHU
        self.assertEqual(answers["rows"], {
            "dim_building": 1, "dim_scenario": 1, "dim_zone": 1, "dim_ahu": 1, "dim_time": 2,
            "fact_zone_conditions": 2, "fact_hvac": 2, "fact_meters": 2, "fact_weather": 2})
        self.assertEqual([len(meters), len(zones), len(weather), len(hvac)], [2, 2, 2, 2])
        e = float(meters[0]["electric_kwh"]) + float(meters[1]["electric_kwh"])
        h = float(meters[0]["heating_kwh"]) + float(meters[1]["heating_kwh"])
        c = float(meters[0]["cooling_kwh"]) + float(meters[1]["cooling_kwh"])
        self.assertEqual(answers["meter_totals"], {"B01/S01": [e, h, c]})
        exp = answers["export"]
        self.assertEqual(exp["annual"], {"total_kwh": e + h + c, "heating_kwh": h,
                                         "cooling_kwh": c, "electric_kwh": e})
        # both hours fall in January 2024
        self.assertEqual(meters[1]["timestamp"], "2024-01-01T01:00:00Z")
        [[month, mh, mc, mt]] = exp["monthly"]
        self.assertEqual([month, mh, mc], [1, h, c])
        self.assertTrue(metrics.close(mt, e + h + c))
        self.assertEqual(exp["peak_demand_kw"],
                         max(float(m["electric_kwh"]) for m in meters))
        ok = sum(abs(float(z["air_temp_C"]) - float(z["setpoint_C"])) <= 1.0 for z in zones)
        self.assertEqual(exp["comfort_hours_percent"], ok / 2 * 100.0)

    def test_values_pass_the_pipeline_checks(self):
        d = temp_dir(self)
        gen.generate(d, 5, gen.Shape(2, 2, 48, 3, 2))
        for name in os.listdir(d):
            if not name.endswith(".zip"):
                continue
            with zipfile.ZipFile(os.path.join(d, name)) as zf:
                root = name[:-4]
                z = list(csv.DictReader(io.StringIO(zf.read(root + "/zones.csv").decode())))
                m = list(csv.DictReader(io.StringIO(zf.read(root + "/meters.csv").decode())))
                w = list(csv.DictReader(io.StringIO(zf.read(root + "/weather.csv").decode())))
            self.assertTrue(all(10 <= float(r["air_temp_C"]) <= 35 for r in z))
            self.assertTrue(all(400 <= float(r["co2_ppm"]) <= 2500 for r in z))
            self.assertTrue(all(0 <= float(r["rh_pct"]) <= 100 for r in z))
            self.assertTrue(all(-30 <= float(r["drybulb_C"]) <= 40 for r in w))
            self.assertTrue(all(float(r["ghi_W_m2"]) >= 0 for r in w))
            e = sum(float(r["electric_kwh"]) for r in m)
            th = sum(float(r["heating_kwh"]) + float(r["cooling_kwh"]) for r in m)
            self.assertGreaterEqual(e, 0.2 * th)


class MetricsTest(unittest.TestCase):

    def test_p90_omitted_with_fewer_than_ten_samples_beyond(self):
        value, n, beyond = metrics.percentile_with_tail(list(range(50)), 90)
        self.assertIsNone(value)
        self.assertEqual((n, beyond), (50, 5))

    def test_p90_reported_with_ten_samples_beyond(self):
        value, n, beyond = metrics.percentile_with_tail(list(range(100)), 90)
        self.assertEqual((value, n, beyond), (89, 100, 10))

    def test_metric_names(self):
        names = [n for n, _ in metrics.END_TO_END + metrics.per_layer_names()]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(metrics.per_layer_names()), 128)
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertRegex(n, metrics.NAME_RE)

    def test_benchmark_json_lists_the_metrics_the_code_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         metrics.per_layer_names())
        for m in spec["end_to_end"] + spec["per_layer"]:
            want = "higher" if m["name"] in metrics.HIGHER_IS_BETTER else "lower"
            self.assertEqual(m["better"], want, m["name"])

    def test_self_time_and_driver_time(self):
        def span(i, parent, name, start, end, jobs=()):
            return {"id": i, "parent": parent, "trace": 1, "name": name, "start": start,
                    "end": end, "jobs": [list(j) for j in jobs], "tasks": 1,
                    "failed_tasks": 0, "busy_s": 0.5, "shuffle_bytes": 0, "spill_bytes": 0,
                    "input_bytes": 0, "output_bytes": 0, "storage_bytes_end": 0}
        rows = metrics.span_table([
            span(0, -1, "pipeline", 0.0, 10.0),
            span(1, 0, "extract", 1.0, 4.0, jobs=[(1.5, 2.0), (1.8, 3.0)]),
            span(2, 0, "export", 3.5, 6.0, jobs=[(5.0, 7.0)])])
        by = {r["name"]: r for r in rows}
        self.assertAlmostEqual(by["pipeline"]["self_s"], 10.0 - 5.0)
        self.assertAlmostEqual(by["extract"]["driver_s"], 3.0 - 1.5)
        self.assertAlmostEqual(by["export"]["driver_s"], 2.5 - 1.0)
        self.assertEqual(by["pipeline"]["jobs"], 3)
        self.assertEqual(by["pipeline"]["tasks"], 3)

    def test_tracing_overhead_pairs_consecutive_runs(self):
        ops = [{"name": "pipeline", "traced": t, "wall_s": w}
               for t, w in ((False, 10.0), (True, 11.0), (True, 9.5), (False, 9.0))]
        self.assertAlmostEqual(metrics.tracing_overhead(ops), 0.75)
        self.assertEqual(metrics.tracing_overhead(ops[:1]), 0.0)

    def test_per_pass_sums_untraced_successes_then_takes_the_median(self):
        def op(rnd, cpu, traced=False, ok=True):
            return {"round": rnd, "cpu_s": cpu + 1.0, "jit_cpu_s": 1.0, "wall_s": cpu / 2,
                    "traced": traced, "ok": ok}
        record = {"ops": [op(0, 3.0), op(0, 1.0), op(0, 50.0, traced=True),
                          op(1, 2.0), op(1, 40.0, ok=False), op(2, 9.0)]}
        self.assertEqual(metrics.per_pass(record, metrics.program_cpu), 4.0)
        wall = metrics.wall_metrics(record)
        self.assertEqual(wall["run.op_samples"], 4)
        self.assertEqual(wall["run.pass_wall_s"], 2.0)

    def test_check_etl_flags_a_wrong_total(self):
        d = temp_dir(self)
        answers = gen.generate(d, 3, TINY)
        exp = answers["export"]
        summary = {"annual": exp["annual"],
                   "monthly_breakdown": [{"month": m, "heating_kwh": h, "cooling_kwh": c,
                                          "total_kwh": t} for m, h, c, t in exp["monthly"]],
                   "kpis": {"peak_demand_kw": exp["peak_demand_kw"],
                            "comfort_hours_percent": exp["comfort_hours_percent"]}}
        obs = {"exit": 0, "rows": answers["rows"], "meter_totals": answers["meter_totals"],
               "summary_errors": [], "summary": json.dumps(summary)}
        self.assertEqual(metrics.check_etl(obs, answers), [])
        summary["annual"] = dict(exp["annual"], heating_kwh=exp["annual"]["heating_kwh"] + 1e-3)
        obs["summary"] = json.dumps(summary)
        self.assertEqual(len(metrics.check_etl(obs, answers)), 1)
        self.assertEqual(metrics.check_etl(dict(obs, exit=2), answers),
                         ["Pipeline.run returned 2"])


if __name__ == "__main__":
    unittest.main()
