"""Seeded generator for the ETL workload's inputs and their answer file.

Writes `run_<building>_<scenario>.zip` bundles in the reference shape: one
root directory `run_<building>_<scenario>/` holding `metadata.json` and the
four CSVs (`zones.csv`, `hvac.csv`, `meters.csv`, `weather.csv`). The same
seed and shape give byte-identical bundles (fixed ZIP timestamps, fixed
member order, deterministic `random.Random`).

Every value passes the pipeline's four validation checks, so
`Pipeline.run` always reaches load and export. The answer file holds the
exact expectations the benchmark checks the program's outputs against:
rows per star table, meter totals per (building, scenario), the exported
pair's annual and monthly figures, peak demand and comfort share.

Usage: python3 gen.py <out_dir> <seed> <buildings> <scenarios> <hours> <zones> <ahus>
"""
import datetime
import io
import json
import math
import os
import random
import sys
import zipfile

START = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
ZIP_TIME = (1980, 1, 1, 0, 0, 0)


class Shape:
    def __init__(self, buildings, scenarios, hours, zones, ahus):
        self.buildings = buildings
        self.scenarios = scenarios
        self.hours = hours
        self.zones = zones
        self.ahus = ahus

    def building_ids(self):
        return ["B%02d" % (i + 1) for i in range(self.buildings)]

    def scenario_ids(self):
        return ["S%02d" % (i + 1) for i in range(self.scenarios)]


def r3(x):
    """Rounds to 3 decimals and returns the float the CSV text parses to."""
    return float("%.3f" % x)


def timestamps(hours):
    return [START + datetime.timedelta(hours=h) for h in range(hours)]


def ts_text(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def weather_rows(rng, hours):
    rows = []
    for h in range(hours):
        season = math.sin(2 * math.pi * (h / 8760.0 - 0.3))
        day = math.sin(2 * math.pi * (h % 24) / 24.0)
        rows.append((
            r3(5.0 + 12.0 * season + 4.0 * day + rng.uniform(-2.0, 2.0)),
            r3(60.0 + rng.uniform(-15.0, 15.0)),
            r3(max(0.0, 400.0 * day + rng.uniform(-20.0, 20.0)))))
    return rows


def run_tables(rng, shape, hours):
    """One run's zone, hvac and meter rows, as floats equal to their CSV text."""
    zones, hvac, meters = [], [], []
    for h in range(hours):
        day = math.sin(2 * math.pi * (h % 24) / 24.0)
        for z in range(shape.zones):
            zones.append((z, r3(21.0 + 2.5 * day + rng.uniform(-1.5, 1.5)), 21.0,
                          r3(600.0 + 40.0 * (h % 12) + rng.uniform(0.0, 60.0)),
                          r3(45.0 + rng.uniform(-10.0, 10.0))))
        for a in range(shape.ahus):
            # every 13th hour dips below the 1 kW cop_proxy guard
            power = r3(0.4) if h % 13 == 0 else r3(10.0 + rng.uniform(0.0, 5.0))
            hvac.append((a, r3(16.0 + rng.uniform(0.0, 3.0)), r3(22.0 + rng.uniform(0.0, 2.0)),
                         power, r3(4.0 + rng.uniform(0.0, 3.0)),
                         r3(6.0 + rng.uniform(0.0, 4.0))))
        meters.append((r3(50.0 + rng.uniform(0.0, 20.0)), r3(20.0 + rng.uniform(0.0, 15.0)),
                       r3(15.0 + rng.uniform(0.0, 10.0))))
    return zones, hvac, meters


def fmt(x):
    return "%.3f" % x


def csv_texts(b, s, shape, ts, zones, hvac, meters, weather):
    zl = ["timestamp,building_id,scenario_id,zone_id,zone_name,air_temp_C,setpoint_C,co2_ppm,rh_pct"]
    for i, (z, air, sp, co2, rh) in enumerate(zones):
        t = ts[i // shape.zones]
        zl.append("%s,%s,%s,Z%02d,Zone %d,%s,%s,%s,%s" % (
            t, b, s, z + 1, z + 1, fmt(air), fmt(sp), fmt(co2), fmt(rh)))
    hl = ["timestamp,building_id,scenario_id,ahu_id,supply_temp_C,return_temp_C,power_kw,cooling_kw,heating_kw"]
    for i, (a, sup, ret, p, c, he) in enumerate(hvac):
        t = ts[i // shape.ahus]
        hl.append("%s,%s,%s,AHU%d,%s,%s,%s,%s,%s" % (
            t, b, s, a + 1, fmt(sup), fmt(ret), fmt(p), fmt(c), fmt(he)))
    ml = ["timestamp,building_id,scenario_id,electric_kwh,heating_kwh,cooling_kwh"]
    for i, (e, he, c) in enumerate(meters):
        ml.append("%s,%s,%s,%s,%s,%s" % (ts[i], b, s, fmt(e), fmt(he), fmt(c)))
    wl = ["timestamp,drybulb_C,relhum_pct,ghi_W_m2"]
    for i, (d, rh, g) in enumerate(weather):
        wl.append("%s,%s,%s,%s" % (ts[i], fmt(d), fmt(rh), fmt(g)))
    return {name: "\n".join(lines) + "\n" for name, lines in
            (("zones.csv", zl), ("hvac.csv", hl), ("meters.csv", ml), ("weather.csv", wl))}


def metadata(b, s, area):
    return json.dumps({
        "building_id": b, "scenario_id": s, "building_name": "Building %s" % b,
        "location": "Stockholm", "floor_area_m2": area,
        "description": "Scenario %s" % s, "generated_at": "2024-01-01T00:00:00Z"},
        sort_keys=True)


def zip_bytes(root, members):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, text in members:
            info = zipfile.ZipInfo("%s/%s" % (root, name), date_time=ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            zf.writestr(info, text.encode("utf-8"))
    return buf.getvalue()


def generate(out_dir, seed, shape):
    """Writes the bundles and `answers.json` into out_dir; returns the answers."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    ts_dt = timestamps(shape.hours)
    ts = [ts_text(t) for t in ts_dt]
    months = [t.month for t in ts_dt]
    weather = weather_rows(rng, shape.hours)
    bids, sids = shape.building_ids(), shape.scenario_ids()
    areas = {b: rng.randrange(800, 20000) for b in bids}
    totals, monthly, peak, csv_bytes = {}, {}, {}, 0
    comfort = {}
    for b in bids:
        for s in sids:
            zones, hvac, meters = run_tables(rng, shape, shape.hours)
            root = "run_%s_%s" % (b, s)
            csvs = csv_texts(b, s, shape, ts, zones, hvac, meters, weather)
            csv_bytes += sum(len(t.encode("utf-8")) for t in csvs.values())
            members = [("metadata.json", metadata(b, s, areas[b]))] + sorted(csvs.items())
            with open(os.path.join(out_dir, root + ".zip"), "wb") as f:
                f.write(zip_bytes(root, members))
            totals[b + "/" + s] = [sum(m[i] for m in meters) for i in range(3)]
            by_month = {}
            for h, (e, he, c) in enumerate(meters):
                mm = by_month.setdefault(months[h], [0.0, 0.0, 0.0])
                mm[0] += he
                mm[1] += c
                mm[2] += e + he + c
            monthly[b + "/" + s] = by_month
            peak[b + "/" + s] = max(m[0] for m in meters)
            ok = sum(1 for z in zones if abs(z[1] - z[2]) <= 1.0)
            comfort[b + "/" + s] = ok / len(zones) * 100.0
    runs = len(bids) * len(sids)
    pair = bids[0] + "/" + sids[0]
    e, he, c = totals[pair]
    answers = {
        "seed": seed,
        "shape": vars(shape),
        "csv_bytes": csv_bytes,
        "rows": {
            "dim_building": len(bids), "dim_scenario": len(sids),
            "dim_zone": len(bids) * shape.zones, "dim_ahu": len(bids) * shape.ahus,
            "dim_time": shape.hours,
            "fact_zone_conditions": runs * shape.hours * shape.zones,
            "fact_hvac": runs * shape.hours * shape.ahus,
            "fact_meters": runs * shape.hours,
            "fact_weather": len(bids) * shape.hours},
        "meter_totals": totals,
        "export": {
            "building_id": bids[0], "scenario_id": sids[0],
            "annual": {"total_kwh": e + he + c, "heating_kwh": he, "cooling_kwh": c,
                       "electric_kwh": e},
            "monthly": [[m, v[0], v[1], v[2]] for m, v in sorted(monthly[pair].items())],
            "peak_demand_kw": peak[pair],
            "comfort_hours_percent": comfort[pair]},
    }
    with open(os.path.join(out_dir, "answers.json"), "w") as f:
        json.dump(answers, f, sort_keys=True)
    return answers


def main(argv):
    if len(argv) != 8:
        sys.stderr.write(__doc__)
        return 2
    out, seed = argv[1], int(argv[2])
    generate(out, seed, Shape(*(int(a) for a in argv[3:8])))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
