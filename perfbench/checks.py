"""Correctness checks run after the timed passes, outside any timing.

rideshare_csv: the four output CSVs and the console tables that
``RideshareApp.run`` printed are compared with a DuckDB replay of the
seven reference tasks over the same generated CSVs.

parquet_mix: each registered query's output (written by the untimed
cold pass) is compared with its ``SparkEntry.oracleSql`` replayed in
DuckDB over the same parquet tables: columns sorted by name, dtypes, and
rows in produced order, as ``tools/check_oracle.py`` does. Its ingest
stream is checked inside the JVM (sink union against the batch twin).

``run`` returns (list of failure messages, number of checks made).
"""
import csv
import glob
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
REL_TOL = 1e-9


def run(workload, data, out):
    if workload == "rideshare_csv":
        return Rideshare(f"{data}/rideshare", f"{out}/check").run()
    return oracle(f"{data}/tables", out)


# ------------------------------------------------------------ oracle replay

def oracle(tables, out):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    sqls = {}
    for p in glob.glob(f"{out}/oracle_sql_*.json"):
        with open(p) as f:
            sqls.update(json.load(f))
    names = sorted(os.path.basename(p) for p in glob.glob(f"{out}/check/*"))
    fails = []
    for name in names:
        files = glob.glob(f"{out}/check/{name}/*.parquet")
        if not files:
            fails.append(f"{name}: no output")
            continue
        got = con.sql(f"SELECT * FROM '{files[0]}'").df()
        if name not in sqls:
            if len(got) == 0:
                fails.append(f"{name}: empty output and no oracle")
            continue
        try:
            want = con.sql(sqls[name]).df()
        except duckdb.Error as e:
            fails.append(f"{name}: oracle error {e}")
            continue
        got = got[sorted(got.columns)].reset_index(drop=True)
        want = want[sorted(want.columns)].reset_index(drop=True)
        if list(got.columns) != list(want.columns):
            fails.append(f"{name}: columns {list(got.columns)} != {list(want.columns)}")
        elif got.dtypes.astype(str).tolist() != want.dtypes.astype(str).tolist():
            fails.append(f"{name}: dtypes differ")
        elif len(got) != len(want):
            fails.append(f"{name}: {len(got)} rows, oracle {len(want)}")
        elif not got.equals(want):
            bad = (got != want).any(axis=1)
            i = int(bad[bad].index[0])
            fails.append(f"{name}: row {i} got {got.iloc[i].tolist()} "
                         f"want {want.iloc[i].tolist()}")
    return fails, len(names)


# --------------------------------------------------------- rideshare replay

TRIP_COLUMNS = (
    "{'business': 'VARCHAR', 'pickup_location': 'INTEGER', "
    "'dropoff_location': 'INTEGER', 'trip_length': 'DOUBLE', "
    "'request_to_pickup': 'DOUBLE', 'total_ride_time': 'DOUBLE', "
    "'on_scene_to_pickup': 'DOUBLE', 'on_scene_to_dropoff': 'DOUBLE', "
    "'time_of_day': 'VARCHAR', 'date': 'BIGINT', 'passenger_fare': 'DOUBLE', "
    "'driver_total_pay': 'DOUBLE', 'rideshare_profit': 'DOUBLE', "
    "'hourly_rate': 'DOUBLE', 'dollars_per_mile': 'DOUBLE'}")
ZONE_COLUMNS = ("{'LocationID': 'INTEGER', 'Borough': 'VARCHAR', "
                "'Zone': 'VARCHAR', 'service_zone': 'VARCHAR'}")
ENRICHED = """
CREATE TABLE e AS SELECT
  t.business, t.pickup_location, t.dropoff_location, t.trip_length,
  t.request_to_pickup, t.total_ride_time, t.on_scene_to_pickup,
  t.on_scene_to_dropoff, t.time_of_day,
  strftime(epoch_ms(t.date * 1000), '%Y-%m-%d') AS date,
  t.passenger_fare, t.driver_total_pay, t.rideshare_profit, t.hourly_rate,
  t.dollars_per_mile,
  p.Borough AS Pickup_Borough, p.Zone AS Pickup_Zone,
  p.service_zone AS Pickup_service_zone,
  d.Borough AS Dropoff_Borough, d.Zone AS Dropoff_Zone,
  d.service_zone AS Dropoff_service_zone,
  month(CAST(strftime(epoch_ms(t.date * 1000), '%Y-%m-%d') AS DATE)) AS m,
  day(CAST(strftime(epoch_ms(t.date * 1000), '%Y-%m-%d') AS DATE)) AS dd
FROM trips t
LEFT JOIN zones p ON t.pickup_location = p.LocationID
LEFT JOIN zones d ON t.dropoff_location = d.LocationID
"""
ENRICHED_COLUMNS = [
    "business", "pickup_location", "dropoff_location", "trip_length",
    "request_to_pickup", "total_ride_time", "on_scene_to_pickup",
    "on_scene_to_dropoff", "time_of_day", "date", "passenger_fare",
    "driver_total_pay", "rideshare_profit", "hourly_rate", "dollars_per_mile",
    "Pickup_Borough", "Pickup_Zone", "Pickup_service_zone", "Dropoff_Borough",
    "Dropoff_Zone", "Dropoff_service_zone"]


def parse_console(text):
    """Splits captured console output into show() tables (header, rows)
    and key=value lines, in printed order."""
    tables, values, schema = [], {}, []
    lines = text.splitlines()
    i = 0
    while i < len(lines):
        ln = lines[i]
        if ln.startswith("+-"):
            header = [c.strip() for c in lines[i + 1].strip("|").split("|")]
            rows = []
            i += 3
            while i < len(lines) and not lines[i].startswith("+-"):
                rows.append([c.strip() for c in lines[i].strip("|").split("|")])
                i += 1
            tables.append((header, rows))
        elif ln.startswith(" |-- "):
            schema.append(ln[5:].split(":")[0])
        elif "=" in ln and not ln.startswith(("|", " ")):
            k, v = ln.split("=", 1)
            values[k] = v
        i += 1
    return tables, values, schema


def norm(v):
    """One cell, as Spark's show()/CSV writer or DuckDB gives it, in a
    form both sides share: numbers to 12 significant digits."""
    if v is None or v == "NULL":
        return "NULL"
    try:
        return "%.12g" % float(v)
    except ValueError:
        return str(v)


def close(a, b):
    a, b = float(a), float(b)
    return a == b or math.isclose(a, b, rel_tol=REL_TOL)


def same_rows(got, want):
    """Multiset equality of rows."""
    return sorted(tuple(map(norm, r)) for r in got) == \
        sorted(tuple(map(norm, r)) for r in want)


class Rideshare:
    def __init__(self, data, check):
        self.check = check
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE trips AS SELECT * FROM read_csv('{data}/trips/*.csv', "
            f"header=true, columns={TRIP_COLUMNS})")
        self.con.execute(
            f"CREATE TABLE zones AS SELECT * FROM read_csv("
            f"'{data}/taxi_zone_lookup.csv', header=true, columns={ZONE_COLUMNS})")
        self.con.execute(ENRICHED)
        self.types = dict(self.q("SELECT column_name, data_type FROM "
                                 "information_schema.columns WHERE table_name = 'e'"))
        self.fails, self.n = [], 0

    def q(self, sql, *params):
        return self.con.execute(sql, list(params)).fetchall()

    def expect(self, what, ok):
        self.n += 1
        if not ok:
            self.fails.append(f"rideshare {what} differs from the DuckDB replay")

    def csv(self, name):
        files = sorted(glob.glob(f"{self.check}/{name}/*.csv"))
        rows = []
        for f in files:
            with open(f, newline="") as fh:
                r = list(csv.reader(fh))
                rows += r[1:]
        return rows

    def present(self, cols, row):
        """The shown row exists in the enriched table."""
        cond = " AND ".join(f'"{c}" IS NOT DISTINCT FROM ?' for c in cols)
        params = []
        for c, v in zip(cols, row):
            t = self.types[c]
            params.append(None if v == "NULL" else
                          float(v) if t == "DOUBLE" else
                          int(v) if t in ("INTEGER", "BIGINT") else v)
        return self.q(f"SELECT count(*) FROM e WHERE {cond}", *params)[0][0] > 0

    def topk(self, what, shown, sql, key_idx):
        """An ordered top-k: the key sequence matches the replay's, and
        every shown row is one of the replay's rows (tie-robust)."""
        want = self.q(sql)
        keys = [norm(r[key_idx]) for r in want[:len(shown)]]
        allrows = {tuple(map(norm, r)) for r in want}
        self.expect(what, [norm(r[key_idx]) for r in shown] == keys and
                    all(tuple(map(norm, r)) in allrows for r in shown))

    def run(self):
        with open(f"{self.check}/console.txt") as f:
            tables, values, schema = parse_console(f.read())
        self.expect("console table count", len(tables) == 11)
        if len(tables) != 11:
            return self.fails, self.n
        (sample, pick, drop, routes, pay, length, epm, low, evening, bsi,
         pivot) = tables
        # T1
        self.expect("schema", schema == ENRICHED_COLUMNS)
        self.expect("enriched_count", int(values.get("enriched_count", -1)) ==
                    self.q("SELECT count(*) FROM e")[0][0])
        self.expect("enriched sample", sample[0] == ENRICHED_COLUMNS and
                    len(sample[1]) == 5 and
                    all(self.present(ENRICHED_COLUMNS, r) for r in sample[1]))
        # T2
        t2 = self.q("SELECT business, m, count(*), sum(rideshare_profit), "
                    "sum(driver_total_pay) FROM e GROUP BY 1, 2")
        self.expect("trip_count.csv", same_rows(
            self.csv("trip_count"), [(b, str(m), str(c)) for b, m, c, _, _ in t2]))
        self.expect("total_profit.csv", same_rows(
            self.csv("total_profit"), [(b, str(m), f"{p:,.2f}") for b, m, _, p, _ in t2]))
        self.expect("total_earnings.csv", same_rows(
            self.csv("total_earnings"), [(b, str(m), f"{x:,.2f}") for b, m, _, _, x in t2]))
        # T3
        for side, shown in (("Pickup", pick), ("Dropoff", drop)):
            want = self.q(
                f"SELECT b, m, c FROM (SELECT {side}_Borough b, m, count(*) c, "
                "dense_rank() OVER (PARTITION BY m ORDER BY count(*) DESC) r "
                "FROM e GROUP BY 1, 2) WHERE r <= 5")
            self.expect(f"top boroughs ({side})", same_rows(shown[1], want))
        self.topk("top routes by profit", routes[1],
                  "SELECT concat_ws(' to ', Pickup_Borough, Dropoff_Borough) r, "
                  "sum(driver_total_pay) s FROM e GROUP BY 1 ORDER BY 2 DESC", 1)
        # T4
        avg_pay = dict(self.q("SELECT time_of_day, avg(driver_total_pay) FROM e GROUP BY 1"))
        avg_len = dict(self.q("SELECT time_of_day, avg(trip_length) FROM e GROUP BY 1"))
        for what, shown, want in (("avg driver pay", pay, avg_pay),
                                  ("avg trip length", length, avg_len)):
            ordered = [float(r[1]) for r in shown[1]] == sorted(
                (float(r[1]) for r in shown[1]), reverse=True)
            self.expect(what, ordered and len(shown[1]) == len(want) and all(
                close(r[1], want[r[0]]) for r in shown[1]))
        self.expect("earnings per mile", len(epm[1]) == len(avg_pay) and all(
            close(r[1], avg_pay[r[0]] / avg_len[r[0]]) for r in epm[1]))
        # T5
        wait = dict(self.q("SELECT dd, avg(request_to_pickup) FROM e "
                           "WHERE m = 1 GROUP BY 1"))
        got = self.csv("avg_waiting_time")
        self.expect("avg_waiting_time.csv", len(got) == len(wait) and
                    [int(d) for d, _ in got] == sorted(wait) and
                    all(close(v, wait[int(d)]) for d, v in got))
        over = "[" + ", ".join(str(d) for d in sorted(wait) if wait[d] > 300) + "]"
        self.expect("days_over_300s", values.get("days_over_300s") == over)
        # T6
        # show() prints the first 20 rows in the task's order (ascending,
        # nulls first as Spark sorts them); there can be more slots
        slots = self.q(
            "SELECT Pickup_Borough, time_of_day, count(*) c FROM e GROUP BY 1, 2 "
            "HAVING c > 0 AND c < 1000 ORDER BY 1 NULLS FIRST, 2 NULLS FIRST")
        self.expect("low-volume borough slots",
                    [tuple(map(norm, r)) for r in low[1]] ==
                    [tuple(map(norm, r)) for r in slots[:20]])
        self.expect("evening counts", same_rows(evening[1], self.q(
            "SELECT Pickup_Borough, 'evening', count(*) FROM e "
            "WHERE time_of_day = 'evening' GROUP BY 1")))
        bsi_where = "Pickup_Borough = 'Brooklyn' AND Dropoff_Borough = 'Staten Island'"
        self.expect("brooklyn_to_staten_island",
                    int(values.get("brooklyn_to_staten_island", -1)) ==
                    self.q(f"SELECT count(*) FROM e WHERE {bsi_where}")[0][0])
        self.expect("brooklyn to staten island sample", all(self.present(
            ["Pickup_Borough", "Dropoff_Borough", "Pickup_Zone"], r) for r in bsi[1]))
        # T7
        self.topk("top routes by business", pivot[1],
                  "SELECT concat_ws(' to ', Pickup_Zone, Dropoff_Zone) r, "
                  "count(*) FILTER (business = 'Uber') u, "
                  "count(*) FILTER (business = 'Lyft') l, count(*) t "
                  "FROM e GROUP BY 1 ORDER BY t DESC", 3)
        return self.fails, self.n
