"""Seeded input generator for the benchmark.

Every input a workload reads is made here from one integer seed, so the
same seed always yields the same bytes. Nothing generated is committed;
the runner writes it under its private working directory.

  python3 perfbench/gen.py <kind> <out_dir> --seed N

kinds: ``rideshare`` (trips CSV files + zone lookup CSV), ``tables``
(the parquet star schema + corpus tables the registered queries read),
``stream`` (accepted corpus, LM target and the arriving-doc files of the
ingest workload).
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# ---------------------------------------------------------------- rideshare

RIDESHARE_ROWS = 25_000
RIDESHARE_FILES = 4
N_ZONES = 265
# trips whose location id has no row in the zone lookup (left-join nulls)
UNMATCHED_IDS = (0, 266)
BOROUGHS = [("Manhattan", 69), ("Brooklyn", 61), ("Queens", 69),
            ("Bronx", 43), ("Staten Island", 20)]
ZONE_WORDS = ["Park", "Heights", "Village", "Hill", "East", "West", "North",
              "South", "Harbor", "Square", "Bay", "Point", "Gardens",
              "Junction", "Ridge", "Center", "Beach", "Slope", "Yards",
              "Flats"]
SECONDS_PER_DAY = 86_400
EPOCH_2023 = 1_672_531_200  # 2023-01-01T00:00:00Z
MONTH_DAYS = [31, 28, 31, 30, 31]  # months 1-5 of 2023


def zone_table():
    """The 265-row lookup: id 1 is EWR, 264/265 are Unknown (NV/NA)."""
    ids, boroughs, zones, service = [], [], [], []
    ids.append(1); boroughs.append("EWR"); zones.append("Newark Airport")
    service.append("EWR")
    loc = 2
    for b, n in BOROUGHS:
        for i in range(n):
            if loc > N_ZONES - 2:
                break
            w1 = ZONE_WORDS[(loc * 7) % len(ZONE_WORDS)]
            w2 = ZONE_WORDS[(loc * 3 + 1) % len(ZONE_WORDS)]
            ids.append(loc); boroughs.append(b)
            zones.append(f"{b.split()[0]} {w1} {w2} {loc}")
            service.append("Yellow Zone" if b == "Manhattan" else "Boro Zone")
            loc += 1
    while loc <= N_ZONES - 2:
        ids.append(loc); boroughs.append("Queens")
        zones.append(f"Queens Airport {loc}"); service.append("Airports")
        loc += 1
    for loc, z in ((N_ZONES - 1, "NV"), (N_ZONES, "NA")):
        ids.append(loc); boroughs.append("Unknown"); zones.append(z)
        service.append("N/A")
    return pa.table({"LocationID": pa.array(ids, pa.int32()),
                     "Borough": boroughs, "Zone": zones,
                     "service_zone": service})


def quarters(x):
    """Snap to multiples of 1/4: every sum of these is exact in a double,
    so aggregates do not depend on summation order."""
    return np.round(np.asarray(x) * 4.0) / 4.0


def gen_rideshare(out, seed, rows=RIDESHARE_ROWS, files=RIDESHARE_FILES):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(f"{out}/trips", exist_ok=True)
    pacsv.write_csv(zone_table(), f"{out}/taxi_zone_lookup.csv")

    # skewed zone popularity (a seeded permutation of a Zipf-like curve)
    w = 1.0 / np.arange(1, N_ZONES + 1) ** 0.9
    w = w[rng.permutation(N_ZONES)]
    w /= w.sum()
    zone_ids = np.arange(1, N_ZONES + 1)

    def locations(n):
        loc = rng.choice(zone_ids, size=n, p=w)
        miss = rng.random(n) < 0.002
        loc[miss] = rng.choice(UNMATCHED_IDS, size=int(miss.sum()))
        return loc.astype(np.int32)

    pickup = locations(rows)
    dropoff = locations(rows)
    same = rng.random(rows) < 0.35  # intra-zone trips dominate the top routes
    dropoff[same] = pickup[same]
    business = np.where(rng.random(rows) < 0.0005, "Lyft", "Uber")

    month = rng.choice(5, size=rows, p=[0.19, 0.19, 0.21, 0.2, 0.21])
    month_start = np.cumsum([0] + MONTH_DAYS[:-1])
    day = (rng.random(rows) * np.array(MONTH_DAYS)[month]).astype(np.int64)
    day_of_year = month_start[month] + day
    date = EPOCH_2023 + day_of_year * SECONDS_PER_DAY

    tod = rng.choice(["morning", "afternoon", "evening", "night"],
                     size=rows, p=[0.25, 0.3, 0.25, 0.2])
    length = np.maximum(0.25, quarters(rng.gamma(2.0, 2.4, rows)))
    # January 1st waits far longer than any other day (the T5 golden)
    wait_mean = np.where(day_of_year == 0, 400.0, 250.0)
    wait = np.floor(rng.gamma(4.0, 1.0, rows) * wait_mean / 4.0)
    ride = np.floor(120 + length * 150 + rng.gamma(2.0, 60.0, rows))
    on_scene = np.floor(rng.gamma(2.0, 15.0, rows))
    fare = quarters(3.0 + length * 2.5 + rng.gamma(2.0, 2.0, rows))
    pay_share = np.where(business == "Lyft", 1.25, 0.7)
    pay = quarters(fare * pay_share + rng.normal(0.0, 1.0, rows))
    hourly = quarters(pay * 3600.0 / np.maximum(ride, 1.0))
    per_mile = quarters(pay / length)

    cols = {
        "business": business, "pickup_location": pickup,
        "dropoff_location": dropoff, "trip_length": length,
        "request_to_pickup": wait, "total_ride_time": ride,
        "on_scene_to_pickup": on_scene,
        "on_scene_to_dropoff": on_scene + ride, "time_of_day": tod,
        "date": date, "passenger_fare": fare, "driver_total_pay": pay,
        "rideshare_profit": fare - pay, "hourly_rate": hourly,
        "dollars_per_mile": per_mile,
    }
    t = pa.table(cols)
    per = (rows + files - 1) // files
    for i in range(files):
        pacsv.write_csv(t.slice(i * per, per),
                        f"{out}/trips/part-{i:05d}.csv")


# ------------------------------------------------------------------- tables

# Shapes follow the sf0.1 testdata layout (TESTDATA.md / FIXTURES.md §B).
TABLE_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
              "orders": 150_000, "lineitem": 600_000, "events": 100_000}
DOCS = 4_000
EMBEDDINGS = 2_000
EMB_DIM = 64
WORDS = ("batch part spark line column order small sort fast value scan "
         "a hash slow group agg filter query big key window row table "
         "stream merge data the join vector customer").split()
PART_WORDS = ["blue", "red", "hot", "small", "large", "green", "cold",
              "shiny", "anvil", "widget", "ring", "bolt", "gear"]
DAY_US = SECONDS_PER_DAY * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000


def cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(t, path):
    pq.write_table(t, path)


def random_texts(rng, n, lo_words, hi_words, vocab):
    lens = rng.integers(lo_words, hi_words + 1, n)
    words = np.asarray(vocab)
    return [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]


def gen_tables(out, seed, scale=0.25):
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    n = {k: max(10, int(v * scale)) for k, v in TABLE_ROWS.items()}
    write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                               "MIDDLE EAST"]}), f"{out}/region.parquet")
    write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)],
                                            pa.int32())}),
          f"{out}/nation.parquet")
    nc = n["customer"]
    write(pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": cents(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)}),
        f"{out}/customer.parquet")
    ns = n["supplier"]
    write(pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": cents(rng, -999.99, 9999.99, ns)}),
        f"{out}/supplier.parquet")
    npart = n["part"]
    write(pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in
                   zip(rng.integers(0, 7, npart), rng.integers(8, 13, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")
    no = n["orders"]
    odate = EPOCH_1995_US + rng.integers(0, 2400, no) * DAY_US
    write(pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": cents(rng, 1000, 500000, no),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)}),
        f"{out}/orders.parquet")
    nl = n["lineitem"]
    lok = rng.integers(0, no, nl)
    write(pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": cents(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(odate[lok] + rng.integers(1, 120, nl) * DAY_US,
                               pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, ne)) + 1_704_067_200 * 1_000_000
    write(pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, ne),
        "event_type": rng.choice(["view", "click", "signup", "purchase",
                                  "error"], ne, p=[0.5, 0.25, 0.05, 0.1, 0.1]),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}),
        f"{out}/events.parquet")
    write(documents(rng, max(50, int(DOCS * scale)), WORDS),
          f"{out}/documents.parquet")
    ne = max(50, int(EMBEDDINGS * scale))
    label = rng.integers(0, 10, ne)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    v = centers[label] + rng.normal(0.0, 1.5, (ne, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write(pa.table({
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": label.astype(np.int32)}), f"{out}/embeddings.parquet")


def documents(rng, n, vocab, first_id=0, lo_words=8, hi_words=100):
    """A corpus with near-duplicates: ~6 % of docs copy an earlier doc
    with one word changed, so the dedup miners have pairs to find."""
    texts = random_texts(rng, n, lo_words, hi_words, vocab)
    for i in range(1, n):
        if rng.random() < 0.06:
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts[i] = " ".join(w)
    return pa.table({
        "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


# ------------------------------------------------------------------- stream

STREAM_CORPUS = 200
STREAM_FILES = 24
STREAM_DOCS_PER_FILE = 20
PROSE = ("the be to of and that have with a in it for on as at by from "
         "river stone garden morning letter window market story music "
         "city winter friend journey road table school summer light "
         "water paper forest evening travel dinner house village bridge "
         "walks reads builds writes carries opens finds keeps").split()
NONSENSE = ["qzx", "vrrk", "plof", "zzyq", "kwib", "frum", "gdap", "yxxo"]


def prose(rng, n_words):
    return " ".join(PROSE[int(i)] for i in rng.integers(0, len(PROSE), n_words))


def gen_stream(out, seed, corpus=STREAM_CORPUS, files=STREAM_FILES,
               per_file=STREAM_DOCS_PER_FILE):
    """Accepted corpus + the arriving docs, pre-split into files the
    benchmark drops into the stream source one at a time. A seeded hash
    of each doc decides its file. The arrivals mix clean prose, replicas
    of accepted docs (near_dup), short docs (gopher_words), markup-
    wrapped prose and off-model gibberish (perplexity)."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(f"{out}/arrivals", exist_ok=True)
    acc = [prose(rng, int(k)) for k in rng.integers(25, 70, corpus)]
    base = pa.table({"doc_id": np.arange(corpus, dtype=np.int64),
                     "text": acc})
    write(base, f"{out}/corpus.parquet")
    total = files * per_file
    texts = []
    for i in range(total):
        r = rng.random()
        if r < 0.15:
            texts.append(acc[int(rng.integers(0, corpus))])
        elif r < 0.25:
            texts.append(prose(rng, int(rng.integers(3, 12))))
        elif r < 0.35:
            texts.append("<html><body><p>" + prose(rng, 40) +
                         "</p><script>var x = 1 < 2;</script></body></html>")
        elif r < 0.45:
            texts.append(" ".join(["the", "and"] + [
                NONSENSE[int(j)] for j in rng.integers(0, len(NONSENSE), 30)]))
        else:
            texts.append(prose(rng, int(rng.integers(25, 70))))
    ids = np.arange(1_000_000, 1_000_000 + total, dtype=np.int64)
    # seeded hash assignment of docs to files, each file exactly per_file
    order = np.argsort((ids * 0x9E3779B1 + seed * 7919) % 1_000_003,
                       kind="stable")
    for f in range(files):
        sel = np.sort(order[f * per_file:(f + 1) * per_file])
        tx = [texts[int(i)] for i in sel]
        write(pa.table({
            "doc_id": ids[sel], "text": tx,
            "lang": ["en"] * len(sel), "source": ["web"] * len(sel),
            "n_chars": np.array([len(t) for t in tx], dtype=np.int64)}),
            f"{out}/arrivals/part-{f:05d}.parquet")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("kind", choices=["rideshare", "tables", "stream"])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    {"rideshare": gen_rideshare, "tables": gen_tables,
     "stream": gen_stream}[a.kind](a.out, a.seed)


if __name__ == "__main__":
    main()
