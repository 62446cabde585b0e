"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, a different seed writes different ones. Besides the
inputs, each generator writes what it knows about them (expected table
sizes, the expected state after every lakehouse operation), which the
benchmark uses to check the engine's outputs.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# corpus_queries: the TPC-H-like + events/documents/embeddings corpus
# ---------------------------------------------------------------------------

_WORDS = ("the a fast slow key order sort table scan merge part window small "
          "big hash join batch stream spark group query row data filter "
          "customer line value agg column vector dup").split()
_ADJ = "small blue cold old new hot red large".split()
_NOUN = "widget rod ring anvil plate bolt gear".split()
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PTYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVTYPES = ["signup", "click", "error", "purchase", "view"]
_LANGS = ["en", "es", "fr", "zh", "de"]


def _days(rng, n, start, span):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def gen_corpus(seed, sf, out):
    """The corpus the query specs run on: same tables, columns, types and
    value domains as the engine's test corpus, sized by `sf`."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 1)
    n_cust, n_supp = int(150000 * sf), max(10, int(10000 * sf))
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_users = max(15, int(15000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in r.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(r.integers(0, len(_ADJ), n_part),
                       r.integers(0, len(_NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + 0.1 * np.arange(n_part), 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days(r, n_ord, "1995-01-01", 2404),
                                pa.timestamp("us")),
        "o_orderpriority": [_PRIOS[i] for i in r.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), i32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("N", "A", "R")[i] for i in r.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(r, n_line, "1995-01-02", 2498),
                               pa.timestamp("us"))})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(r.integers(0, month_us, n_ev)) + \
        np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), i64),
        "event_type": [_EVTYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    n_doc = 500
    texts = [" ".join(_WORDS[w] for w in r.integers(0, len(_WORDS), n))
             for n in r.integers(8, 100, n_doc)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": [_LANGS[i] for i in
                 r.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], i64)})
    labels = r.integers(0, 10, n_doc)
    centers = r.normal(0.0, 0.12, (10, 64))
    emb = (centers[labels] + r.normal(0.0, 0.05, (n_doc, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    for name in CORPUS_TABLES:
        _write(t[name], os.path.join(out, f"{name}.parquet"))
    return {name: t[name].num_rows for name in CORPUS_TABLES}


# ---------------------------------------------------------------------------
# f1_etl: the reference's wide Ergast CSV, one row per lap observation
# ---------------------------------------------------------------------------

# The columns of graft.etl.F1Schema.wide, in order.
WIDE_COLUMNS = (
    "date circuitId circuitRef name_x location country lat lng url_x "
    "statusId status driverId forename surname dob nationality url number "
    "constructorRef driverRef code constructorId name "
    "nationality_constructors url_constructors raceId round fp1_date "
    "fp1_time fp2_date fp2_time fp3_date fp3_time stop lap_pitstops "
    "time_pitstops duration milliseconds_pitstops quali_date quali_time "
    "position driverStandingsId points_driverstandings "
    "position_driverstandings wins sprint_date sprint_time "
    "constructorStandingsId points_constructorstandings "
    "position_constructorstandings wins_constructorstandings time "
    "time_races resultId positionOrder points laps grid rank fastestLap "
    "fastestLapTime fastestLapSpeed lap time_laptimes position_laptimes "
    "milliseconds_laptimes").split()

F1_TABLES = ["CircuitLocation", "DateDimension", "LocationDimension",
             "StatusDimension", "Driver", "Team", "Race", "TimeDimension",
             "Sprint", "FreePractice", "Qualification", "Laps", "PitStop",
             "Results", "DriverStandings", "TeamStandings"]

N = "\\N"  # the Ergast null sentinel
LAPS_CAP = 1000
N_DRIVERS, N_TEAMS, N_CIRCUITS, N_STATUS = 60, 15, 30, 20
GRID, LAPS, STOPS = 20, 25, 3


def _race_entities(seed, race):
    """Per-race attributes, fixed by (seed, race) so every delivery of a
    race carries the same values."""
    r = _rng(seed, 1000 + race)
    day = datetime.date(2000, 1, 1) + datetime.timedelta(days=race * 7)
    bad_date = r.random() < 0.05
    both_times_null = r.random() < 0.10
    sprint = r.random() < 0.25
    fp = [r.random() < 0.6 for _ in range(3)]
    e = {
        "raceId": race, "round": race % 22 + 1,
        "circuitId": int(r.integers(1, N_CIRCUITS + 1)),
        "date": "N/A" if bad_date else day.isoformat(),
        "time": N if both_times_null else
        (f"1:{int(r.integers(20, 59)):02d}:{int(r.integers(0, 59)):02d}."
         f"{int(r.integers(0, 999)):03d}"),
        "time_races": N if both_times_null else
        f"{int(r.integers(12, 16))}:{(0, 10, 30)[int(r.integers(0, 3))]:02d}:00",
        "sprint_date": f'"{day.isoformat()}"' if sprint else N,
        "sprint_time": '"16:30:00"' if sprint else N,
        "quali_date": day.isoformat(), "quali_time": "15:00:00",
        "drivers": sorted(r.choice(np.arange(1, N_DRIVERS + 1), GRID,
                                   replace=False).tolist()),
    }
    for k in range(3):
        e[f"fp{k + 1}_date"] = day.isoformat() if fp[k] else N
        e[f"fp{k + 1}_time"] = f"1{k}:30:00" if fp[k] else N
    e["valid"] = {
        "date": not bad_date,
        "time": not both_times_null,
        "sprint": sprint,
        "fp": any(fp),
    }
    return e


def _driver_valid_dob(d):
    return d % 10 != 7  # a fixed tenth of drivers carry a malformed dob


def _team_of(d):
    return d % N_TEAMS + 1


def _race_rows(seed, race):
    """All lap rows of one race, in file order."""
    e = _race_entities(seed, race)
    r = _rng(seed, 5000 + race)
    rows = []
    for slot, d in enumerate(e["drivers"]):
        team = _team_of(d)
        result_id = race * 64 + slot
        circuit = e["circuitId"]
        status = d % N_STATUS + 1
        for lap in range(1, LAPS + 1):
            stop = lap % STOPS + 1
            ms = int(r.integers(80000, 100000))
            lap_time = (f"1:{(ms // 1000) % 60:02d}.{ms % 1000:03d}"
                        if r.random() >= 0.03 else "bad")
            row = {
                "date": e["date"], "circuitId": circuit,
                "circuitRef": f"circ{circuit}", "name_x": f"Circuit {circuit}",
                "location": f"Town {circuit}", "country": f"Country {circuit % 9}",
                "lat": f"{circuit * 1.5:.4f}", "lng": f"{-circuit * 2.25:.4f}",
                "url_x": f"http://f1.example/c/{circuit}",
                "statusId": status, "status": f"Status {status}",
                "driverId": d, "forename": f"Fore{d}", "surname": f"Sur{d}",
                "dob": (f"{1970 + d % 30}-{d % 12 + 1:02d}-{d % 28 + 1:02d}"
                        if _driver_valid_dob(d) else "31/02/1990"),
                "nationality": f"Nat{d % 11}", "url": f"http://f1.example/d/{d}",
                "number": d % 99 + 1, "constructorRef": f"team{team}",
                "driverRef": f"drv{d}", "code": f"D{d:02d}",
                "constructorId": team, "name": f"Team {team}",
                "nationality_constructors": f"Nat{team % 7}",
                "url_constructors": f"http://f1.example/t/{team}",
                "raceId": race, "round": e["round"],
                "stop": stop, "lap_pitstops": stop * 8,
                "time_pitstops": f"14:{stop * 9:02d}:{d % 60:02d}"
                if (race + d + stop) % 13 else "n/a",
                "duration": f"{20 + (d + stop) % 9}.{race % 1000:03d}",
                "milliseconds_pitstops": 20000 + d * 10 + stop,
                "quali_date": e["quali_date"], "quali_time": e["quali_time"],
                "position": str(slot + 1) if slot % 9 else N,
                "driverStandingsId": 100000 + result_id,
                "points_driverstandings": float(max(0, 25 - slot)),
                "position_driverstandings": slot + 1, "wins": int(slot == 0),
                "sprint_date": e["sprint_date"], "sprint_time": e["sprint_time"],
                "constructorStandingsId": race * 16 + team,
                "points_constructorstandings": float(team),
                "position_constructorstandings": team,
                "wins_constructorstandings": int(team == 1),
                "time": e["time"], "time_races": e["time_races"],
                "resultId": result_id, "positionOrder": slot + 1,
                "points": float(max(0, 25 - 2 * slot)), "laps": LAPS,
                "grid": (slot * 7) % GRID + 1, "rank": slot + 1,
                "fastestLap": (slot % LAPS) + 1,
                "fastestLapTime": f"1:2{slot % 10}.{slot * 37 % 1000:03d}",
                "fastestLapSpeed": f"{200 + slot}.{d % 10}" if slot % 5 else N,
                "lap": lap, "time_laptimes": lap_time,
                "position_laptimes": slot + 1, "milliseconds_laptimes": ms,
            }
            for k in range(3):
                row[f"fp{k + 1}_date"] = e[f"fp{k + 1}_date"]
                row[f"fp{k + 1}_time"] = e[f"fp{k + 1}_time"]
            rows.append(row)
    return e, rows


def _table_keys(entities, rows):
    """The natural keys each star table keeps for a set of delivered rows."""
    keys = {t: set() for t in F1_TABLES}
    for e in entities.values():
        v = e["valid"]
        if v["date"]:
            keys["DateDimension"].add(e["date"])
        keys["Race"].add(e["raceId"])
        if v["time"]:
            keys["TimeDimension"].add(e["raceId"])
        if v["sprint"]:
            keys["Sprint"].add(e["raceId"])
        if v["fp"]:
            keys["FreePractice"].add(e["raceId"])
    for row in rows:
        race, d = row["raceId"], row["driverId"]
        keys["LocationDimension"].add(row["circuitId"])
        keys["StatusDimension"].add(row["statusId"])
        if _driver_valid_dob(d):
            keys["Driver"].add(d)
        keys["Team"].add(row["constructorId"])
        keys["Qualification"].add((race, d))
        keys["Laps"].add((race, d, row["lap"]))
        keys["PitStop"].add((race, d, row["stop"]))
        keys["Results"].add(row["resultId"])
        keys["DriverStandings"].add(row["driverStandingsId"])
        keys["TeamStandings"].add(row["constructorStandingsId"])
    # the Laps table keeps the first LAPS_CAP keys in (race, driver, lap) order
    keys["Laps"] = set(sorted(keys["Laps"])[:LAPS_CAP])
    return keys


def _write_csv(rows, path):
    def cell(v):
        s = str(v)
        return f'"{s}"' if "," in s else s
    with open(path, "w", newline="\n") as f:
        f.write(",".join(WIDE_COLUMNS) + "\n")
        for row in rows:
            f.write(",".join(cell(row[c]) for c in WIDE_COLUMNS) + "\n")


def _with_duplicates(rng, rows, share):
    """Re-deliver a fixed share of rows verbatim later in the file."""
    n = int(len(rows) * share)
    picks = sorted(rng.choice(len(rows), n, replace=False).tolist())
    return rows + [rows[i] for i in picks]


def gen_f1(seed, base_races, days, races_per_day, out):
    """The full wide CSV plus `days` daily drops, and the table sizes each
    build and each first delivery of a drop must produce."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 2)
    first = int(r.integers(1, 400))
    ents, rows = {}, []
    for race in range(first, first + base_races):
        e, rr = _race_rows(seed, race)
        ents[race] = e
        rows += rr
    full = _with_duplicates(r, rows, 0.03)
    _write_csv(full, os.path.join(out, "full.csv"))
    build = {t: len(k) for t, k in _table_keys(ents, rows).items()}
    # daily drops: new races plus a fixed share of the previous day's rows
    present = {t: set() for t in F1_TABLES}
    prev_ents, prev_rows = ents, rows
    drops = []
    next_race = first + base_races
    for day in range(days):
        d_ents, d_rows = {}, []
        for race in range(next_race, next_race + races_per_day):
            e, rr = _race_rows(seed, race)
            d_ents[race] = e
            d_rows += rr
        next_race += races_per_day
        redeliver = sorted(r.choice(len(prev_rows), len(d_rows) // 5,
                                    replace=False).tolist())
        old = [prev_rows[i] for i in redeliver]
        old_ents = {row["raceId"]: prev_ents[row["raceId"]] for row in old}
        delivered = old + d_rows
        keys = _table_keys({**old_ents, **d_ents}, delivered)
        appended = {}
        for t in F1_TABLES:
            fresh = keys[t] - present[t]
            appended[t] = len(fresh)
            present[t] |= fresh
        name = f"day_{day:03d}.csv"
        delivered = _with_duplicates(r, delivered, 0.03)
        _write_csv(delivered, os.path.join(out, name))
        load_date = (datetime.date(2024, 1, 1) +
                     datetime.timedelta(days=day)).isoformat()
        drops.append({"file": name, "load_date": load_date,
                      "rows": len(delivered), "appended": appended})
        prev_ents, prev_rows = d_ents, d_rows
    exp = {"build": build, "laps_cap": LAPS_CAP, "drops": drops,
           "csv_rows": len(full),
           "csv_bytes": os.path.getsize(os.path.join(out, "full.csv"))}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(exp, f, sort_keys=True)
    return exp


# ---------------------------------------------------------------------------
# lakehouse_ops: a seeded mix of commits and reads on an F1 results table
# ---------------------------------------------------------------------------

LH_SCHEMA = pa.schema([("resultId", pa.int64()), ("raceId", pa.int32()),
                       ("driverId", pa.int32()), ("grid", pa.int32()),
                       ("points2", pa.int32()), ("statusId", pa.int32())])

# One block of the schedule: every block holds these operations, in a
# seeded order, so each run sees the same mix whatever its seed. The
# snapshot reads are the most frequent operation; the end-to-end median
# is theirs (20 samples a block), and the mean carries the rest.
LH_BLOCK = (["read"] * 20 + ["read_at"] * 3 + ["change_feed"] +
            ["append", "upsert", "merge", "delete", "sql_delete"])
READS = ("read", "read_at", "change_feed")
# optimize and checkpoint once per block, after its last commit
OPTIMIZE_EVERY = CHECKPOINT_EVERY = sum(k not in READS for k in LH_BLOCK)


def _lh_value(rid, row):
    race, drv, grid, p2, st = row
    return rid * 4096 + p2 * 64 + grid + race * 7 + drv * 3 + st


def lh_checksum(rows):
    """(row count, content checksum) of a table state: the sums the
    benchmark computes in Spark over the table."""
    return len(rows), sum(_lh_value(k, v) for k, v in rows.items())


def _lh_rows(r, first_id, n, race0):
    return {first_id + i: (race0 + i // 20, int(r.integers(1, 61)),
                           int(r.integers(1, 21)), int(r.integers(0, 51)),
                           int(r.integers(1, 21))) for i in range(n)}


def _lh_table(rows):
    ks = sorted(rows)
    cols = list(zip(*[rows[k] for k in ks]))
    return pa.table([pa.array(ks, pa.int64())] +
                    [pa.array(c, pa.int32()) for c in cols], schema=LH_SCHEMA)


class _Model:
    """The table's expected content, with its checksum kept up to date."""

    def __init__(self, rows):
        self.rows = dict(rows)
        self.n, self.s = lh_checksum(self.rows)
        self.by_race = {}
        for k, v in self.rows.items():
            self.by_race.setdefault(v[0], set()).add(k)

    def put(self, k, v):
        if k in self.rows:
            self.drop(k)
        self.rows[k] = v
        self.by_race.setdefault(v[0], set()).add(k)
        self.n += 1
        self.s += _lh_value(k, v)

    def drop(self, k):
        v = self.rows.pop(k)
        self.by_race[v[0]].discard(k)
        if not self.by_race[v[0]]:
            del self.by_race[v[0]]
        self.n -= 1
        self.s -= _lh_value(k, v)


def gen_lakehouse(seed, base_rows, n_ops, batch_rows, out):
    """A base table, a seeded operation schedule with one source batch per
    writing operation, and the expected (count, checksum) after each op."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 3)
    base = _lh_rows(r, 1, base_rows, 1)
    _write(_lh_table(base), os.path.join(out, "base.parquet"))
    m = _Model(base)
    next_id, next_race = base_rows + 1, base_rows // 20 + 2
    kinds = []
    while len(kinds) < n_ops:
        kinds += [LH_BLOCK[i] for i in r.permutation(len(LH_BLOCK))]
    ops, commits = [], 0
    expected = [(m.n, m.s)]  # the state after op i is expected[i + 1]
    for i, kind in enumerate(kinds[:n_ops]):
        op = {"kind": kind}
        if kind in ("append", "upsert", "merge"):
            fresh = _lh_rows(r, next_id, batch_rows if kind == "append"
                             else batch_rows // 2, next_race)
            next_id += len(fresh)
            next_race += len(fresh) // 20 + 1
            batch = dict(fresh)
            if kind != "append":  # the other half updates live rows
                live = sorted(m.rows)
                for k in r.choice(live, batch_rows // 2, replace=False):
                    race, drv, _, _, st = m.rows[int(k)]
                    batch[int(k)] = (race, drv, int(r.integers(1, 21)),
                                     int(r.integers(0, 51)), st)
            op["source"] = f"src_{i:04d}.parquet"
            _write(_lh_table(batch), os.path.join(out, op["source"]))
            for k, v in batch.items():
                m.put(k, v)
        elif kind in ("delete", "sql_delete"):
            races = sorted(m.by_race)
            race = races[int(r.integers(0, len(races)))]
            g = int(r.integers(0, 15))
            hit = [k for k in m.by_race[race] if m.rows[k][2] >= g]
            if not hit:  # keep every delete effective: drop the grid bound
                g, hit = 0, list(m.by_race[race])
            for k in hit:
                m.drop(k)
            op["predicate"] = f"raceId = {race} AND grid >= {g}"
        if kind in READS:
            # which earlier state a time-travel or change-feed read
            # targets, as a share of the operations run so far
            op["back"] = float(r.random())
        else:
            commits += 1
            op["optimize"] = commits % OPTIMIZE_EVERY == 0
            op["checkpoint"] = commits % CHECKPOINT_EVERY == 0
        ops.append(op)
        expected.append((m.n, m.s))
    with open(os.path.join(out, "schedule.json"), "w") as f:
        json.dump({"ops": ops, "expected": expected, "block": len(LH_BLOCK)},
                  f, sort_keys=True)
    return ops
