"""Output checks for the benchmark's workloads.

Nothing here runs the program's code. The expected values come from the
poll generator's own formulas, recomputed below (a port of
perfbench/scala/perfbench/Polls.scala), and from SQL run by DuckDB over the
parquet the program wrote or read: the WRM checks' own SQL, and each
registry row's DuckDB oracle. Each check returns a list of failure
messages; an empty list means the outputs are correct.
"""
import datetime as dt
import json
import os

import duckdb

HEADER = ("#id,1705147845.123|3600|-3600,name,lat,lon,bikes,spaces,installed,"
          "locked,temporary,total_docks,givesbonus_acceptspedelecs_fbbattlevel,"
          "pedelecs")
NAMES = ["Plac Grunwaldzki", "Dworzec Główny", "Rynek", "Świdnicka", "Łokietka",
         "Żeromskiego", "Plac Bema", "Oławska", "Sępolno", "Krzyżowa",
         "Nowy Dwór", "Ślężna", "Różanka", "Gądów", "Kuźniki", "Bieńkowice"]
PROCESSED_AT_US = 1735689600 * 10**6  # 2025-01-01T00:00:00Z
M64 = (1 << 64) - 1


def draw(seed, k, salt, m):
    z = (seed * 0x9E3779B97F4A7C15 + k * 0xBF58476D1CE4E5B9
         + salt * 0x94D049BB133111EB) & M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & M64
    z ^= z >> 31
    return z % m


def e5(v):
    return f"{v // 100000}.{v % 100000:05d}"


def station_lat(i): return 5105000 + (i % 23) * 410 + (i * 7 % 13) * 37
def station_lon(i): return 1695000 + (i % 29) * 570 + (i * 11 % 17) * 41
def bike_lat(j, c): return 5108000 + ((j * 13 + c) % 50) * 90
def bike_lon(j, c): return 1700000 + ((j * 29 + c * 3) % 50) * 110


class Polls:
    def __init__(self, seed, stations, bikes, polls, day0):
        self.seed, self.stations, self.bikes, self.polls = seed, stations, bikes, polls
        self.rows = stations + bikes
        day1 = dt.datetime.fromisoformat(day0) + dt.timedelta(days=1)
        self.start = day1 - dt.timedelta(seconds=30 * (polls // 2))
        self.corrupt = polls // 3 + seed % 10

    def time(self, k): return self.start + dt.timedelta(seconds=30 * k)
    def epoch(self, k): return int(self.time(k).replace(tzinfo=dt.timezone.utc).timestamp())
    def date(self, k): return self.time(k).date().isoformat()
    def fname(self, k): return f"wrm_stations_{self.time(k):%Y-%m-%d_%H-%M-%S}.txt"

    def duplicate(self, k):
        return (k > 0 and k not in (self.corrupt, self.corrupt + 1)
                and draw(self.seed, k, 1, 10) == 0)

    def malformed_row(self, c):
        return draw(self.seed, c, 4, self.rows) if draw(self.seed, c, 3, 4) == 0 else -1

    def frac(self, r):
        return 100 + r % 400 if r < self.stations else 500 + (r - self.stations) % 400

    def station_bikes(self, i, c): return (i * 31 + c * 7 + self.seed % 17) % 17

    def text(self, c):
        e, bad, out = self.epoch(c), self.malformed_row(c), [HEADER]
        for r in range(self.rows):
            comp = f"{e}.{self.frac(r)}|3600" + ("" if r == bad else "|-3600")
            if r < self.stations:
                i, b = r, self.station_bikes(r, c)
                docks = 17 + i % 5
                out.append(f"{i + 1:04d},{comp},{NAMES[i % 16]} {i + 1},"
                           f"{e5(station_lat(i))},{e5(station_lon(i))},"
                           f"{'n/a' if (c == self.corrupt and i == 0) else b},"
                           f"{docks - b},true,false,false,{docks},"
                           f"{'true' if i % 2 == 0 else 'false'},{(i + c) % 3}")
            else:
                j = r - self.stations
                out.append(f"fb{j + 1:04d},{comp},BIKE {60001 + j},"
                           f"{e5(bike_lat(j, c))},{e5(bike_lon(j, c))},"
                           "1,0,true,false,false,1,true,0")
        return "\n".join(out)

    def dates(self):
        return sorted({self.date(k) for k in range(self.polls)})

    def rows_of(self, k):
        """Rows snapshot k contributes to the enhanced table."""
        if k == self.corrupt:
            return 0
        return self.rows - (1 if self.malformed_row(k) >= 0 else 0)


def table_sql(root):
    return (f"read_parquet('{root}/dt=*/*.parquet', hive_partitioning=true, "
            "hive_types_autocast=false)")


def expected_values_sql(p, table, start_us):
    """Rows whose values differ from the generator's formulas. The snapshot
    index k of a row comes from its file_timestamp, 30 s per poll."""
    names = ",".join(f"({i}, '{NAMES[i % 16]} {i + 1}')" for i in range(p.stations))
    return f"""
      WITH t AS (
        SELECT *, (epoch_us(file_timestamp) - {start_us}) // 30000000 AS k,
               CASE WHEN record_type = 'station' THEN CAST(station_id AS INTEGER) - 1
                    ELSE CAST(substr(station_id, 3) AS INTEGER) - 1 END AS ix
        FROM {table}),
      names(ix, nm) AS (VALUES {names})
      SELECT t.station_id, t.s3_source_key FROM t LEFT JOIN names USING (ix)
      WHERE NOT (
        epoch_us(file_timestamp) = {start_us} + k * 30000000
        AND gmt_local_diff_sec = 3600 AND gmt_servertime_diff_sec = -3600
        AND installed AND NOT locked AND NOT temporary
        AND epoch_us(processed_at) = {PROCESSED_AT_US}
        AND strftime("date", '%Y-%m-%d') = dt
        AND s3_source_key LIKE '%/dt=' || dt || '/wrm_stations_%'
        AND CASE WHEN record_type = 'station' THEN
              station_id = lpad(CAST(ix + 1 AS VARCHAR), 4, '0')
              AND name = nm
              AND abs(epoch_us("timestamp") - ({start_us} + k * 30000000) - (100 + ix % 400) * 1000) <= 1
              AND bikes = (ix * 31 + k * 7 + {p.seed % 17}) % 17
              AND total_docks = 17 + ix % 5
              AND spaces = total_docks - bikes
              AND givesbonus_acceptspedelecs_fbbattlevel = (ix % 2 = 0)
              AND pedelecs = (ix + k) % 3
              AND round(lat * 100000) = 5105000 + (ix % 23) * 410 + (ix * 7 % 13) * 37
              AND round(lon * 100000) = 1695000 + (ix % 29) * 570 + (ix * 11 % 17) * 41
            WHEN record_type = 'bike' THEN
              name = 'BIKE ' || CAST(60001 + ix AS VARCHAR)
              AND abs(epoch_us("timestamp") - ({start_us} + k * 30000000) - (500 + ix % 400) * 1000) <= 1
              AND bikes = 1 AND spaces = 0 AND total_docks = 1 AND pedelecs = 0
              AND givesbonus_acceptspedelecs_fbbattlevel
              AND round(lat * 100000) = 5108000 + ((ix * 13 + k) % 50) * 90
              AND round(lon * 100000) = 1700000 + ((ix * 29 + k * 3) % 50) * 110
            ELSE false END)
      LIMIT 5"""


def per_file_failures(con, table, expected_rows):
    """Per source file, the row count must be what its snapshot implies."""
    got = dict(con.sql(f"""SELECT regexp_extract(s3_source_key, '[^/]+$'), count(*)
                           FROM {table} GROUP BY 1""").fetchall())
    exp = {f: n for f, n in expected_rows.items() if n > 0}
    if got != exp:
        diff = sorted(set(got.items()) ^ set(exp.items()))[:5]
        return [f"per-file row counts differ from the generator's: {diff}"]
    return []


def check_ingest(c):
    """The raw tree and the enhanced table the cycle's write path left."""
    p = Polls(c["seed"], c["stations"], c["bikes"], c["polls"], c["day0"])
    fails = []
    landed = [k for k in range(p.polls) if not p.duplicate(k)]
    dups = p.polls - len(landed)
    if c["duplicates_skipped"] != dups:
        fails.append(f"duplicates skipped {c['duplicates_skipped']}, generator made {dups}")
    if c["raw_files"] != c["history_files"] + len(landed):
        fails.append(f"raw files {c['raw_files']}, expected "
                     f"{c['history_files']} history + {len(landed)} landed")
    # raw tree: exactly the non-duplicate polls, stored as repaired UTF-8
    for d in p.dates():
        ddir = os.path.join(c["raw"], f"dt={d}")
        want = {p.fname(k): k for k in landed if p.date(k) == d}
        have = set(os.listdir(ddir))
        if have != set(want):
            fails.append(f"dt={d}: landed files differ: {sorted(have ^ set(want))[:3]}")
            continue
        for f, k in want.items():
            with open(os.path.join(ddir, f), "rb") as fh:
                if fh.read() != p.text(k).encode("utf-8"):
                    fails.append(f"dt={d}/{f}: stored bytes are not the poll's repaired text")
                    break
    con = duckdb.connect(config={"threads": 2})
    table = table_sql(c["enhanced"])
    fails += per_file_failures(con, table, {p.fname(k): p.rows_of(k) for k in landed})
    start_us = p.epoch(0) * 10**6
    bad = con.sql(expected_values_sql(p, table, start_us)).fetchall()
    if bad:
        fails.append(f"rows whose values differ from the generator's formulas: {bad}")
    return fails


def close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def same_rows(name, got, want, fails):
    """Order-insensitive comparison of result rows, floats within 1e-9."""
    got, want = sorted(map(tuple, got), key=repr), sorted(map(tuple, want), key=repr)
    if len(got) != len(want):
        fails.append(f"{name}: {len(got)} rows, oracle has {len(want)}")
        return
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(close(x, y) for x, y in zip(g, w)):
            fails.append(f"{name}: row {g} differs from oracle row {w}")
            return


ORDER_KEY = "printf('%020d%020d', epoch_us(file_timestamp), epoch_us(\"timestamp\"))"


def latest_sql(table):
    return f"""SELECT * FROM (
      SELECT *, row_number() OVER (PARTITION BY station_id
        ORDER BY "date" DESC, file_timestamp DESC, "timestamp" DESC) AS rn
      FROM {table} WHERE record_type = 'station') WHERE rn = 1"""


def check_views(c, results_path):
    """The dashboard requests' results over the table the cycle wrote."""
    p = Polls(c["seed"], c["stations"], c["bikes"], c["polls"], c["day0"])
    landed = [k for k in range(p.polls) if not p.duplicate(k)]
    with open(results_path) as fh:
        res = json.load(fh)
    con = duckdb.connect(config={"threads": 2})
    table = table_sql(c["enhanced"])
    q = lambda sql: [list(r) for r in con.sql(sql).fetchall()]
    fails = []
    us = lambda col: f'epoch_us("{col}")'

    total = q(f"SELECT count(*) FROM {table}")[0][0]
    want_total = sum(p.rows_of(k) for k in landed)
    if total != want_total:
        fails.append(f"table holds {total} rows, the landed polls hold {want_total}")

    # latest per station: the oracle's rows, and the generator's last snapshot
    latest = [[r[0], r[7], r[8], r[2], r[18], r[17]] for r in res["latest"]]
    same_rows("latest", latest, q(f"""SELECT station_id, bikes, spaces, {us('timestamp')},
        {us('date')}, {us('file_timestamp')} FROM ({latest_sql(table)})"""), fails)
    for r in res["latest"]:
        i = int(r[0]) - 1
        k = max(k for k in landed if k != p.corrupt and p.malformed_row(k) != i)
        if r[7] != p.station_bikes(i, k):
            fails.append(f"latest: station {r[0]} has {r[7]} bikes, generator says "
                         f"{p.station_bikes(i, k)}")
            break
    if len(res["latest"]) != p.stations:
        fails.append(f"latest: {len(res['latest'])} stations, generator has {p.stations}")

    same_rows("daily", res["daily"], q(f"""
      SELECT station_id, name, round(avg(bikes), 2), max(bikes), min(bikes),
             round(stddev_samp(bikes), 2), round(avg(spaces), 2), max(spaces), min(spaces),
             round(stddev_samp(spaces), 2), arg_min(total_docks, {ORDER_KEY}),
             round(avg(CAST(installed AS DOUBLE)), 2), epoch_us(arg_min("date", {ORDER_KEY}))
      FROM {table} WHERE record_type = 'station' GROUP BY station_id, name"""), fails)

    same_rows("movement", res["movement"], q(f"""
      SELECT station_id, name, arg_min(lat, {ORDER_KEY}), arg_max(lat, {ORDER_KEY}),
             round(stddev_samp(lat), 6), arg_min(lon, {ORDER_KEY}), arg_max(lon, {ORDER_KEY}),
             round(stddev_samp(lon), 6), round(avg(CAST(installed AS DOUBLE)), 2),
             epoch_us(arg_min("date", {ORDER_KEY}))
      FROM {table} WHERE record_type = 'bike' GROUP BY station_id, name"""), fails)

    # density grid over the latest view: same cell arithmetic as the oracle
    # the program's registry uses, plus the conservation properties
    side = "(sqrt(1000.0) / 111320.0)"
    lon_d = "(sqrt(1000.0) / (111320.0 * cos(radians(lat_center))))"
    same_rows("density", [r[:5] for r in res["density"]], q(f"""
      WITH pts AS (SELECT * FROM ({latest_sql(table)}) WHERE lat IS NOT NULL AND lon IS NOT NULL),
      b AS (SELECT min(lat) lat_min, max(lat) lat_max, min(lon) lon_min, max(lon) lon_max,
                   CAST(sum(CAST(lat AS DECIMAL(28,12))) AS DOUBLE) / count(*) lat_center FROM pts),
      keyed AS (
        SELECT CAST(least(floor((lat - lat_min) / {side}),
                 greatest(CAST(ceil((lat_max - lat_min) / {side}) AS INTEGER) - 1, 0)) AS INTEGER) r,
               CAST(least(floor((lon - lon_min) / {lon_d}),
                 greatest(CAST(ceil((lon_max - lon_min) / {lon_d}) AS INTEGER) - 1, 0)) AS INTEGER) c,
               bikes, record_type FROM pts CROSS JOIN b)
      SELECT r, c, CAST(sum(bikes) AS BIGINT),
             count(CASE WHEN record_type = 'station' THEN 1 END),
             count(CASE WHEN record_type = 'bike' THEN 1 END)
      FROM keyed GROUP BY r, c"""), fails)
    if sum(r[2] for r in res["density"]) != sum(r[7] for r in res["latest"]):
        fails.append("density: grid bike_count does not sum to the latest view's bikes")
    if any(len(r[7]) != r[3] + r[4] for r in res["density"]):
        fails.append("density: a cell's members differ from its station + bike counts")

    top = q(f"""SELECT station_id, name, bikes, spaces, {us('timestamp')}
                FROM ({latest_sql(table)}) ORDER BY "timestamp" DESC, station_id LIMIT 10""")
    for name, rows in (("top10", res["top10"]), ("summary.top10", res["summary"]["top10"])):
        if rows != top:
            fails.append(f"{name}: {rows[:2]}... differs from the oracle's {top[:2]}...")
        if any(a[4] < b[4] for a, b in zip(rows, rows[1:])):
            fails.append(f"{name}: not ordered by timestamp descending")

    if res["summary"]["total"] != total:
        fails.append(f"summary: total {res['summary']['total']}, table has {total}")
    types = dict(q(f"SELECT record_type, count(*) FROM {table} GROUP BY 1"))
    if res["summary"]["types"] != types:
        fails.append(f"summary: type counts {res['summary']['types']}, oracle {types}")

    same_rows("per_file", res["per_file"], q(f"""
      SELECT s3_source_key, {us('file_timestamp')}, count(*) FROM {table}
      GROUP BY s3_source_key, file_timestamp"""), fails)
    if sum(r[2] for r in res["per_file"]) != total:
        fails.append("per_file: counts do not sum to the table's rows")
    return fails


REGISTRY_TABLES = ("part", "documents", "events", "lineitem")


def canonical(rel):
    """A result's rows with columns in name order, rows sorted."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in rel.fetchall()]
    key = lambda r: tuple((v is None, 0 if v is None else v) for v in r)
    return [cols[i] for i in order], sorted(rows, key=key)


def check_registry(c):
    """Each row's result against its DuckDB oracle over the same tables:
    same columns, same rows, values exactly equal."""
    con = duckdb.connect(config={"threads": 2})
    for t in REGISTRY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{c['tables']}/{t}.parquet/*.parquet')")
    fails = []
    for row, sql in sorted(c["oracles"].items()):
        got_cols, got = canonical(con.sql(
            f"SELECT * FROM read_parquet('{c['results']}/{row}/*.parquet')"))
        want_cols, want = canonical(con.sql(sql))
        if not want:
            fails.append(f"{row}: the oracle returns no rows, so nothing is checked")
        elif got_cols != want_cols:
            fails.append(f"{row}: columns {got_cols}, oracle has {want_cols}")
        elif got != want:
            diff = [(g, w) for g, w in zip(got, want) if g != w][:1]
            fails.append(f"{row}: {len(got)} rows, oracle has {len(want)}; first "
                         f"difference {diff}")
    return fails
