"""Seeded benchmark inputs.

tables(): a row permutation and re-split of the base tables. The rows are
those of the base tables, so every oracle still applies; the order and the
row-group layout follow the seed.

etl(): USCRN hourly02 text files (all 38 fields, soil columns included) and
the index page listing them, one snapshot of the page per increment.
Increment 0 is main's history. Each increment's files carry -9999 sentinels
(-99 for soil moisture), duplicate rows, late rows (hours of an earlier
increment, published only now), rows an earlier increment already
published, and rows flagged for quarantine (sur_temp_flag = 3).
"""
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def tables(src, dst, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(dst)
    for t in TABLES:
        tab = pq.read_table(os.path.join(src, f"{t}.parquet"))
        tab = tab.take(rng.permutation(tab.num_rows))
        # One file per table, as the program's loaders and stream sources
        # expect (they watch for a file named <table>.parquet); the seed
        # sets the row-group split instead.
        groups = int(rng.integers(1, 5))
        pq.write_table(tab, os.path.join(dst, f"{t}.parquet"),
                       row_group_size=max(1, -(-tab.num_rows // groups)))


# The 38 fields of a USCRN hourly02 line, in file order, as the format's
# readme (NCEI, pub/data/uscrn/products/hourly02/readme.txt) lists them.
# The reference DAG parses all of them and then drops the soil columns.
FIELDS = ("wbanno utc_date utc_time lst_date lst_time crx_vn longitude latitude "
          "t_calc t_hr_avg t_max t_min p_calc "
          "solarad solarad_flag solarad_max solarad_max_flag solarad_min solarad_min_flag "
          "sur_temp_type sur_temp sur_temp_flag sur_temp_max sur_temp_max_flag sur_temp_min sur_temp_min_flag "
          "rh_hr_avg rh_hr_avg_flag "
          "soil_moisture_5 soil_moisture_10 soil_moisture_20 soil_moisture_50 soil_moisture_100 "
          "soil_temp_5 soil_temp_10 soil_temp_20 soil_temp_50 soil_temp_100").split()

# Chosen, not measured: the station count is the size of the station
# dimension the workload joins (25 rows), and the anomaly rates are set so
# that every transform step has rows to act on in every increment.
INCREMENTS = 3
STATIONS = 25
HOURS_PER_INCREMENT = 24  # one daily DAG run
HISTORY_DAYS = 14  # main's rows before the first timed increment
SENTINEL_RATE, LATE_RATE, DUPLICATE_RATE, QUARANTINE_RATE, REPUBLISHED = 0.05, 0.04, 0.03, 0.03, 6
START = dt.datetime(2026, 3, 1, 0, 0)


def _row(rng, wbanno, t):
    lst = t - dt.timedelta(hours=9)  # Alaska standard time

    def m(v, width, fmt=".1f", missing=-9999.0):
        v = missing if rng.random() < SENTINEL_RATE else v
        return f"{v:{width}{fmt}}"

    def flag():
        return "3" if rng.random() < QUARANTINE_RATE else str(rng.choice([0, 0, 0, 1]))

    base = -5 + 10 * rng.random()
    sur = base + rng.uniform(-2, 2)
    sol = rng.uniform(0, 400)
    return [
        f"{wbanno:5d}", t.strftime("%Y%m%d"), t.strftime("%H%M"), lst.strftime("%Y%m%d"), lst.strftime("%H%M"),
        "2.622", f"{-150 + wbanno % 7 * 0.5:7.2f}", f"{60 + wbanno % 5 * 0.25:7.2f}",
        m(base, 7), m(base + rng.uniform(-1, 1), 7), m(base + 2, 7), m(base - 2, 7),
        m(rng.uniform(0, 2), 7),
        m(sol, 6, ".0f"), str(rng.choice([0, 0, 0, 1])), m(sol * 1.3, 6, ".0f"), "0", m(sol * 0.7, 6, ".0f"), "0",
        rng.choice("CCCR"), m(sur, 7), flag(), m(sur + 1, 7), "0", m(sur - 1, 7), "0",
        m(rng.uniform(40, 100), 5, ".0f"), "0",
        *(m(rng.uniform(0.05, 0.4), 7, ".3f", missing=-99.0) for _ in range(5)),
        *(m(base + d / 20, 7) for d in (5, 10, 20, 50, 100)),
    ]


def etl(dst, seed, small=False):
    """Increment 0 is main's history, landed during set-up; increments 1..n
    are the timed ones, one daily DAG run each."""
    rng = random.Random(seed)
    n_inc = 2 if small else INCREMENTS
    hours = 4 if small else HOURS_PER_INCREMENT
    history_hours = hours * (1 if small else HISTORY_DAYS)
    stations = [26400 + s for s in range(4 if small else STATIONS)]
    files_dir = os.path.join(dst, "files")
    os.makedirs(files_dir)
    listing, clocks, late, published = [], [], [], []
    for i in range(0, n_inc + 1):
        held = []
        published_at = START + dt.timedelta(days=i, hours=10)
        first = START - dt.timedelta(hours=history_hours) if i == 0 else START + dt.timedelta(hours=(i - 1) * hours)
        rows_by_station = {s: [] for s in stations}
        for s in stations:
            for h in range(history_hours if i == 0 else hours):
                row = _row(rng, s, first + dt.timedelta(hours=h))
                if rng.random() < LATE_RATE and i < n_inc:
                    held.append(row)  # late: published with the next increment
                    continue
                rows_by_station[s].append(row)
                if rng.random() < DUPLICATE_RATE:
                    rows_by_station[s].append(list(row))  # duplicate within the increment
        for row in late:
            rows_by_station[int(row[0])].append(row)
        late = held
        for row in rng.sample(published, min(len(published), REPUBLISHED)):
            rows_by_station[int(row[0])].append(list(row))  # republished: already in main
        for s in stations:
            rng.shuffle(rows_by_station[s])
            name = f"CRNH0203-{i:02d}-{s}.txt"
            with open(os.path.join(files_dir, name), "w") as f:
                for r in rows_by_station[s]:
                    f.write(" ".join(r) + "\n")
            modified = published_at + dt.timedelta(minutes=rng.randrange(0, 30))
            listing.append((name, modified, os.path.getsize(os.path.join(files_dir, name))))
            published.extend(rows_by_station[s])
        # Stamped after the last file of the increment was published and
        # before the next increment's first.
        clocks.append((published_at + dt.timedelta(hours=1)).strftime("%Y-%m-%d %H:%M:%S"))
        with open(os.path.join(dst, f"listing_{i:02d}.html"), "w") as f:
            f.write(_index_page(listing))
    with open(os.path.join(dst, "meta.json"), "w") as f:
        json.dump({"increments": n_inc, "clocks": clocks}, f)


def _index_page(listing):
    rows = "\n".join(
        f'<tr><td valign="top"><img src="/icons/text.gif" alt="[TXT]"></td>'
        f'<td><a href="{n}">{n}</a></td><td align="right">{m:%Y-%m-%d %H:%M}  </td>'
        f'<td align="right">{size // 1024 + 1}K</td><td>&nbsp;</td></tr>'
        for n, m, size in listing)
    return ("<!DOCTYPE HTML PUBLIC \"-//W3C//DTD HTML 3.2 Final//EN\">\n<html><head>"
            "<title>Index of /pub/data/uscrn/products/hourly02/updates</title></head><body>\n"
            "<h1>Index of /pub/data/uscrn/products/hourly02/updates</h1>\n<table>\n"
            "<tr><th valign=\"top\"><img src=\"/icons/blank.gif\" alt=\"[ICO]\"></th><th>Name</th>"
            "<th>Last modified</th><th>Size</th><th>Description</th></tr>\n"
            "<tr><th colspan=\"5\"><hr></th></tr>\n"
            "<tr><td valign=\"top\"><img src=\"/icons/back.gif\" alt=\"[PARENTDIR]\"></td>"
            "<td><a href=\"/pub/data/uscrn/products/hourly02/\">Parent Directory</a></td>"
            "<td>&nbsp;</td><td align=\"right\">  - </td><td>&nbsp;</td></tr>\n"
            f"{rows}\n<tr><th colspan=\"5\"><hr></th></tr>\n</table>\n</body></html>\n")
