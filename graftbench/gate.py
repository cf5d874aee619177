"""The correctness gate, run after the timed region.

Registered queries: each output of the gate pass is compared with its DuckDB
oracle over the same generated tables (row count, column names and the
canonical value hash of tools/check_oracle.py).

etl_incremental: the final main of the gate pass is compared with DuckDB's
restatement of the increments (history included) over the generated text:
row count, unique keys, the rows each increment's audit stamp carries, and
the value hash. The
warehouse table is compared with its rollup of that restatement, and every
timed pass must leave main with the oracle's row count.
"""
import glob
import importlib.util
import json
import os

import duckdb
import pandas as pd

import inputs


def _canon(root):
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def _read(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else None


def _compare(canon, name, got, want, failures):
    if got is None:
        failures.append(f"{name}: no output")
        return False
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        failures.append(f"{name}: rows {len(got)} vs {len(want)}, columns "
                        f"{sorted(got.columns)} vs {sorted(want.columns)}")
        return False
    if canon(got) != canon(want):
        failures.append(f"{name}: value hash differs from the oracle")
        return False
    return True


def check(root, workload, in_dir, out_dir, res):
    canon = _canon(root)
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(in_dir, "tables", "*.parquet"))):
        t = os.path.basename(p).removesuffix(".parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    gate_dir = os.path.join(out_dir, "gate")
    failures, mismatch, pass_failures = [], [], 0
    for q, sql in sorted(res["oracles"].items()):
        if res["gate"].get(q) != "ok":
            failures.append(f"{q}: {res['gate'].get(q)}")
            mismatch.append(q)
            continue
        want = con.sql(sql).df()
        if not _compare(canon, q, _read(os.path.join(gate_dir, f"{q}.parquet")), want, failures):
            mismatch.append(q)
    if workload == "etl_incremental":
        mismatch += _etl(con, canon, in_dir, gate_dir, res, failures)
        expected_rows = res["rows_per_pass"]
        n_inc = json.load(open(os.path.join(in_dir, "etl", "meta.json")))["increments"]
        for i, n in enumerate(res["pass_main_rows"]):
            if n != expected_rows:
                failures.append(f"timed pass {i + 1}: landed {n} rows in main, the gate pass {expected_rows}")
                pass_failures += n_inc
    return {"mismatch": sorted(set(mismatch)), "pass_failures": pass_failures, "failures": failures}


INT_FIELDS = {"wbanno", "utc_date", "utc_time", "lst_date", "lst_time"}
STR_FIELDS = {"crx_vn", "sur_temp_type"}
SCHEMA = [(n, int if n in INT_FIELDS or n.endswith("_flag") else str if n in STR_FIELDS else float)
          for n in inputs.FIELDS]
SENTINEL = ["t_calc", "t_hr_avg", "t_max", "t_min", "p_calc", "solarad", "solarad_max", "solarad_min",
            "sur_temp", "sur_temp_max", "sur_temp_min", "rh_hr_avg"]
MAIN_COLS = ", ".join(["wbanno", "station", "utc_datetime"] + [
    n for n in inputs.FIELDS if "soil" not in n and n not in ("wbanno", "utc_date", "utc_time")] + ["t_hr_avg_f"])


def _etl(con, canon, in_dir, gate_dir, res, failures):
    meta = json.load(open(os.path.join(in_dir, "etl", "meta.json")))
    recs = []
    for path in sorted(glob.glob(os.path.join(in_dir, "etl", "files", "*.txt"))):
        inc = int(os.path.basename(path).split("-")[1])
        for line in open(path):
            if line.strip() and not line.startswith("#"):
                toks = line.split()
                recs.append([conv(v) for (_, conv), v in zip(SCHEMA, toks)] + [inc])
    raw = pd.DataFrame(recs, columns=[n for n, _ in SCHEMA] + ["inc"])
    con.register("raw", raw)
    con.register("clocks", pd.DataFrame({"inc": range(0, meta["increments"] + 1),
                                         "clock": pd.to_datetime(meta["clocks"])}))
    desent = ", ".join(f"CASE WHEN {c} = -9999.0 THEN NULL ELSE {c} END AS {c}" for c in SENTINEL)
    con.sql(f"""
        CREATE TABLE expected AS
        WITH s AS (SELECT * REPLACE ({desent}) FROM raw),
        clean AS (SELECT * FROM s WHERE NOT coalesce(sur_temp_flag = 3, false)),
        j AS (
          SELECT c.*, n.n_name AS station,
            make_timestamp(utc_date // 10000, utc_date % 10000 // 100, utc_date % 100,
                           utc_time // 100, utc_time % 100, 0) AS utc_datetime,
            CASE WHEN t_hr_avg > -90 THEN t_hr_avg * 9 / 5 + 32 ELSE t_hr_avg END AS t_hr_avg_f
          FROM clean c JOIN nation n ON c.wbanno % 25 = n.n_nationkey),
        firsts AS (
          SELECT *, row_number() OVER (PARTITION BY wbanno, utc_datetime ORDER BY inc, lst_time) AS rk
          FROM j)
        SELECT {MAIN_COLS}, clock AS date_added_utc
        FROM firsts JOIN clocks USING (inc) WHERE rk = 1""")
    got = _read(res["gate"]["etl_main"])
    bad = []
    if got is None:
        failures.append("etl main: no output")
        return [f"increment_{i:02d}" for i in range(1, meta["increments"] + 1)]
    want = con.sql("SELECT * FROM expected").df()
    con.register("got", got)
    n_keys = con.sql("SELECT count(DISTINCT (wbanno, utc_datetime)) FROM got").fetchone()[0]
    if len(got) != len(want) or n_keys != len(got):
        failures.append(f"etl main: {len(got)} rows with {n_keys} unique keys, oracle {len(want)} rows")
    for i, clock in enumerate(pd.to_datetime(meta["clocks"])):
        g = got[got["date_added_utc"] == clock].reset_index(drop=True)
        w = want[want["date_added_utc"] == clock].reset_index(drop=True)
        if not _compare(canon, f"increment_{i:02d}", g, w, failures):
            bad.append(f"increment_{i:02d}")
    # Every increment lands on top of the history: a wrong history, or a
    # wrong main as a whole, fails them all.
    if "increment_00" in bad or len(got) != len(want) or n_keys != len(got):
        bad = [f"increment_{i:02d}" for i in range(1, meta["increments"] + 1)]
    wh = con.sql(f"""
        SELECT wbanno, station, date_trunc('hour', utc_datetime) AS utc_hour, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(t_hr_avg AS DECIMAL(25,10))) AS DOUBLE) AS t_hr_avg_sum,
          TIMESTAMP '{meta["clocks"][-1]}' AS date_added_utc
        FROM expected GROUP BY 1, 2, 3""").df()
    got_wh = _read(os.path.join(gate_dir, "etl_warehouse.parquet"))
    if got_wh is not None:
        got_wh.columns = [c.lower() for c in got_wh.columns]
    if not _compare(canon, "warehouse_merge", got_wh, wh, failures):
        bad.append("warehouse_merge")
    return bad
