"""Output checks. They run after the timed passes, outside the timing.

Query workloads: each query's collected result (written as Parquet by the
harness) is compared with the query's DuckDB oracle with the rules of
tools/check_oracle.py, imported from there: columns sorted by name, the
same dtype kind per column (int widths may differ), the same row count,
equal cells in order.
Queries without an oracle are checked by row count.

Ingest workloads: the warehouse each timed pass built is compared with
what the generator's manifest says a correct pipeline produces.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)
from check_oracle import TABLES, cells, dtype_check, norm  # noqa: E402


# ---------------------------------------------------------------------------
# queries

def _compare(duck, spark):
    """None when equal, else the first difference (check_oracle.py's rules)."""
    if list(duck.columns) != list(spark.columns):
        return f"columns: duck={list(duck.columns)} spark={list(spark.columns)}"
    derrs = dtype_check(duck, spark)
    if derrs:
        return "dtype: " + "; ".join(derrs)
    dc, sc = cells(duck), cells(spark)
    if len(dc) != len(sc):
        return f"rowcount: duck={len(dc)} spark={len(sc)}"
    for i, (a, b) in enumerate(zip(dc, sc)):
        if a != b:
            return f"row {i}: duck={a} spark={b}"
    return None


def check_queries(data_dir, results_dir, names, oracle_sql, expected_rows):
    """Return {query: reason} for every wrong output."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    wrong = {}
    for name in names:
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            wrong[name] = "no result"
            continue
        spark = norm(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        try:
            if name in oracle_sql:
                duck = norm(con.execute(oracle_sql[name]).df())
                diff = _compare(duck, spark)
            elif name in expected_rows:
                diff = (None if len(spark) == expected_rows[name]
                        else f"rows: expected {expected_rows[name]} got {len(spark)}")
            else:
                diff = None if len(spark) > 0 else "empty result"
        except Exception as e:  # an oracle that fails to run is a finding too
            diff = f"{type(e).__name__}: {e}"
        if diff:
            wrong[name] = diff[:300]
    con.close()
    return wrong


# ---------------------------------------------------------------------------
# ingest

FACT_COLS = ["simulation_id", "simulation_num", "ca", "cb", "cc", "cd",
             "temperature", "t_sensor", "rxn_time"]
CSV_RENAME = {
    "SimulationID": "simulation_id", "CA (mol/m^3)": "ca",
    "CB (mol/m^3)": "cb", "CC (mol/m^3)": "cc", "CD (mol/m^3)": "cd",
    "T (K)": "temperature", "Tsensor (K)": "t_sensor", "t (sec)": "rxn_time",
}


def _corpus_files(corpus, prefix, ids):
    out = {}
    for path in glob.glob(os.path.join(corpus, "batch_*", "*", prefix + "_*")):
        sid = os.path.basename(path)[len(prefix) + 1:].rsplit(".", 1)[0]
        if sid in ids:
            out[sid] = path
    return out


def expected_tables(con, corpus, manifest):
    """Create expected_fact and expected_dim in `con` from the corpus."""
    sims = manifest["sims"]
    num = {s["id"]: s["simulation_num"] for s in sims}
    valid = {s["id"]: s for s in sims if not s["invalid"]}
    csvs = _corpus_files(corpus, "rxndata", set(valid))
    frames = []
    for sid, path in sorted(csvs.items()):
        df = pd.read_csv(path, dtype=str)
        df = df.rename(columns=CSV_RENAME).drop(columns=["Unnamed: 0"], errors="ignore")
        for c in FACT_COLS[2:]:
            df[c] = df[c].astype("float64")
        df["simulation_num"] = num[sid]
        df["day"] = valid[sid]["day"]
        frames.append(df[FACT_COLS + ["day"]])
    fact = pd.concat(frames, ignore_index=True)
    fact["simulation_num"] = fact["simulation_num"].astype("int32")
    con.register("expected_fact_df", fact)
    con.execute("CREATE OR REPLACE TABLE expected_fact AS SELECT * FROM expected_fact_df")
    rows = []
    for sid, path in sorted(_corpus_files(corpus, "metadata", set(num)).items()):
        with open(path, encoding="utf-8") as f:
            m = json.load(f)
        rows.append({
            "simulation_id": m["simulation_id"], "simulation_num": num[sid],
            "reaction_name": m["reaction_name"],
            "activation_energy": float(m["activation_energy (J/mol)"]),
            "ca0": float(m["CA0_(mol/m^3)"]), "cb0": float(m["CB0_(mol/m^3)"]),
            "t0": float(m["T0_(K)"]), "date_run": m["date_run"],
            "stop_reason": m["stop_reason"],
            "stop_time_s": float(m["stop_time_(s)"]),
        })
    con.register("expected_dim_df", pd.DataFrame(rows))
    con.execute("""CREATE OR REPLACE TABLE expected_dim AS
        SELECT * REPLACE (CAST(simulation_num AS INTEGER) AS simulation_num,
                          CAST(date_run AS DATE) AS date_run)
        FROM expected_dim_df""")


def _multiset_diff(con, a, b, cols):
    sel = ", ".join(cols)
    q = (f"SELECT (SELECT count(*) FROM (SELECT {sel} FROM {a} EXCEPT ALL SELECT {sel} FROM {b})) "
         f"+ (SELECT count(*) FROM (SELECT {sel} FROM {b} EXCEPT ALL SELECT {sel} FROM {a}))")
    return con.execute(q).fetchone()[0]


def check_warehouse(con, root, manifest):
    """Return ({check: reason} for wrong outputs, ledger summary). Needs
    expected_fact/expected_dim in `con`."""
    wh = os.path.join(root, "warehouse")
    wrong = {}
    con.execute(f"""CREATE OR REPLACE VIEW fact AS
        SELECT * REPLACE (CAST(day AS VARCHAR) AS day) FROM read_parquet(
          '{wh}/fact_sim/*/*.parquet', hive_partitioning = true,
          hive_types_autocast = false)""")
    con.execute(f"CREATE OR REPLACE VIEW dim AS SELECT * FROM read_parquet('{wh}/dim_rxn/*.parquet')")
    con.execute(f"CREATE OR REPLACE VIEW ledger AS SELECT * FROM read_parquet('{wh}/etl_run_log/*.parquet')")

    n_fact, n_exp = con.execute(
        "SELECT (SELECT count(*) FROM fact), (SELECT count(*) FROM expected_fact)").fetchone()
    d = _multiset_diff(con, "fact", "expected_fact", FACT_COLS + ["day"])
    if d:
        wrong["fact"] = f"{d} rows differ (fact {n_fact}, expected {n_exp})"
    unenriched = con.execute("SELECT count(*) FROM fact WHERE simulation_num IS NULL").fetchone()[0]
    if unenriched:
        wrong["enrichment"] = f"{unenriched} fact rows not enriched after the last backfill"
    d = _multiset_diff(con, "dim", "expected_dim",
                       ["simulation_id", "simulation_num", "reaction_name",
                        "activation_energy", "ca0", "cb0", "t0", "date_run",
                        "stop_reason", "stop_time_s"])
    if d:
        wrong["dim"] = f"{d} rows differ"

    sims = manifest["sims"]
    valid = sorted(s["id"] for s in sims if not s["invalid"])
    invalid = sorted(s["id"] for s in sims if s["invalid"])
    everyone = sorted(s["id"] for s in sims)

    def ids(etl, status):
        return sorted(r[0] for r in con.execute(
            "SELECT simulation_id FROM ledger WHERE etl_type = ? AND status = ?",
            [etl, status]).fetchall())
    csv_ok, csv_failed = ids("rxn_data", "success"), ids("rxn_data", "failed")
    meta_ok = ids("metadata", "success")
    if csv_ok != valid:
        wrong["ledger_csv_success"] = "successes are not exactly one per valid CSV"
    if sorted(set(csv_failed)) != invalid:
        wrong["ledger_csv_failed"] = "failures are not exactly the invalid CSVs"
    if meta_ok != everyone:
        wrong["ledger_metadata"] = "metadata successes are not one per file"
    ledger = {
        "files_ingested": len(csv_ok) + len(meta_ok),
        "files_quarantined": len(set(csv_failed)),
        "valid_quarantined": sorted(set(csv_failed) - set(invalid)),
        "rows_inserted": n_fact,
    }
    return wrong, ledger
