"""Output checks, run after the timed loop. Each returns a list of
problems per operation (empty when the operation's outputs are right).

* weekly workload: the UPDATED and ADDED CSVs of every week must sit at
  their stable paths and hold exactly the rows DuckDB returns for the
  reference's two statements (agency-delta.go:126-246) over the same staged
  text: the change query (inner join on ``pid``, any of the 33 attributes
  ``<>``, three-valued) and the documented intent of the new-rows query
  (keys absent from the previous snapshot);
* lake workload: every time-travel count and point lookup must match the
  state expected from the base and the batches, and so must the final
  table;
* traced query pass: each declared query's result must equal its
  ``SparkEntry.oracleSql`` statement run by DuckDB over the same tables
  (columns by name, rows sorted, floats to 6 places).
"""

import glob
import os

import duckdb
import pandas as pd

from gen import ATTRS, COLUMNS, week_date


# every column read as text, as the program's lake tables declare them
VARCHARS = "{" + ", ".join(f"'{c}': 'VARCHAR'" for c in COLUMNS) + "}"


def _text(con, path, view):
    con.execute(f"CREATE OR REPLACE VIEW {view} AS SELECT * FROM read_csv("
                f"'{path}', delim='|', header=false, columns={VARCHARS}, "
                f"quote='', escape='')")


def _same_rows(con, a, b):
    """Multiset equality of two relations with the same columns."""
    n = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL "
        f"SELECT * FROM {b})) + (SELECT count(*) FROM (SELECT * FROM {b} "
        f"EXCEPT ALL SELECT * FROM {a}))").fetchone()[0]
    return n == 0


def check_weeks(input_dir, lake_root, weeks):
    """Check each week's delta outputs; returns ({week: [problems]},
    {week: (updated_rows, added_rows, newest_rows)})."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    problems, counts = {}, {}
    col_list = ", ".join(COLUMNS)
    change = " OR ".join(f"n.{a} <> p.{a}" for a in ATTRS)
    for w in weeks:
        bad = []
        date = week_date(w)
        _text(con, os.path.join(input_dir, f"agency_w{w - 1:02d}.txt"), "prev")
        _text(con, os.path.join(input_dir, f"agency_w{w:02d}.txt"), "newest")
        con.execute(f"CREATE OR REPLACE VIEW exp_upd AS SELECT n.* FROM "
                    f"newest n JOIN prev p ON n.pid = p.pid WHERE {change}")
        con.execute("CREATE OR REPLACE VIEW exp_add AS SELECT n.* FROM "
                    "newest n WHERE NOT EXISTS (SELECT 1 FROM prev p "
                    "WHERE p.pid = n.pid)")
        got = {}
        for kind, view in (("UPDATED", "exp_upd"), ("ADDED", "exp_add")):
            d = os.path.join(lake_root, "DELTA", kind, "Agency_Data",
                             f"importdate={date}")
            name = f"Agency_Data_{kind.lower()}.csv"
            path = os.path.join(d, name)
            if not os.path.isfile(path):
                bad.append(f"week {w}: missing {kind} output {name}")
                continue
            extra = sorted(set(os.listdir(d)) - {name, f".{name}.crc"})
            if extra:
                bad.append(f"week {w}: stray files beside {name}: {extra}")
            con.execute(f"CREATE OR REPLACE VIEW got AS SELECT {col_list} "
                        f"FROM read_csv('{path}', header=true, delim=',', "
                        f"columns={VARCHARS})")
            got[kind] = con.execute("SELECT count(*) FROM got").fetchone()[0]
            if not _same_rows(con, "got", view):
                want = con.execute(f"SELECT count(*) FROM {view}").fetchone()[0]
                bad.append(f"week {w}: {kind} differs from the reference "
                           f"({got[kind]} rows, expected {want})")
        rows = con.execute("SELECT count(*) FROM newest").fetchone()[0]
        counts[w] = (got.get("UPDATED", 0), got.get("ADDED", 0), rows)
        problems[w] = bad
    con.close()
    return problems, counts


def check_lake(input_dir, ops, final_state):
    """Replay the batches in DuckDB and compare: each op's time-travel
    count (the state before its batch), its lookup (the batch's row) and
    the final table. Returns ({batch: [problems]}, [final problems],
    logical bytes of the expected final state)."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    col_list = ", ".join(COLUMNS)
    con.execute(f"CREATE TABLE state AS SELECT {col_list} FROM "
                f"read_parquet('{input_dir}/base.parquet')")
    problems = {}
    for op in sorted(ops, key=lambda o: o["batch"]):
        b = op["batch"]
        bad = []
        before = con.execute("SELECT count(*) FROM state").fetchone()[0]
        if op["travel_count"] != before:
            bad.append(f"batch {b}: VERSION AS OF {op['travel_version']} "
                       f"counted {op['travel_count']}, expected {before}")
        path = f"{input_dir}/batch_{b:02d}.parquet"
        con.execute(f"CREATE OR REPLACE TABLE batch AS SELECT {col_list} "
                    f"FROM read_parquet('{path}')")
        con.execute("DELETE FROM state WHERE pid IN (SELECT pid FROM batch)")
        con.execute("INSERT INTO state SELECT * FROM batch")
        want = con.execute(f"SELECT {col_list} FROM batch WHERE pid = ?",
                           [op["lookup_pid"]]).fetchall()
        got = [tuple(r) for r in op["lookup_rows"]]
        if [tuple(r) for r in want] != got:
            bad.append(f"batch {b}: lookup of pid {op['lookup_pid']} "
                       f"returned {len(got)} rows that differ from the batch")
        problems[b] = bad
    final = []
    con.execute(f"CREATE VIEW got AS SELECT {col_list} FROM "
                f"read_parquet('{final_state}/*.parquet')")
    if not _same_rows(con, "got", "state"):
        final.append("final table differs from the replayed batches")
    # logical bytes: the state as staged text, one delimited line per row
    # (concat_ws skips NULLs, so they are spelled as empty fields)
    fields = ", ".join(f"coalesce({c}, '')" for c in COLUMNS)
    logical = con.execute(f"SELECT sum(length(concat_ws('|', {fields})) + 1) "
                          f"FROM state").fetchone()[0]
    con.close()
    return problems, final, int(logical)


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_queries(tables_dir, queries):
    """Compare each query's result parquet with its oracle SQL in DuckDB;
    returns {name: [problems]}."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for f in glob.glob(os.path.join(tables_dir, "*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    problems = {}
    for q in queries:
        n = q["name"]
        if not q["oracle"]:
            problems[n] = [f"{n}: no oracle SQL"]
            continue
        files = glob.glob(os.path.join(q["result"], "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files])
        want = con.execute(q["oracle"]).df()
        g, w = _canon(got), _canon(want)
        same = (list(g.columns) == list(w.columns) and len(g) == len(w)
                and g.astype(str).equals(w.astype(str)))
        problems[n] = [] if same else [
            f"{n}: {len(g)} rows differ from the oracle's {len(w)}"]
    con.close()
    return problems
