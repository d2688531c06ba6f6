"""Deterministic input generator for the ABR benchmark.

Everything the program sees is made here, from (workload, seed, scale) alone:

* weekly drops: one ``VIC<yymmdd>_ABR_<Dataset>.zip`` per week holding the
  ``Agency_Data`` text (``pid`` + 33 string attributes, ``|``-delimited, no
  header) and seven small opaque datasets with placeholder columns. The
  plain Agency_Data text of every week is kept beside the zip so the
  output checks can evaluate the reference SQL over the same staged text;
* lake batches: the base ``Agency_Data`` state and the MERGE batches of the
  lake workload, as parquet, plus the star-schema tables (orders, lineitem,
  supplier, nation) its traced run's query pass reads.

Inputs are built once per (workload, seed, scale, generator version) under
``<cache>/<workload>-r<rows>-s<seed>-<version>/`` and reused; ``done.json`` marks a
complete set and records what building it cost. Texts are written by DuckDB
(parallel) and zipped by Python; nothing here starts the JVM.
"""

import datetime
import hashlib
import json
import os
import shutil
import time
import zipfile

import duckdb

ATTRS = [
    "abn", "ent_typ_cd", "org_nm", "nm_titl_cd", "prsn_gvn_nm",
    "prsn_othr_gvn_nm", "prsn_fmly_nm", "nm_sufx_cd", "abn_regn_dt",
    "abn_cancn_dt", "mn_trdg_nm", "son_addr_ln_1", "son_addr_ln_2",
    "son_sbrb", "son_stt", "son_pc", "son_cntry_cd", "son_dpid",
    "mn_bus_addr_ln_1", "mn_bus_addr_ln_2", "mn_bus_sbrb", "mn_bus_stt",
    "mn_bus_pc", "mn_bus_cntry_cd", "mn_bus_dpid", "ent_eml",
    "prty_id_blnk", "gst_regn_dt", "gst_cancn_dt", "mn_indy_clsn",
    "mn_indy_clsn_descn", "acn", "sprsn_ind"]
COLUMNS = ["pid"] + ATTRS

# the seven datasets the pipeline ingests without a hook; their content is
# opaque to the delta, so each is a small file of four placeholder columns
OPAQUE = ["ACNC", "Associates", "Businesslocation", "Businessname",
          "Funds", "Othtrdnames", "Replacedabn"]

FIRST_WEEK = datetime.date(2024, 1, 1)

# SQL literals that keep the hash streams of the generator's choices apart
TAG_N, TAG_C, TAG_U, TAG_D, TAG_M, TAG_L = (
    "'n'", "'c'", "'u'", "'d'", "'m'", "'l'")

# Per-workload shape. rows: Agency_Data rows in the first snapshot;
# weeks: snapshots after the seed week (one per timed operation, so a run
# never repeats a week); batches: lake MERGE batches. Shares are per mille
# of the current rows.
SCALES = {
    "weekly_drop": dict(rows=12000, weeks=11, changed=20, added=10,
                        removed=10),
    "lake_upserts": dict(rows=30000, batches=16, updated=14, inserted=6,
                         orders=15000),
}


def week_date(w):
    return FIRST_WEEK + datetime.timedelta(days=7 * w)


def staging_name(dataset, w):
    return f"VIC{week_date(w):%y%m%d}_ABR_{dataset}.txt"


def _h(seed, *parts):
    """SQL for a 62-bit non-negative hash of the seed and ``parts``."""
    args = ", ".join(str(p) for p in (seed,) + parts)
    return f"CAST(hash({args}) >> 2 AS BIGINT)"


def _value(seed, col_ix, key_sql, rev_sql):
    # an 8-hex-char attribute value, NULL for ~5 % of (key, column) pairs
    return (f"CASE WHEN {_h(seed, key_sql, col_ix, TAG_N)} % 20 = 0 THEN NULL "
            f"ELSE substr(md5(concat({seed}, ':', {key_sql}, ':', {col_ix}, "
            f"':', {rev_sql})), 1, 8) END")


def _base_state(con, seed, rows):
    cols = ",\n  ".join(
        f"{_value(seed, i, 'k', 0)} AS {a}" for i, a in enumerate(ATTRS))
    con.execute(
        f"CREATE OR REPLACE TABLE state AS SELECT k, CAST(1000000 + k AS "
        f"VARCHAR) AS pid,\n  {cols}\nFROM range(1, {rows + 1}) t(k)")


def _advance_week(con, seed, w, p, next_key):
    """Turn the ``state`` table into week ``w``'s snapshot; returns the
    next unused key."""
    pick = _h(seed, w, "k", TAG_C)
    sets = ", ".join(
        f"{a} = CASE WHEN {pick} % 33 = {i} THEN substr(md5(concat("
        f"{seed}, ':', k, ':', {i}, ':w', {w})), 1, 8) ELSE {a} END"
        for i, a in enumerate(ATTRS))
    con.execute(f"UPDATE state SET {sets} "
                f"WHERE {_h(seed, w, 'k', TAG_U)} % 1000 < {p['changed']}")
    con.execute(f"DELETE FROM state "
                f"WHERE {_h(seed, w, 'k', TAG_D)} % 1000 < {p['removed']}")
    n_add = max(1, p["rows"] * p["added"] // 1000)
    cols = ", ".join(_value(seed, i, "k", w) for i in range(len(ATTRS)))
    con.execute(f"INSERT INTO state SELECT k, CAST(1000000 + k AS VARCHAR), "
                f"{cols} FROM range({next_key}, {next_key + n_add}) t(k)")
    return next_key + n_add


def _write_week(con, seed, w, out, rows):
    """Write week ``w``'s zip and its Agency_Data text; returns the byte
    count of all staged text in the zip."""
    agency = os.path.join(out, f"agency_w{w:02d}.txt")
    col_list = ", ".join(COLUMNS)
    con.execute(f"COPY (SELECT {col_list} FROM state ORDER BY k) TO "
                f"'{agency}' (DELIMITER '|', HEADER false)")
    with open(agency, "rb") as f:
        agency_text = f.read()
    n_opaque = max(10, rows // 100)
    staged = len(agency_text)
    zpath = os.path.join(out, f"week_{w:02d}.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED,
                         compresslevel=1) as z:
        def entry(dataset):
            # a fixed entry time keeps the archive's bytes a function of
            # the seed alone
            zi = zipfile.ZipInfo(staging_name(dataset, w),
                                 date_time=week_date(w).timetuple()[:6])
            zi.compress_type = zipfile.ZIP_DEFLATED
            return zi

        z.writestr(entry("Agency_Data"), agency_text, compresslevel=1)
        for d_ix, ds in enumerate(OPAQUE):
            lines = con.execute(
                f"SELECT string_agg(concat_ws('|', k, md5(concat({seed}, k, "
                f"{w}, {d_ix})), {w}, 'x'), chr(10) ORDER BY k) "
                f"FROM range(1, {n_opaque + 1}) t(k)").fetchone()[0] + "\n"
            body = lines.encode()
            staged += len(body)
            z.writestr(entry(ds), body, compresslevel=1)
    return staged


def _weeks(con, seed, p, out):
    _base_state(con, seed, p["rows"])
    next_key = p["rows"] + 1
    staged = {}
    for w in range(p["weeks"] + 1):
        if w > 0:
            next_key = _advance_week(con, seed, w, p, next_key)
        staged[w] = _write_week(con, seed, w, out, p["rows"])
    return dict(staged_bytes=staged)


def _batches(con, seed, p, out):
    _base_state(con, seed, p["rows"])
    col_list = ", ".join(COLUMNS)
    con.execute(f"COPY (SELECT {col_list} FROM state ORDER BY k) TO "
                f"'{out}/base.parquet' (FORMAT parquet)")
    next_key = p["rows"] + 1
    n_ins = max(1, p["rows"] * p["inserted"] // 1000)
    for b in range(p["batches"]):
        cur = con.execute("SELECT count(*) FROM state").fetchone()[0]
        n_upd = max(1, cur * p["updated"] // 1000)
        # updates: existing keys chosen by the seed, every attribute
        # re-derived for this batch; inserts: fresh keys
        upd_cols = ", ".join(
            f"{_value(seed, i, 'k', 1000 + b)} AS {a}"
            for i, a in enumerate(ATTRS))
        ins_cols = ", ".join(
            f"{_value(seed, i, 'k', 0)} AS {a}" for i, a in enumerate(ATTRS))
        con.execute(
            f"CREATE OR REPLACE TABLE batch AS "
            f"SELECT k, pid, {upd_cols} FROM (SELECT k, pid FROM state "
            f"ORDER BY {_h(seed, b, 'k', TAG_M)}, k LIMIT {n_upd}) "
            f"UNION ALL SELECT k, CAST(1000000 + k AS VARCHAR), {ins_cols} "
            f"FROM range({next_key}, {next_key + n_ins}) t(k)")
        con.execute(f"COPY (SELECT {col_list} FROM batch ORDER BY k) TO "
                    f"'{out}/batch_{b:02d}.parquet' (FORMAT parquet)")
        # the key the operation's point lookup reads, one of the batch's
        lookup = con.execute(f"SELECT pid FROM batch ORDER BY "
                             f"{_h(seed, b, 'k', TAG_L)}, k LIMIT 1").fetchone()[0]
        with open(f"{out}/batch_{b:02d}.lookup", "w") as f:
            f.write(lookup)
        con.execute("DELETE FROM state WHERE k IN (SELECT k FROM batch)")
        con.execute("INSERT INTO state SELECT * FROM batch")
        next_key += n_ins
    _tables(con, seed, os.path.join(out, "tables"), p["orders"])
    return {}


def _tables(con, seed, out, orders):
    """The four star-schema tables the traced query pass reads (orders,
    lineitem, supplier, nation), in the column types the program's
    ``Tables.expectedSchemas`` accepts."""
    os.makedirs(out)
    h = lambda *p: _h(seed, *p)  # noqa: E731
    con.execute(f"""COPY (SELECT CAST(n AS INTEGER) AS n_nationkey,
        'NATION_' || n AS n_name, CAST(n % 5 AS INTEGER) AS n_regionkey
        FROM range(25) t(n)) TO '{out}/nation.parquet' (FORMAT parquet)""")
    con.execute(f"""COPY (SELECT s AS s_suppkey,
        'Supplier#' || lpad(CAST(s AS VARCHAR), 9, '0') AS s_name,
        CAST({h('s', TAG_N)} % 25 AS INTEGER) AS s_nationkey,
        round(({h('s', TAG_M)} % 1000000) / 100.0, 2) AS s_acctbal
        FROM range(100) t(s)) TO '{out}/supplier.parquet' (FORMAT parquet)""")
    con.execute(f"""COPY (SELECT o AS o_orderkey,
        {h('o', TAG_C)} % 1000 AS o_custkey,
        ['F', 'O', 'P'][1 + {h('o', TAG_U)} % 3] AS o_orderstatus,
        round(({h('o', TAG_M)} % 50000000) / 100.0, 2) AS o_totalprice,
        TIMESTAMP '1992-01-01' + INTERVAL ({h('o', TAG_D)} % 2400) DAY
          AS o_orderdate,
        ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
          [1 + {h('o', TAG_L)} % 5] AS o_orderpriority
        FROM range({orders}) t(o)) TO '{out}/orders.parquet' (FORMAT parquet)""")
    con.execute(f"""COPY (SELECT o.o_orderkey AS l_orderkey,
        {h('o.o_orderkey', 'l', TAG_C)} % 2000 AS l_partkey,
        {h('o.o_orderkey', 'l', TAG_U)} % 100 AS l_suppkey,
        CAST(l AS INTEGER) AS l_linenumber,
        CAST(1 + {h('o.o_orderkey', 'l', TAG_M)} % 50 AS DOUBLE) AS l_quantity,
        round(({h('o.o_orderkey', 'l', TAG_D)} % 10000000) / 100.0, 2)
          AS l_extendedprice,
        ({h('o.o_orderkey', 'l', TAG_N)} % 11) / 100.0 AS l_discount,
        ({h('o.o_orderkey', 'l', TAG_L)} % 9) / 100.0 AS l_tax,
        ['A', 'N', 'R'][1 + l % 3] AS l_returnflag,
        ['F', 'O'][1 + l % 2] AS l_linestatus,
        o.o_orderdate + INTERVAL (1 + {h('o.o_orderkey', 'l', 'l')} % 120) DAY
          AS l_shipdate
        FROM read_parquet('{out}/orders.parquet') o, range(1, 5) t(l)
        ORDER BY 1, 4) TO '{out}/lineitem.parquet' (FORMAT parquet)""")


def build(cache, workload, seed, threads=4, scale=None):
    """Return the input directory for (workload, seed), building it if it is
    not complete yet. The manifest records the build's own cost. ``scale``
    overrides the workload's shape (tests use a small one)."""
    p = scale or SCALES[workload]
    # the generator's own source is part of the key: a changed generator
    # never reuses inputs an older one made
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:10]
    out = os.path.join(cache, f"{workload}-r{p['rows']}-s{seed}-{version}")
    done = os.path.join(out, "done.json")
    if os.path.exists(done):
        with open(done) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.monotonic()
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    try:
        if "batches" in p:
            meta = _batches(con, seed, p, out)
        else:
            meta = _weeks(con, seed, p, out)
    finally:
        con.close()
    meta.update(workload=workload, seed=seed, scale=p,
                build_s=time.monotonic() - t0)
    with open(done, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    with open(done) as f:
        return out, json.load(f)


def prune(cache, keep):
    """Drop all but the ``keep`` most recently built input sets."""
    if not os.path.isdir(cache):
        return
    sets = [os.path.join(cache, d) for d in os.listdir(cache)]
    sets.sort(key=os.path.getmtime, reverse=True)
    for d in sets[keep:]:
        shutil.rmtree(d, ignore_errors=True)
