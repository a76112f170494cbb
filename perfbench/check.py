"""Output checks, computed apart from the program with DuckDB.

EDI feeds: the generator's truth rows (the plain values it wrote into each
feed, in ingest order) go through the reference's cleaning and merge rules
in SQL, and the produced JSONL must equal the result row for row.
Registry queries: each result must match its DuckDB oracle SQL on the same
tables in rows, schema and value hash.

Every check returns a list of problems; an empty list means the output is
correct.
"""
import glob
import hashlib
import json
import math
import os

import duckdb

KEEP = "[^a-zA-Zа-яА-Я0-9.]"
UPC = f"substr(regexp_replace(k, '{KEEP}', '', 'g'), 1, 13)"
FLOAT = ("COALESCE(TRY_CAST(regexp_extract(regexp_replace(regexp_replace(replace({c}, ',', '.'), "
         f"'{KEEP}', '', 'g'), '[^0-9.]', '', 'g'), '^([0-9]*\\.?[0-9]*)', 1) AS DOUBLE), 0.0)")
INT = "COALESCE(TRY_CAST(regexp_replace({c}, '[^0-9]', '', 'g') AS BIGINT), 0)"
# Morris XML values are PHP-cast to numbers before mapping: a malformed or
# missing value is 0, a decimal qty truncates
MORRIS_QTY = ("COALESCE(TRY_CAST(trim(qty) AS BIGINT), CAST(trunc(TRY_CAST(trim(qty) AS DOUBLE)) AS BIGINT), 0)")
MORRIS_PRICE = "COALESCE(TRY_CAST(trim(price) AS DOUBLE), 0.0)"

OUT_COLS = {"upc": "VARCHAR", "price": "DOUBLE", "qty": "BIGINT", "status": "VARCHAR",
            "title": "VARCHAR", "brand": "VARCHAR", "supplier_id": "BIGINT", "version": "BIGINT"}


def _load(con, name, rows, cols):
    import pyarrow as pa
    con.register(name, pa.table({c: [r.get(c) for r in rows] for c in cols}))


def _last(src, key, cols):
    """Per key, the listed columns of the row with the highest seq."""
    sel = ", ".join(cols)
    return (f"(SELECT {key}, {sel}, seq FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY {key} ORDER BY seq DESC) AS rn FROM {src}) WHERE rn = 1)")


def expected_sql(con, msg, truth, cfg):
    """Register the truth of one config and return SQL for its expected feed
    (columns msg, upc, price, qty, status, title, brand, supplier_id, version)."""
    t = f"t_{msg}"
    kind = truth["kind"]
    sid, ver = int(cfg["supplier_id"]), int(cfg["version"])
    if kind == "multi":
        _load(con, t + "_b", truth["rows"], ["key", "price", "qty", "title", "seq"])
        _load(con, t + "_x", truth["xlsx"], ["key", "brand", "seq"])
        _load(con, t + "_r", truth["rest"], ["key", "on_hand", "seq"])
        base = _last(f"(SELECT * FROM {t}_b WHERE key IS NOT NULL AND key <> '')", "key", ["price", "title"])
        base = f"(SELECT key, price, title, (SELECT max(seq) FROM {t}_b m WHERE m.key = b.key) AS seq FROM {base} b)"
        x = _last(f"(SELECT * FROM {t}_x WHERE key IS NOT NULL AND key <> '')", "key", ["brand"])
        r = _last(f"(SELECT * FROM {t}_r WHERE key IS NOT NULL AND key <> '')", "key", ["on_hand"])
        rows = (f"(SELECT b.key AS k, b.price, x.brand, r.on_hand AS qty, NULL::VARCHAR AS status, b.title, b.seq "
                f"FROM {base} b LEFT JOIN {x} x ON x.key = b.key LEFT JOIN {r} r ON r.key = b.key)")
    else:
        _load(con, t, truth["rows"], ["key", "price", "qty", "status", "title", "seq"])
        if kind == "morris":
            rows = (f"(SELECT key AS k, CAST({MORRIS_PRICE} AS VARCHAR) AS price, CAST({MORRIS_QTY} AS VARCHAR) AS qty, "
                    f"NULL::VARCHAR AS status, NULL::VARCHAR AS title, NULL::VARCHAR AS brand, seq FROM {t})")
        else:
            rows = f"(SELECT key AS k, price, qty, status, title, NULL::VARCHAR AS brand, seq FROM {t})"
    clean = (f"(SELECT {UPC} AS upc, {FLOAT.format(c='price')} AS price, {INT.format(c='qty')} AS qty, "
             f"status, title, brand, seq FROM {rows})")
    keyed = f"(SELECT * FROM {clean} WHERE upc IS NOT NULL AND upc <> '')"
    rules = {t: (v[1] if isinstance(v, list) else None) for t, v in cfg["column_map_rules"].items()}
    lww = [t for t in ("price", "qty", "status", "title", "brand") if t in rules and rules[t] is None]
    last = _last(keyed, "upc", lww or ["seq"])

    def agg(t):
        if t not in rules:
            return f"NULL::{OUT_COLS[t]}"
        rule = rules[t]
        if rule in ("min", "max"):
            return f"{rule}(k.{t})"
        if rule == "addArray":
            return (f"COALESCE(array_to_string(list_sort(list(CAST(k.{t} AS VARCHAR)) "
                    f"FILTER (WHERE k.{t} IS NOT NULL)), ','), '')")
        return f"any_value(l.{t})"
    cols = ", ".join(f"{agg(t)} AS {t}" for t in ("price", "qty", "status", "title", "brand"))
    return (f"SELECT '{msg}' AS msg, k.upc, {cols}, "
            f"CAST({sid} AS BIGINT) AS supplier_id, CAST({ver} AS BIGINT) AS version "
            f"FROM {keyed} k JOIN {last} l USING (upc) GROUP BY k.upc")


def check_feeds(inputs, out_dir, names):
    """Compare the JSONL produced for each config in `names` (out_dir/<name>/)
    with the feed computed from the generator's truth rows."""
    problems = []
    cfgs = {}
    for p in glob.glob(os.path.join(inputs, "messages", "*.json")):
        with open(p) as f:
            c = json.load(f)
        cfgs[c["name"]] = c
    con = duckdb.connect()
    parts = []
    for n in names:
        with open(os.path.join(inputs, "truth", n + ".json")) as f:
            parts.append(expected_sql(con, n, json.load(f), cfgs[n]))
    con.execute("CREATE TABLE expected AS " + " UNION ALL ".join(parts))
    files = [f for n in names for f in glob.glob(os.path.join(out_dir, n, "*.txt"))]
    missing = [n for n in names if not glob.glob(os.path.join(out_dir, n, "_SUCCESS"))]
    if missing:
        problems.append(f"no committed output for {len(missing)} feed(s), e.g. {missing[:3]}")
    cols = ", ".join(f"'{c}': '{t}'" for c, t in OUT_COLS.items())
    if files:
        flist = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        con.execute(f"CREATE TABLE produced AS SELECT regexp_extract(filename, '/([^/]+)/[^/]+$', 1) AS msg, "
                    f"{', '.join(OUT_COLS)} FROM read_json([{flist}], format='newline_delimited', "
                    f"columns={{{cols}}}, filename=true)")
    else:
        con.execute("CREATE TABLE produced AS SELECT * FROM expected LIMIT 0")
    cols = "msg, upc, price, qty, status, title, brand, supplier_id, version"
    for a, b, what in [("expected", "produced", "missing from"), ("produced", "expected", "unexpected in")]:
        diff = con.execute(f"SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b}").fetchall()
        if diff:
            problems.append(f"{len(diff)} row(s) {what} the output, e.g. {diff[0]}")
    per = dict(con.execute("SELECT msg, count(*) FROM expected GROUP BY msg").fetchall())
    empty = [n for n in names if per.get(n, 0) == 0]
    if empty:
        problems.append(f"expected feed is empty for {empty[:3]}")
    return problems


def check_exactly_once(names, rounds, errors):
    """Every message produced exactly once per round; onError never called."""
    problems = []
    want = sorted(names)
    for i, got in enumerate(rounds):
        if sorted(got) != want:
            dup = sorted({n for n in got if got.count(n) > 1})
            lost = sorted(set(want) - set(got))
            problems.append(f"round {i}: {len(got)} productions for {len(want)} messages"
                            f" (twice: {dup[:3]}, never: {lost[:3]})")
    if errors:
        problems.append(f"{len(errors)} error(s) reported, e.g. {errors[0]}")
    return problems


TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def _kind(t):
    t = str(t).lower()
    for k, words in [("int", ("int",)), ("float", ("double", "float", "decimal")), ("str", ("string", "varchar", "utf8")),
                     ("bool", ("bool",)), ("time", ("timestamp", "date")), ("list", ("list", "[]"))]:
        if any(w in t for w in words):
            return k
    return t


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, float):
        return repr(float(v))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def table_digest(table):
    """(sorted column names, column kinds, row count, value hash) of an
    arrow table; rows are compared as a sorted multiset."""
    names = sorted(table.column_names)
    kinds = [_kind(table.schema.field(n).type) for n in names]
    cols = [table.column(n).to_pylist() for n in names]
    rows = sorted("\x1f".join(_canon(c[i]) for c in cols) for i in range(table.num_rows))
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return names, kinds, table.num_rows, h, rows


def check_registry(tables_dir, out_dir, oracle_sql):
    import pyarrow.parquet as pq
    problems = []
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    for q, sql in oracle_sql.items():
        files = sorted(glob.glob(os.path.join(out_dir, q, "*.parquet")))
        if not files:
            problems.append(f"{q}: no result written")
            continue
        got = table_digest(pq.read_table(os.path.join(out_dir, q)))
        want = table_digest(con.execute(sql).arrow())
        problems += compare_digests(q, got, want)
    return problems


def compare_digests(q, got, want):
    if got[0] != want[0]:
        return [f"{q}: columns {got[0]} vs oracle {want[0]}"]
    if got[1] != want[1]:
        return [f"{q}: column types {got[1]} vs oracle {want[1]}"]
    if got[2] != want[2]:
        return [f"{q}: {got[2]} rows vs oracle {want[2]}"]
    if got[3] != want[3]:
        first = next(((a, b) for a, b in zip(got[4], want[4]) if a != b), None)
        return [f"{q}: value hash differs from the oracle, first differing row {first}"]
    return []
