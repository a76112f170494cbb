"""Seeded input generation for the graft benchmark.

Every input is a pure function of (workload, seed, size, GEN_VERSION).
Inputs are cached under perfbench/.inputs/, written to a temporary
directory first and renamed into place only when complete, and verified
against their manifest's content hashes before every use; a stale or
half-written fixture is never reused.

EDI feeds carry, beside each feed, the plain rows that were written into it
(`truth/<message>.json`: the rows in ingest order, and for a multi-source
config the rows of each sub-source) so that the expected output can be
computed apart from the program (see check.py).
"""
import hashlib
import json
import os
import shutil
import zipfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
# the generator's version is the hash of its own source: any change to it
# makes new inputs
with open(os.path.abspath(__file__), "rb") as _f:
    GEN_VERSION = hashlib.sha256(_f.read()).hexdigest()[:12]
CACHE = os.path.join(HERE, ".inputs")

# ---------------------------------------------------------------- sizes
# rows per feed (edi_feeds; the CSV feed has twice as many) and the registry
# table scale (lineitem rows = 6e6 * sf). "smoke" is the tiny size the
# benchmark's own tests run.
SIZES = {
    "full": {
        "feed_rows": 3000, "xlsx_books": 3, "pages": 4, "morris_docs": 4,
        "registry_sf": 0.002,
    },
    "smoke": {
        "feed_rows": 600, "xlsx_books": 2, "pages": 2, "morris_docs": 2,
        "registry_sf": 0.001,
    },
}
DUP_SHARE = 0.30     # share of rows whose key repeats an earlier row's key
DIRTY_SHARE = 0.25   # share of values written in a non-canonical form
NULL_KEY_SHARE = 0.01

STATUSES = ["A", "B", "N", "R"]
WORDS = ["red", "blue", "green", "steel", "oak", "small", "large", "bolt",
         "nut", "widget", "ring", "anvil", "pipe", "valve", "cable"]


def _rng(seed, *stream):
    return np.random.default_rng([int(seed)] + [int(s) for s in stream])


# ------------------------------------------------------------ EDI values
def _dirty_key(r, digits):
    k = str(digits).zfill(12)
    v = r.integers(0, 4)
    if v == 0:
        return k[:3] + "-" + k[3:7] + "-" + k[7:]
    if v == 1:
        return " " + k[:6] + " " + k[6:] + " "
    if v == 2:
        return "#" + k
    return k[:2] + "/" + k[2:]


def _price(r, dirty):
    cents = int(r.integers(100, 99999))
    p = f"{cents // 100}.{cents % 100:02d}"
    if not dirty:
        return p
    v = r.integers(0, 6)
    return [p.replace(".", ","), "$" + p, p + " usd", "", "n/a",
            p + ".5"][v] or None


def _qty(r, dirty):
    q = int(r.integers(0, 2000))
    if not dirty:
        return str(q)
    v = r.integers(0, 4)
    return [f"{q} pcs", f"{q // 1000},{q % 1000:03d}" if q >= 1000 else f"~{q}",
            "", f" {q} "][v] or None


def feed_rows(r, n, key_base):
    """n raw rows; (1 - DUP_SHARE) * n distinct keys, each key's duplicates
    scattered over the feed; values dirty with probability DIRTY_SHARE."""
    distinct = max(1, int(n * (1 - DUP_SHARE)))
    ids = np.concatenate([np.arange(distinct), r.integers(0, distinct, n - distinct)])
    r.shuffle(ids)
    rows = []
    for i in ids:
        key = None if r.random() < NULL_KEY_SHARE else (
            _dirty_key(r, key_base + int(i)) if r.random() < DIRTY_SHARE
            else str(key_base + int(i)).zfill(12))
        rows.append({
            "key": key,
            "price": _price(r, r.random() < DIRTY_SHARE),
            "qty": _qty(r, r.random() < DIRTY_SHARE),
            "status": None if r.random() < 0.05 else STATUSES[int(r.integers(0, 4))],
            "title": None if r.random() < 0.05 else
            f"{WORDS[int(r.integers(0, len(WORDS)))]} item {int(r.integers(0, 1000))}",
        })
    return rows


# --------------------------------------------------------------- writers
def _csv_field(v):
    if v is None:
        return ""
    if any(c in v for c in ',"\n'):
        return '"' + v.replace('"', '""') + '"'
    return v


def write_csv(path, header, rows):
    with open(path, "w", encoding="utf-8") as f:
        f.write(",".join(header) + "\n")
        for row in rows:
            f.write(",".join(_csv_field(v) for v in row) + "\n")


def _xml(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _col(i):
    s = ""
    i += 1
    while i:
        i, m = divmod(i - 1, 26)
        s = chr(65 + m) + s
    return s


def write_xlsx(path, header, rows):
    """Minimal SpreadsheetML workbook: one sheet, strings via the shared
    string table, None as an absent cell."""
    shared, parts = {}, []
    for ri, row in enumerate([header] + rows):
        cells = []
        for ci, v in enumerate(row):
            if v is None:
                continue
            idx = shared.setdefault(v, len(shared))
            cells.append(f'<c r="{_col(ci)}{ri + 1}" t="s"><v>{idx}</v></c>')
        parts.append(f'<row r="{ri + 1}">{"".join(cells)}</row>')
    sheet = ('<?xml version="1.0"?><worksheet><sheetData>' + "".join(parts)
             + "</sheetData></worksheet>")
    sst = ('<?xml version="1.0"?><sst>'
           + "".join(f"<si><t>{_xml(s)}</t></si>" for s in shared) + "</sst>")
    book = '<?xml version="1.0"?><workbook><sheets><sheet name="Sheet1" sheetId="1"/></sheets></workbook>'
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("xl/workbook.xml", book)
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


MORRIS_ROOT = "root"  # the feed's document element


def write_morris(path, rows):
    """rows: (gtin, qty, price); None leaves the element out."""
    out = [f"<{MORRIS_ROOT}>"]
    for g, q, p in rows:
        out.append("<available>")
        if g is not None:
            out.append(f"<gtin>{_xml(g)}</gtin>")
        if q is not None:
            out.append(f"<qty>{_xml(q)}</qty>")
        out.append("<detail>" + (f"<price>{_xml(p)}</price>" if p is not None else "") + "</detail>")
        out.append("</available>")
    out.append(f"</{MORRIS_ROOT}>")
    with open(path, "w", encoding="utf-8") as f:
        f.write("".join(out))


REST_COLS = ["item_code", "unit_price", "on_hand", "state", "label"]


def write_rest_page(path, objs, last_page):
    with open(path, "w", encoding="utf-8") as f:
        f.write(json.dumps({"data": objs, "meta": {"last_page": last_page},
                            "links": {"next": None}}) + "\n")


def write_sheets(path, header, rows):
    """A spreadsheets.values.get response: empty cells inside a row come back
    as "", trailing empty cells are omitted."""
    values = [header]
    for row in rows:
        cells = list(row)
        while cells and cells[-1] is None:
            cells.pop()
        values.append(["" if v is None else v for v in cells])
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"range": f"Sheet1!A1:E{len(values)}", "majorDimension": "ROWS",
                   "values": values}, f)


# ----------------------------------------------------------- EDI feeds
def _rules(k, p, q, s, t):
    return {"upc": k, "price": [p, "min"], "qty": [q, "max"],
            "status": [s, "addArray"], "title": t}


class _Feeds:
    """Writes one config and its feed files; records the truth rows."""

    def __init__(self, root):
        self.root = root
        self.configs = []
        self.rows = 0

    def _d(self, *p):
        path = os.path.join(self.root, *p)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    def truth(self, name, tables):
        self.rows += sum(len(tables.get(t, [])) for t in ("rows", "xlsx", "rest"))
        with open(self._d("truth", name + ".json"), "w") as f:
            json.dump(tables, f)

    def config(self, name, supplier, type_id, source, rules, version=1):
        cfg = {"supplier_id": supplier, "name": name, "type_id": type_id,
               "source": source, "range": None, "column_map_rules": rules,
               "version": version}
        self.configs.append(cfg)
        return cfg

    @staticmethod
    def _plain(rows, seq0=0):
        return [dict(r, seq=seq0 + i) for i, r in enumerate(rows)]

    def csv(self, name, r, n, base, rel):
        rows = feed_rows(r, n, base)
        write_csv(self._d(rel), ["sku", "cost", "stock", "status", "title"],
                  [[x["key"], x["price"], x["qty"], x["status"], x["title"]] for x in rows])
        self.truth(name, {"kind": "single", "rows": self._plain(rows)})
        return self.config(name, 11, 2, rel, _rules("sku", "cost", "stock", "status", "title"))

    def xlsx(self, name, r, n, books, base, rel):
        plain = []
        for b in range(books):
            rows = feed_rows(r, n // books, base + b * 10_000_000)
            write_xlsx(self._d(rel, f"book_{b:02d}.xlsx"), ["ean", "price", "qty", "flag", "name"],
                       [[x["key"], x["price"], x["qty"], x["status"], x["title"]] for x in rows])
            plain += self._plain(rows, len(plain))
        self.truth(name, {"kind": "single", "rows": plain})
        return self.config(name, 12, 4, rel, _rules("ean", "price", "qty", "flag", "name"))

    def morris(self, name, r, n, docs, base, rel):
        plain = []
        for d in range(docs):
            rows = feed_rows(r, n // docs, base + d * 10_000_000)
            # Morris carries numbers: PHP casts a missing or malformed value
            # to 0, and qty truncates a decimal
            for x in rows:
                x["price"] = None if x["price"] is None else x["price"].strip("$ usd")
                x["qty"] = None if x["qty"] is None else x["qty"].replace(" pcs", "")
                x["status"] = None
                x["title"] = None
            write_morris(self._d(rel, f"doc_{d:03d}.xml"), [(x["key"], x["qty"], x["price"]) for x in rows])
            plain += self._plain(rows, len(plain))
        self.truth(name, {"kind": "morris", "rows": plain})
        return self.config(name, 13, 5, rel, {"upc": "gtin", "price": ["price", "min"], "qty": ["qty", "max"]})

    def rest(self, name, r, n, pages, base, rel):
        plain = []
        for p in range(pages):
            rows = feed_rows(r, n // pages, base + p * 10_000_000)
            write_rest_page(self._d(rel, f"page_{p:03d}.json"),
                            [dict(zip(REST_COLS, [x["key"], x["price"], x["qty"], x["status"], x["title"]]))
                             for x in rows], pages)
            plain += self._plain(rows, len(plain))
        self.truth(name, {"kind": "single", "rows": plain})
        return self.config(name, 14, 8, rel, _rules(*REST_COLS))

    def sheets(self, name, r, n, base, rel):
        rows = feed_rows(r, n, base)
        table = [[x["key"], x["price"], x["qty"], x["status"], x["title"]] for x in rows]
        write_sheets(self._d(rel, "values.json"), ["UPC", "Price", "Qty", "Status", "Title"], table)
        # what the values API hands back: inner empty cells are "", trailing
        # ones absent (null)
        plain = []
        for i, cells in enumerate(table):
            last = max([j for j, v in enumerate(cells) if v is not None], default=-1)
            vals = [("" if v is None and j < last else v) for j, v in enumerate(cells)]
            plain.append(dict(zip(["key", "price", "qty", "status", "title"], vals), seq=i))
        self.truth(name, {"kind": "single", "rows": plain})
        return self.config(name, 15, 1, rel, _rules("UPC", "Price", "Qty", "Status", "Title"))

    def drive(self, name, r, n, base, rel):
        rows = feed_rows(r, n, base)
        write_csv(self._d(rel, "a_latest.csv"), ["sku", "cost", "stock", "status", "title"],
                  [[x["key"], x["price"], x["qty"], x["status"], x["title"]] for x in rows])
        # a later file in listing order: the Drive handler reads only the first
        other = feed_rows(r, max(10, n // 10), base + 500_000_000)
        write_xlsx(self._d(rel, "b_older.xlsx"), ["sku", "cost", "stock", "status", "title"],
                   [[x["key"], x["price"], x["qty"], x["status"], x["title"]] for x in other])
        self.truth(name, {"kind": "single", "rows": self._plain(rows)})
        return self.config(name, 16, 3, rel, _rules("sku", "cost", "stock", "status", "title"))

    def multi(self, name, r, n, books, pages, base, rel):
        """CSV base keyed on sku; an xlsx sub-source grafts `brand`, a REST
        sub-source grafts `on_hand`. Sub keys are raw strings drawn from the
        base's keys (plus keys the base lacks, which are dropped)."""
        rows = feed_rows(r, n, base)
        write_csv(self._d(rel, "base.csv"), ["sku", "cost", "stock", "title"],
                  [[x["key"], x["price"], x["qty"], x["title"]] for x in rows])
        raw_keys = [x["key"] for x in rows if x["key"] is not None]
        xl, rs = [], []
        for b in range(books):
            sub = []
            for i in range(max(1, n // (4 * books))):
                k = raw_keys[int(r.integers(0, len(raw_keys)))] if r.random() < 0.9 else str(base + 900_000_000 + b * 100_000 + i)
                sub.append({"key": k, "brand": f"Brand#{int(r.integers(1, 26))}"})
            # a raw key lives in one workbook only, so recency never spans files
            seen = {x["key"] for x in xl}
            sub = [x for x in sub if x["key"] not in seen]
            write_xlsx(self._d(rel, "xlsx", f"book_{b:02d}.xlsx"), ["sku", "brand"],
                       [[x["key"], x["brand"]] for x in sub])
            xl += self._plain(sub, len(xl))
        for p in range(pages):
            sub = []
            for i in range(max(1, n // (4 * pages))):
                k = raw_keys[int(r.integers(0, len(raw_keys)))] if r.random() < 0.9 else str(base + 950_000_000 + p * 100_000 + i)
                sub.append({"key": k, "on_hand": _qty(r, r.random() < DIRTY_SHARE)})
            seen = {x["key"] for x in rs}
            sub = [x for x in sub if x["key"] not in seen]
            write_rest_page(self._d(rel, "rest", f"page_{p:03d}.json"),
                            [{"item_code": x["key"], "on_hand": x["on_hand"]} for x in sub], pages)
            rs += self._plain(sub, len(rs))
        self.truth(name, {"kind": "multi", "rows": self._plain(rows), "xlsx": xl, "rest": rs})
        cfg = self.config(name, 17, None, [
            {"type_id": 2, "filename": f"{rel}/base.csv", "key": "sku"},
            {"type_id": 4, "filename": f"{rel}/xlsx", "key": "sku", "fields": ["brand"]},
            {"type_id": 8, "filename": f"{rel}/rest", "key": "item_code", "fields": ["on_hand"]},
        ], {"upc": "sku", "price": ["cost", "min"], "qty": ["on_hand", "max"],
            "brand": "brand", "title": "title"})
        del cfg["type_id"]
        return cfg


def gen_edi_feeds(root, seed, size):
    """One config per source family plus one multi-source config; each is
    one message file under messages/."""
    s = SIZES[size]
    n, books, pages = s["feed_rows"], s["xlsx_books"], s["pages"]
    f = _Feeds(root)
    f.csv("b1_csv", _rng(seed, 1), 2 * n, 100_000_000, "feeds/b1/feed.csv")
    f.xlsx("b2_xlsx", _rng(seed, 2), n, books, 200_000_000, "feeds/b2")
    f.morris("b3_morris", _rng(seed, 3), n, s["morris_docs"], 300_000_000, "feeds/b3")
    f.rest("b4_rest", _rng(seed, 4), n, pages, 400_000_000, "feeds/b4")
    f.sheets("b5_sheets", _rng(seed, 5), n, 500_000_000, "feeds/b5")
    f.drive("b6_drive", _rng(seed, 6), n, 600_000_000, "feeds/b6")
    f.multi("b7_multi", _rng(seed, 7), n, books, pages, 700_000_000, "feeds/b7")
    os.makedirs(os.path.join(root, "messages"))
    for c in f.configs:
        with open(os.path.join(root, "messages", c["name"] + ".json"), "w") as out:
            out.write(json.dumps(c) + "\n")
    return {"messages": len(f.configs), "rows": f.rows}


# ------------------------------------------------------------- registry
def gen_registry(root, seed, size):
    import pyarrow as pa
    import pyarrow.parquet as pq
    sf = SIZES[size]["registry_sf"]
    r = _rng(seed, 1000)
    n_supp, n_cust, n_part, n_ord = (max(10, int(10_000 * sf)), max(50, int(150_000 * sf)),
                                     max(50, int(200_000 * sf)), max(100, int(1_500_000 * sf)))
    os.makedirs(root, exist_ok=True)

    rows = {}

    def write(name, cols):
        t = pa.table(cols)
        rows[name] = t.num_rows
        pq.write_table(t, os.path.join(root, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(r.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    write("region", {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    write("supplier", {"s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                       "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
                       "s_acctbal": money(-999.99, 9999.99, n_supp)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {"c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                       "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                       "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
                       "c_acctbal": money(-999.99, 9999.99, n_cust),
                       "c_mktsegment": segs[r.integers(0, 5, n_cust)].tolist()})
    colors = ["red", "blue", "green", "small", "large", "black", "white", "steel"]
    nouns = ["widget", "bolt", "ring", "anvil", "gear", "pipe", "valve", "spring"]
    pk = np.arange(n_part)
    write("part", {"p_partkey": pa.array(pk, pa.int64()),
                   "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                              zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
                   "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
                   "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
                       r.integers(0, 6, n_part)].tolist(),
                   "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
                   "p_retailprice": (9000 + pk % 1000) / 10.0})
    day0 = np.datetime64("1995-01-01", "D")
    odays = r.integers(0, 2403, n_ord)
    odate = (day0 + odays).astype("datetime64[us]")
    write("orders", {"o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                     "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
                     "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)].tolist(),
                     "o_totalprice": money(1000, 500000, n_ord),
                     "o_orderdate": pa.array(odate, pa.timestamp("us")),
                     "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                         r.integers(0, 5, n_ord)].tolist()})
    lines = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]) if n_ord else np.array([])
    n_li = len(okey)
    ship = (day0 + np.repeat(odays, lines) + r.integers(1, 122, n_li)).astype("datetime64[us]")
    write("lineitem", {"l_orderkey": pa.array(okey, pa.int64()),
                       "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
                       "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
                       "l_linenumber": pa.array(lnum, pa.int32()),
                       "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
                       "l_extendedprice": money(900, 105000, n_li),
                       "l_discount": r.integers(0, 11, n_li) / 100.0,
                       "l_tax": r.integers(0, 9, n_li) / 100.0,
                       "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)].tolist(),
                       "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)].tolist(),
                       "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    return {"tables": rows, "sf": sf}


GENERATORS = {"edi_feeds": gen_edi_feeds, "registry_full": gen_registry}


# ------------------------------------------------------------ the cache
def _hash_tree(root):
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            rel = os.path.relpath(p, root)
            if rel == "manifest.json":
                continue
            h = hashlib.sha256()
            with open(p, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
            out[rel] = h.hexdigest()
    return out


def _verified(path):
    try:
        with open(os.path.join(path, "manifest.json")) as f:
            man = json.load(f)
    except (OSError, ValueError):
        return None
    return man if man.get("files") == _hash_tree(path) else None


def inputs(workload, seed, size="full"):
    """Path and manifest of the verified inputs for (workload, seed, size),
    generating them when absent or when the cached copy fails its hashes."""
    key = f"{workload}-s{seed}-{size}-g{GEN_VERSION}"
    path = os.path.join(CACHE, key)
    man = _verified(path) if os.path.isdir(path) else None
    if man is not None:
        return path, man
    shutil.rmtree(path, ignore_errors=True)
    tmp = os.path.join(CACHE, f".tmp-{key}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = GENERATORS[workload](tmp, seed, size)
    man = {"workload": workload, "seed": seed, "size": size, "gen_version": GEN_VERSION,
           "meta": meta, "files": _hash_tree(tmp)}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    os.rename(tmp, path)
    return path, man


if __name__ == "__main__":
    import argparse
    ap = argparse.ArgumentParser(description="Generate (or verify) the benchmark inputs for one seed.")
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", default="full", choices=sorted(SIZES))
    a = ap.parse_args()
    p, m = inputs(a.workload, a.seed, a.size)
    print(p, json.dumps(m["meta"]))
