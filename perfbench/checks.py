"""Output checks: every page against DuckDB 1.0, every search/sort against
the page it came from, every CSV download against the Arrow download and the
page total, and the `edit` reads against a DuckDB replay of the same seeded
statements.

Cells are compared the way `tools/verify_local.py` compares them (its
`cmp_cell`: exact, or float-equal within 1e-12 relative) after DuckDB's
values are rendered with the workbench's cell formatter (Render.formatCell:
null -> "", JS number strings, ISO-8601 UTC millisecond timestamps, JSON for
nested values).
"""
import csv
import datetime as dt
import decimal
import hashlib
import importlib.util
import json
import math
import re
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

from workloads import TABLES

ROOT = Path(__file__).resolve().parent.parent
PAGE = 200
NUMERIC = re.compile(r"^-?\d+(\.\d+)?$")


def cmp_cell(a, b):
    """tools/verify_local.py's cell comparison (loaded on first use)."""
    global cmp_cell
    spec = importlib.util.spec_from_file_location(
        "verify_local", ROOT / "tools" / "verify_local.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    cmp_cell = mod.cmp_cell
    return cmp_cell(a, b)


# -- the workbench's cell formatter, mirrored ---------------------------------

def js_number(d):
    """JS String(number) for a double (Render.jsNumber)."""
    if d != d:
        return "NaN"
    if math.isinf(d):
        return "Infinity" if d > 0 else "-Infinity"
    if d == 0:
        return "0"
    a = abs(d)
    dec = decimal.Decimal(repr(a))
    if a == math.floor(a) and a < 1e21:
        s = format(dec.to_integral_value(), "f")
    elif 1e-6 <= a < 1e21:
        s = format(dec.normalize(), "f")
    else:
        sign, digits, exp = dec.normalize().as_tuple()
        ds = "".join(map(str, digits))
        e = len(ds) - 1 + exp
        mant = ds if len(ds) == 1 else f"{ds[0]}.{ds[1:]}"
        s = f"{mant}e{'+' if e >= 0 else '-'}{abs(e)}"
    return "-" + s if d < 0 else s


def iso(t):
    if isinstance(t, dt.datetime):
        if t.tzinfo is not None:
            t = t.astimezone(dt.timezone.utc).replace(tzinfo=None)
    else:
        t = dt.datetime(t.year, t.month, t.day)
    return (f"{t.year:04d}-{t.month:02d}-{t.day:02d}T{t.hour:02d}:{t.minute:02d}:"
            f"{t.second:02d}.{t.microsecond // 1000:03d}Z")


def _json(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "null" if math.isnan(v) or math.isinf(v) else js_number(v)
    if isinstance(v, (int, decimal.Decimal)):
        return str(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return _json(iso(v))
    if isinstance(v, (bytes, bytearray)):
        return "[" + ",".join(str(b) for b in v) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_json(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(_json(str(k)) + ":" + _json(x) for k, x in v.items()) + "}"
    return json.dumps(str(v), ensure_ascii=False)


def render(v):
    """Render.formatCell for a DuckDB value."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return js_number(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return iso(v)
    if isinstance(v, (bytes, bytearray, list, tuple, dict)):
        return _json(v)
    return str(v)


def cells_equal(a, b):
    if a == b:
        return True
    try:
        return cmp_cell(float(a), float(b))
    except ValueError:
        return False


# -- DuckDB ---------------------------------------------------------------------

def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def expected_page(con, sql):
    """Columns, first rendered rows and total of `sql` in DuckDB."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return {"columns": cols, "rows": [[render(v) for v in r] for r in rows[:PAGE]],
            "total": len(rows)}


class PageOracle:
    """Expected pages for read-only statements, cached on disk per input
    folder, statement and version of this file, so repeated runs skip
    DuckDB work already done."""

    def __init__(self, data_dir, cache_dir):
        self.con = connect(data_dir)
        self.cache_dir = Path(cache_dir)
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        self.version = Path(__file__).read_bytes()
        self.memo = {}

    def __call__(self, sql):
        if sql not in self.memo:
            key = hashlib.sha256(self.version + sql.encode()).hexdigest()
            f = self.cache_dir / (key + ".json")
            if f.exists():
                self.memo[sql] = json.loads(f.read_text())
            else:
                exp = expected_page(self.con, sql)
                f.write_text(json.dumps(exp))
                self.memo[sql] = exp
        return self.memo[sql]


def page_diff(got, want):
    """None when the rendered page equals the expected one; else why not.
    Columns align by name, as tools/verify_local.py aligns them."""
    if sorted(got["columns"]) != sorted(want["columns"]):
        return f"columns {got['columns']} != {want['columns']}"
    if got["total"] != want["total"]:
        return f"total {got['total']} != {want['total']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"page rows {len(got['rows'])} != {len(want['rows'])}"
    widx = [want["columns"].index(c) for c in got["columns"]]
    for i, (g, w) in enumerate(zip(got["rows"], want["rows"])):
        w = [w[j] for j in widx]
        if not all(cells_equal(a, b) for a, b in zip(g, w)):
            return f"row {i}: got {g} want {w}"
    return None


# -- page operators -------------------------------------------------------------

def search_diff(rec, q):
    want = [r for r in rec["page"]["rows"]
            if any(q.strip().lower() in c.lower() for c in r)]
    return None if rec["search_rows"] == want else f"search {q!r} kept wrong rows"


def sort_diff(rec, col, asc):
    rows, got = rec["page"]["rows"], rec["sort_rows"]
    if sorted(map(tuple, rows)) != sorted(map(tuple, got)):
        return "sort is not a permutation of the page"
    vals = [r[col].strip() for r in got if col < len(r)]
    full = [v for v in vals if v]
    if full and all(NUMERIC.match(v) for v in full):
        empties_last = vals[len(full):] == [""] * (len(vals) - len(full))
        empties_first = vals[:len(vals) - len(full)] == [""] * (len(vals) - len(full))
        nums = [decimal.Decimal(v) for v in full]
        ordered = nums == sorted(nums, reverse=not asc)
        if not ordered or not (empties_last if asc else empties_first):
            return f"sort on numeric column {col} asc={asc} is out of order"
    return None


# -- downloads ------------------------------------------------------------------

def _csv_column(values, typ):
    arr = pa.array([v if v != "" else None for v in values], pa.string())
    if pa.types.is_timestamp(typ):
        return arr
    return pc.cast(arr, typ)


def _arrow_column(col):
    if pa.types.is_timestamp(col.type):
        if col.type.tz is not None:
            col = pc.cast(col, pa.timestamp(col.type.unit))
        s = pc.strftime(col, format="%Y-%m-%dT%H:%M:%S")
        return pc.binary_join_element_wise(pc.utf8_slice_codeunits(s, 0, 23), "Z", "")
    return col


def export_diff(rec, run_dir):
    """The CSV download parsed back must hold the page's total rows and
    equal the Arrow download cell for cell."""
    total = rec["page"]["total"]
    with open(Path(run_dir) / "exports" / f"{rec['i']}.csv", newline="",
              encoding="utf-8") as f:
        lines = list(csv.reader(f))
    header, body = lines[0], lines[1:]
    with pa.ipc.open_stream(Path(run_dir) / "exports" / f"{rec['i']}.arrow") as r:
        table = r.read_all()
    if not (len(body) == rec["csv_rows"] == table.num_rows == total):
        return (f"row counts csv={len(body)}/{rec['csv_rows']} arrow={table.num_rows}"
                f" page total={total}")
    if header != table.column_names or header != rec["page"]["columns"]:
        return f"headers csv={header} arrow={table.column_names}"
    for j, name in enumerate(header):
        want = _arrow_column(table.column(name).combine_chunks())
        got = _csv_column([r[j] for r in body], want.type)
        if not got.equals(want):
            return f"column {name}: csv and arrow downloads differ"
    return None


# -- the run as a whole ---------------------------------------------------------

def check_run(wl, spec, result, data_dir, run_dir, cache_dir):
    """(step id, verdict) per operation: the warm pass of every set-up, then
    the measured steps. A verdict is None when the outputs are correct,
    else the reason they are not."""
    replay = wl.name == "edit"
    oracle = None if replay else PageOracle(data_dir, cache_dir)
    con = connect(data_dir) if replay else None
    verdicts = []
    for setup in result["setups"][:-1]:
        verdicts += [(r["id"], None if r["ok"] else r["error"]) for r in setup["warm_records"]]
    if replay:
        for script in spec["prepare"]:
            con.execute(script)
    ops = [(spec["warm"][-1 - r["i"]], r) for r in result["setups"][-1]["warm_records"]]
    ops += [(spec["steps"][r["i"] % len(spec["steps"])], r) for r in result["steps"]]
    for step, rec in ops:
        if not rec["ok"]:
            verdicts.append((rec["id"], rec["error"]))
            continue
        if replay and step["kind"] != "page":
            rec["changed"] = 0
            for stmt in step.get("duck", step["sql"]).split(";\n"):
                cur = con.execute(stmt)
                if stmt.lstrip().upper().startswith(("INSERT", "UPDATE", "DELETE")):
                    rec["changed"] += cur.fetchone()[0]
        v = None
        if step["kind"] == "page":
            want = expected_page(con, step["sql"]) if replay else oracle(step["sql"])
            v = page_diff(rec["page"], want)
            if v is None and "search" in step:
                v = search_diff(rec, step["search"])
            if v is None and "sort" in step:
                v = sort_diff(rec, *step["sort"])
            if v is None and step.get("export"):
                v = export_diff(rec, run_dir)
        verdicts.append((rec["id"], v))
    return verdicts
