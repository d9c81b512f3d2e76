"""The three workloads as seeded step scripts for the runner JVM.

A step is one user action: `page` (Engine.sql + first page, optionally
search/sort and CSV/Arrow download), `dml` (Engine.sql of a write) or
`script` (Engine.runScript). The seed picks statement order, drill-down
literals and DML keys; the input folder is the same for every seed.
Each script is far longer than any run gets through; a run measures
whole rounds of it for at least `--seconds`.
"""
import json
import random
from pathlib import Path


HERE = Path(__file__).resolve().parent
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
SETUPS = 3  # set-ups per run; setup_s is their median


def pinned(name):
    return json.loads((HERE / "workloads" / name).read_text())


def views():
    """The views a user creates over the imported folder: one per table,
    named like the table, over the imported file's view."""
    return [f"CREATE OR REPLACE TEMP VIEW {t} AS SELECT * FROM {t}_parquet" for t in TABLES]


def page(step_id, sql, **extra):
    return {"id": step_id, "kind": "page", "sql": sql, **extra}


def base_spec(warm, steps, round_len, prepare=(), teardown=()):
    """A run measures whole rounds of `round_len` steps: it starts rounds
    until `seconds` have passed and finishes the one in flight."""
    return {"views": views(), "prepare": list(prepare), "teardown": list(teardown),
            "warm": warm, "steps": steps, "round": round_len, "setups": SETUPS,
            "max_steps": 1 << 30}


class Explore:
    """Every pinned single-statement DuckDB-dialect oracle text, first page
    only. The texts are split into `strata` groups by their pinned cold
    latency and dealt into rounds of one text per group, alternating the
    dealing direction between groups so that every round holds about the
    same total latency. The seed picks the first round and the order inside
    each round, so any run gets through the same latency mix and all seeds
    together cover every text."""
    name, sf, strata, rounds = "explore", 0.01, 15, 400

    def spec(self, seed):
        stmts = sorted(pinned("explore.json"), key=lambda s: (s["cold_page_s"], s["name"]))
        size = len(stmts) / self.strata
        groups = [stmts[round(g * size):round((g + 1) * size)] for g in range(self.strata)]
        n = max(len(g) for g in groups)
        deal = [[g[r % len(g)] if i % 2 == 0 else g[-1 - r % len(g)]
                 for i, g in enumerate(groups)] for r in range(n)]
        rng = random.Random(seed)
        first = rng.randrange(n)
        steps = [page(s["name"], s["sql"]) for k in range(self.rounds)
                 for s in rng.sample(deal[(first + k) % n], self.strata)]
        warm = [page(g[0]["name"], g[0]["sql"]) for g in groups[:2]]
        return base_spec(warm, steps, self.strata)


DRILL_COLS = ("l_orderkey, l_linenumber, l_suppkey, l_quantity, l_extendedprice, "
              "l_discount, l_returnflag, l_linestatus, l_shipdate")
SEARCH_TERMS = ["1", "2", "0", "5", "9", "-0", "00", "19", "20", "O", "7", "3.", ".5"]


class Report:
    """The six CUR templates, each page searched and sorted, then two seeded
    drill-downs whose full results are downloaded as CSV and Arrow: a
    supplier range (~1e4 rows) and a ship-month range (~4e4 rows)."""
    name, sf, rounds = "report", 0.05, 400
    n_supp = 500  # supplier rows at sf 0.05
    supp_width, month_width = 17, 18

    def drills(self, rng):
        a = rng.randrange(0, self.n_supp - self.supp_width)
        m0 = rng.randrange(0, 82 - self.month_width)
        lo, hi = [f"{1995 + m // 12}-{m % 12 + 1:02d}-01" for m in (m0, m0 + self.month_width)]
        return [f"SELECT {DRILL_COLS} FROM lineitem WHERE {where} "
                "ORDER BY l_orderkey, l_linenumber" for where in (
                    f"l_suppkey BETWEEN {a} AND {a + self.supp_width - 1}",
                    f"l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < TIMESTAMP '{hi}'"
                    " AND l_returnflag <> 'R'")]

    def spec(self, seed):
        templates = pinned("report.json")
        rng = random.Random(seed)

        def template_step(t):
            return page(t["name"], t["sql"], search=rng.choice(SEARCH_TERMS),
                        sort=[rng.randrange(t["ncols"]), rng.random() < 0.5])

        warm = [page(t["name"], t["sql"]) for t in templates[:2]]
        steps = []
        for _ in range(self.rounds):
            steps += [template_step(t) for t in rng.sample(templates, len(templates))]
            steps += [page(f"drill_{k}", sql, export=True)
                      for k, sql in zip(("supplier", "month"), self.drills(rng))]
        return base_spec(warm, steps, len(templates) + 2)


INSERT_OFF, MERGE_OFF = 1_000_000_000, 2_000_000_000
WORK = ["k", "l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag", "l_linestatus", "l_shipdate"]
AGG_PAGE = ("SELECT l_returnflag, COUNT(*) AS n, "
            "SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty, "
            "SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS amount, "
            "MIN(k) AS kmin, MAX(k) AS kmax FROM work GROUP BY l_returnflag "
            "ORDER BY l_returnflag")
PK_AGG_PAGE = ("SELECT flag, COUNT(*) AS n, SUM(CAST(qty AS DECIMAL(18,2))) AS qty, "
               "MIN(k) AS kmin, MAX(k) AS kmax FROM work_pk GROUP BY flag ORDER BY flag")


def work_cols(**override):
    """The `work` select list, with some columns replaced by expressions."""
    return ", ".join(f"{override[c]} AS {c}" if c in override else c for c in WORK)


class Edit:
    """Writes beside reads on `work`, a copy of lineitem keyed by
    k = l_orderkey * 8 + l_linenumber, and on `work_pk`, a PRIMARY KEY
    table. Each write is followed by an aggregate page and a key-range
    page. Every cycle deletes what it inserted and upserts only existing
    keys, so both tables keep their size. A step carries a `duck` text when
    DuckDB 1.0 needs another spelling for the replay (it has no MERGE)."""
    name, sf, cycles = "edit", 0.01, 400
    pk_keys = 8000  # work_pk holds the work rows with k below this

    def __init__(self):
        self.max_k = int(1_500_000 * self.sf) * 8

    def prepare(self):
        return [
            "DROP TABLE IF EXISTS work; DROP TABLE IF EXISTS work_pk;\n"
            f"CREATE TABLE work AS SELECT {work_cols(k='l_orderkey * 8 + l_linenumber')}"
            " FROM lineitem;\n"
            "CREATE TABLE work_pk (k BIGINT PRIMARY KEY, qty DOUBLE, flag VARCHAR);\n"
            "INSERT INTO work_pk SELECT k, l_quantity, l_returnflag FROM work"
            f" WHERE k < {self.pk_keys}"]

    def teardown(self):
        return ["DROP VIEW IF EXISTS work_src", "DROP TABLE IF EXISTS work",
                "DROP TABLE IF EXISTS work_pk"]

    @staticmethod
    def reads(kind, lo, table="work"):
        return [page(f"{kind}_agg", AGG_PAGE if table == "work" else PK_AGG_PAGE),
                page(f"{kind}_range", f"SELECT * FROM {table} WHERE k BETWEEN {lo}"
                     f" AND {lo + 400} ORDER BY k")]

    def cycle(self, rng):
        def key_range(w):
            a = rng.randrange(0, self.max_k - w)
            return a, a + w
        ins, upd, mat, new = key_range(16000), key_range(16000), key_range(8000), key_range(4000)
        d = rng.randrange(1, 9)
        pk_lo = rng.randrange(0, self.pk_keys // 2)
        matched = work_cols(l_quantity="l_quantity * 2", l_returnflag="'M'")
        fresh = work_cols(k=f"k + {MERGE_OFF}", l_returnflag="'N'")
        src = (f"SELECT {matched} FROM work WHERE k BETWEEN {mat[0]} AND {mat[1]}"
               f" AND k < {INSERT_OFF} UNION ALL SELECT {fresh} FROM work"
               f" WHERE k BETWEEN {new[0]} AND {new[1]} AND k < {INSERT_OFF}")
        inserted = work_cols(k=f"k + {INSERT_OFF}", l_returnflag="'I'")
        merge = (f"CREATE OR REPLACE TEMP VIEW work_src AS {src};\n"
                 "MERGE INTO work USING work_src ON work.k = work_src.k"
                 " WHEN MATCHED THEN UPDATE SET l_quantity = work_src.l_quantity,"
                 " l_returnflag = work_src.l_returnflag WHEN NOT MATCHED THEN INSERT *")
        merge_duck = (f"CREATE OR REPLACE TEMP TABLE work_src AS {src};\n"
                      "UPDATE work SET l_quantity = s.l_quantity, l_returnflag = s.l_returnflag"
                      " FROM work_src s WHERE work.k = s.k;\n"
                      "INSERT INTO work SELECT * FROM work_src s"
                      " WHERE NOT EXISTS (SELECT 1 FROM work w WHERE w.k = s.k)")
        return [
            {"id": "insert", "kind": "dml", "sql":
             f"INSERT INTO work SELECT {inserted} FROM work WHERE k BETWEEN {ins[0]} AND {ins[1]} AND k < {INSERT_OFF}"},
            *self.reads("insert", INSERT_OFF + ins[0] + rng.randrange(0, 2000)),
            {"id": "update", "kind": "dml", "sql":
             f"UPDATE work SET l_quantity = l_quantity + {d}, l_returnflag = 'U'"
             f" WHERE k BETWEEN {upd[0]} AND {upd[1]}"},
            *self.reads("update", upd[0] + rng.randrange(0, 2000)),
            {"id": "merge", "kind": "script", "sql": merge, "duck": merge_duck},
            *self.reads("merge", mat[0] + rng.randrange(0, 2000)),
            {"id": "upsert", "kind": "dml", "sql":
             f"INSERT OR REPLACE INTO work_pk SELECT k, l_quantity + {d} AS qty, 'R' AS flag"
             f" FROM work WHERE k BETWEEN {pk_lo} AND {pk_lo + 1500} AND k < {self.pk_keys}"},
            *self.reads("upsert", pk_lo, table="work_pk"),
            {"id": "delete", "kind": "dml", "sql":
             f"DELETE FROM work WHERE k >= {INSERT_OFF}"
             f" AND k < {MERGE_OFF + self.max_k + rng.randrange(1, 10**6)}"},
            *self.reads("delete", upd[0] + rng.randrange(0, 2000)),
        ]

    def spec(self, seed):
        rng = random.Random(seed)
        cycles = [self.cycle(rng) for _ in range(self.cycles)]
        return base_spec(self.reads("warm", 0), [s for c in cycles for s in c],
                         len(cycles[0]), self.prepare(), self.teardown())


WORKLOADS = {w.name: w for w in (Explore(), Report(), Edit())}
