"""Correctness: every result is compared with DuckDB over the same inputs.

Registry queries (sf01, batch_sf01, stream_sf01) run their
`SparkEntry.oracleSql` entry; results are normalized the way
scripts/check.py does it and must match exactly. cli_files queries run
a DuckDB twin over the generated files; the rendered output is parsed
back into rows and compared as a multiset, numbers within a relative
1e-9 (the engines sum floats in different orders).
"""
import csv
import datetime
import glob
import hashlib
import io
import json
import math
import os

import duckdb
import pandas as pd

SF_TABLES = ["region", "nation", "customer", "supplier", "part",
             "orders", "lineitem", "events", "documents", "embeddings"]


# ---- registry queries --------------------------------------------------

def normalize(df):
    """scripts/check.py's normalization: columns by name, cells to
    strings except numbers, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        try:
            if v is None or (isinstance(v, float) and pd.isna(v)) or v is pd.NaT:
                return "<NULL>"
        except (TypeError, ValueError):
            pass
        return str(v)

    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").map(cell)
        elif s.dtype == object or pd.api.types.is_bool_dtype(s):
            df[c] = s.map(cell)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


class SfOracle:
    """DuckDB over the sf0.1 tables; answers are cached on disk by the
    hash of their SQL, since the tables never change."""

    def __init__(self, data_dir, cache_dir):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _answer(self, sql):
        path = os.path.join(self.cache_dir, hashlib.sha256(sql.encode()).hexdigest() + ".pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        if self.con is None:
            self.con = duckdb.connect()
            self.con.execute("SET threads TO 4")
            for t in SF_TABLES:
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                 f"read_parquet('{self.data_dir}/{t}.parquet')")
        df = self.con.execute(sql).fetchdf()
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df

    def check(self, result_dir, sql):
        """Returns None when the Spark result matches, else why not."""
        files = glob.glob(os.path.join(result_dir, "*.parquet"))
        if not files:
            return "no output"
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            want = self._answer(sql)
        except Exception as e:  # an oracle that cannot run is a failed check
            return f"oracle error: {e}"
        g, w = normalize(got), normalize(want)
        if list(g.columns) != list(w.columns):
            return f"schema spark={list(g.columns)} duckdb={list(w.columns)}"
        if len(g) != len(w):
            return f"rows {len(g)} vs {len(w)}"
        if not g.equals(w):
            neq = (g != w) & ~(g.isna() & w.isna())
            c = next(c for c in g.columns if neq[c].any())
            i = neq[c].idxmax()
            return f"value {c}[{i}]: {g[c][i]!r} vs {w[c][i]!r}"
        return None


# ---- cli_files -----------------------------------------------------------

def cli_views(con, input_dir):
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_csv_auto('{input_dir}/lineitem.csv')")
    con.execute(f"CREATE VIEW customers AS SELECT * FROM read_csv_auto('{input_dir}/customers.csv')")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"read_json_auto('{input_dir}/orders.json', format='newline_delimited')")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{input_dir}/events.parquet')")
    with open(os.path.join(input_dir, "app.log")) as fh:
        lines = fh.read().split("\n")[:-1]
    app_log = pd.DataFrame({"number": range(len(lines)), "text": lines})
    con.register("app_log", app_log)


def parse_output(text, fmt):
    """Rows of a rendered result as lists of cell strings (header dropped)."""
    lines = [l for l in text.split("\n") if l]
    if fmt == "json":
        return [list(json.loads(l).values()) for l in lines]
    if fmt == "csv":
        return list(csv.reader(io.StringIO("\n".join(lines[1:]))))
    if fmt == "stream_native":
        return [l[l.index("| ") + 2:-3].split(", ") for l in lines]
    rows = [[c.strip() for c in l.strip("|").split("|")] for l in lines if l.startswith("|")]
    return rows[1:]


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ("null", "")
    if isinstance(v, bool):
        return ("s", str(v).lower())
    if isinstance(v, (int, float)):
        return ("n", float(v))
    if isinstance(v, (datetime.datetime, pd.Timestamp)):
        return ("s", v.strftime("%Y-%m-%dT%H:%M:%S"))
    s = str(v)
    if len(s) >= 2 and s[0] == s[-1] == "'":
        return ("s", s[1:-1])
    if s in ("<null>", "NULL"):
        return ("null", "")
    try:
        return ("n", float(s))
    except ValueError:
        pass
    if len(s) >= 19 and s[4] == "-" and s[10] in "T ":
        return ("s", s[:10] + "T" + s[11:19])
    return ("s", s)


def _same(a, b):
    if a[0] != b[0]:
        return False
    if a[0] == "n":
        return math.isclose(a[1], b[1], rel_tol=1e-9, abs_tol=1e-9)
    return a[1] == b[1]


def compare_rows(got, want):
    """None when the two row multisets agree, else why not."""
    g = sorted(([_canon(v) for v in r] for r in got), key=lambda r: [(t, str(x)) for t, x in r])
    w = sorted(([_canon(v) for v in r] for r in want), key=lambda r: [(t, str(x)) for t, x in r])
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    for i, (a, b) in enumerate(zip(g, w)):
        if len(a) != len(b) or not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} vs {b}"
    return None


# octosql's type names for what DuckDB infers from the same JSON lines:
# every JSON number is a Float there.
OCTO_JSON_TYPES = {"BIGINT": "Float", "DOUBLE": "Float", "VARCHAR": "String",
                   "BOOLEAN": "Boolean"}


class CliOracle:
    def __init__(self, input_dir):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        cli_views(self.con, input_dir)

    def want(self, twin, describe):
        """The twin's rows; for a describe, the schema of the view the
        twin names, in octosql's type names."""
        if describe:
            rows = self.con.execute(f"DESCRIBE SELECT * FROM {twin}").fetchall()
            return [[name, OCTO_JSON_TYPES.get(typ, typ), False] for name, typ, *_ in rows]
        return [list(r) for r in self.con.execute(twin).fetchall()]

    def check(self, text, fmt, twin, describe):
        """None when the rendered output matches the twin, else why not."""
        try:
            got = parse_output(text, fmt)
        except Exception as e:
            return f"unparseable {fmt} output: {e}"
        return compare_rows(got, self.want(twin, describe))
