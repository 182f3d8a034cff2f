"""Checks every step output of a run against an independent oracle.

A step's output and its oracle are compared as multisets of rows: the column
names must match, and so must the row count and the sum of per-row hashes
over every value cast to text (columns in name order). A check that names an
``approx`` column compares sorted rows instead: that column within ``tol``,
the others exactly. The oracle is the
registry row's DuckDB SQL, evaluated over the same generated inputs, or a
property derived from it (schema types, the symmetric diff against the
previous release, the publish gate's decision).

Expected values are computed once per seed and cached next to the inputs.
"""
import decimal
import glob
import hashlib
import json
import os
import re

import duckdb


def _q(name):
    return '"' + name.replace('"', '""') + '"'


def _parquet(path):
    src = f"{path}/*.parquet" if os.path.isdir(path) else path
    return f"read_parquet('{src}')"


class Oracle:
    def __init__(self, data_dir):
        self.data_dir = data_dir
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for p in glob.glob(os.path.join(data_dir, "*.parquet")):
            t = os.path.basename(p)[:-len(".parquet")]
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_parquet(p)}")
        self.cache_path = os.path.join(data_dir, "expected.json")
        self.cache = {}
        if os.path.exists(self.cache_path):
            with open(self.cache_path) as f:
                self.cache = json.load(f)
        self.dirty = False

    def save(self):
        if self.dirty:
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, self.cache_path)

    def digest(self, sql):
        """(sorted column names, row count, sum of row hashes) of a query."""
        cols = sorted(self.con.sql(sql).columns)
        parts = ", ".join(f"coalesce(CAST({_q(c)} AS VARCHAR), '\\N')" for c in cols)
        n, h = self.con.execute(
            f"SELECT count(*), coalesce(sum(hash(concat_ws('|', {parts}))::HUGEINT), 0) "
            f"FROM ({sql}) t").fetchone()
        return [cols, n, str(h)]

    def rows(self, sql, approx):
        """(sorted column names, rows): the other columns as text, then
        ``approx`` as a number, sorted."""
        cols = sorted(self.con.sql(sql).columns)
        exact = [c for c in cols if c != approx]
        sel = ", ".join([f"CAST({_q(c)} AS VARCHAR)" for c in exact] +
                        [f"CAST({_q(approx)} AS DOUBLE)"])
        rows = self.con.execute(f"SELECT {sel} FROM ({sql}) t ORDER BY ALL").fetchall()
        return [cols, [list(r) for r in rows]]

    def _cached(self, kind, sql, fn):
        key = hashlib.sha1(f"{kind}\n{sql}".encode()).hexdigest()
        if key not in self.cache:
            self.cache[key] = fn()
            self.dirty = True
        return self.cache[key]

    def expected_digest(self, sql):
        return self._cached("digest", sql, lambda: self.digest(sql))

    def expected_types(self, sql):
        return self._cached("types", sql, lambda: infer_types(self.con, sql))

    # ---- one check per step output -----------------------------------
    def check(self, c):
        """Returns None when the output is right, else what is wrong."""
        kind = c["kind"]
        if kind == "table" and "approx" in c:
            col, tol = c["approx"], float(c["tol"])
            want = self._cached(f"rows {col}", c["oracle"], lambda: self.rows(c["oracle"], col))
            return self._close(self.rows(f"SELECT * FROM {_parquet(c['path'])}", col),
                               want, tol)
        if kind == "table":
            return self._same(self.digest(f"SELECT * FROM {_parquet(c['path'])}"),
                              self.expected_digest(c["oracle"]))
        if kind == "jsonl":
            files = sorted(glob.glob(os.path.join(c["path"], "*.json")))
            got = self.digest(f"SELECT * FROM read_json({files!r}, "
                              "format='newline_delimited', sample_size=-1)")
            return self._same(got, self.expected_digest(c["oracle"]))
        if kind == "types":
            want = self.expected_types(c["oracle"])
            return None if c["types"] == want else f"types {c['types']} != {want}"
        if kind == "diff":
            prev = _parquet(c["prev"])
            cols = ", ".join(_q(x) for x in self.con.sql(f"SELECT * FROM {prev}").columns)
            sql = (f"WITH cur AS ({c['oracle']}), prev AS (SELECT * FROM {prev}) "
                   f"SELECT {cols}, 'old' AS _side FROM "
                   f"(SELECT {cols} FROM prev EXCEPT SELECT {cols} FROM cur) "
                   f"UNION ALL SELECT {cols}, 'new' AS _side FROM "
                   f"(SELECT {cols} FROM cur EXCEPT SELECT {cols} FROM prev)")
            return self._same(self.digest(f"SELECT * FROM {_parquet(c['path'])}"),
                              self.digest(sql))
        if kind == "publish":
            want_version = 2 if c["expect_published"] else 1
            if c["published"] != c["expect_published"] or c["version"] != want_version:
                return (f"publish gate: published={c['published']} version={c['version']}, "
                        f"expected published={c['expect_published']} version={want_version}")
            if c["published"]:
                return self._same(self.digest(f"SELECT * FROM {_parquet(c['path'])}"),
                                  self.expected_digest(c["oracle"]))
            return None
        return f"unknown check kind {kind}"

    @staticmethod
    def _same(got, want):
        if got[0] != want[0]:
            return f"columns {got[0]} != {want[0]}"
        if got[1] != want[1]:
            return f"rows {got[1]} != {want[1]}"
        if got[2] != want[2]:
            return "values differ (row hash sums)"
        return None

    @staticmethod
    def _close(got, want, tol):
        if got[0] != want[0]:
            return f"columns {got[0]} != {want[0]}"
        if len(got[1]) != len(want[1]):
            return f"rows {len(got[1])} != {len(want[1])}"
        for g, w in zip(got[1], want[1]):
            a, b = g[-1], w[-1]
            # tol is one unit of a decimal place; 1e-12 absorbs the binary
            # error of the subtraction (0.537563 - 0.537562 > 1e-6)
            near = a == b or (a is not None and b is not None and abs(a - b) <= tol + 1e-12)
            if g[:-1] != w[:-1] or not near:
                return f"row {g} != {w} (last column within {tol})"
        return None


# ---- load-schema type inference, re-derived independently ---------------
# The reference's value classifier (normalize, classify, resolve), written
# from its documented rules, over each value as Spark renders it as text.

NULL_MARKERS = {"na", "n/a", "none", "", "--", "-", "null", "not reported", "unknown",
                "[not available]", "[not applicable]", "[unknown]", "."}
BOOL_WORDS = {"y", "yes", "t", "true", "on", "1", "n", "no", "f", "false", "off", "0"}
INT_RE = re.compile(r"[+-]?[0-9]{1,18}")
TRIVIAL_FLOAT_RE = re.compile(r"[+-]?[0-9]{1,18}\.0*")
EXP_RE = re.compile(r"[+-]?[0-9]+(\.[0-9]+)?[eE][+-]?[0-9]{1,2}")
DATE_RE = r"[0-9]{4}-(0[1-9]|1[0-2]|[0-9])-(0[1-9]|[1-2][0-9]|[3][0-1]|[1-9])"
TIME_RE = r"([0-1][0-9]|[2][0-3]|[0-9]):([0-5][0-9]|[0-9]):([0-5][0-9]|[0-9]])(\.[0-9]{1,6}|)"


def java_double(x):
    """Double.toString: positional in [1e-3, 1e7), else d.dddE[-]n."""
    if x == 0:
        return "-0.0" if str(x).startswith("-") else "0.0"
    if 1e-3 <= abs(x) < 1e7:
        return repr(x)
    sign, digits, exp = decimal.Decimal(repr(x)).normalize().as_tuple()
    ds = "".join(map(str, digits))
    e = exp + len(ds) - 1
    return ("-" if sign else "") + ds[0] + "." + (ds[1:] or "0") + f"E{e}"


def normalize(t):
    if t is None:
        return None
    t = t.strip(" ")
    lt = t.lower()
    if lt in NULL_MARKERS:
        return None
    if lt in ("false", "no"):
        return "False"
    if lt in ("true", "yes"):
        return "True"
    if re.fullmatch(r"0[0-9]+", t):
        return t
    if INT_RE.fullmatch(t):
        return str(int(t))
    if TRIVIAL_FLOAT_RE.fullmatch(t):
        return str(int(float(t)))
    if EXP_RE.fullmatch(t):
        d = float(t)
        if d == int(d) and abs(d) < 9.0e15:
            return str(int(d))
    return t


def _float(v):
    try:
        return float(v)
    except ValueError:
        return None


def classify(v):
    if v is None or v == "":
        return None
    if v.startswith("0") and len(v) > 1 and not any(ch in v for ch in ":-."):
        return "STRING"
    if v.lower() in BOOL_WORDS:
        return "BOOL"
    if any(e in v for e in ("E+", "E-", "e+", "e-")) and _float(v) is not None:
        return "FLOAT64"
    if "." in v and ":" not in v:
        if INT_RE.fullmatch(v):
            return "INT64"
        if _float(v) is not None:
            frac = v.split(".")[1] if "." in v else ""
            if frac == "":
                return "STRING"
            return "INT64" if set(frac) == {"0"} else "FLOAT64"
        return "STRING"
    if v.count("-") > 3:
        return "STRING"
    if v.count("-") >= 2 or v.count(":") == 2:
        if re.fullmatch(DATE_RE, v):
            return "DATE"
        if re.fullmatch(TIME_RE, v):
            return "TIME"
        if re.fullmatch(DATE_RE + "( |T)" + TIME_RE + r"([ \-:A-Za-z0-9]*)", v):
            return "TIMESTAMP"
        return "STRING"
    if INT_RE.fullmatch(v):
        return "INT64"
    return "FLOAT64" if _float(v) is not None else "STRING"


def resolve(field, types):
    if "_id" in field:
        return "STRING"
    types = {t for t in types if t is not None}
    if not types:
        return "STRING"
    if len(types) == 1:
        return next(iter(types))
    if "STRING" in types:
        return "STRING"
    if types == {"INT64", "BOOL"}:
        return "INT64"
    dt = types & {"TIMESTAMP", "DATE", "TIME"}
    num = types & {"INT64", "FLOAT64", "NUMERIC"}
    if dt and num:
        return "STRING"
    if dt:
        return "STRING" if "TIME" in types else "DATETIME"
    if "FLOAT64" in types:
        return "FLOAT64"
    if "NUMERIC" in types:
        return "NUMERIC"
    return "STRING"


def as_spark_text(value, duck_type):
    if value is None:
        return None
    if duck_type in ("DOUBLE", "FLOAT"):
        return java_double(float(value))
    if duck_type == "BOOLEAN":
        return "true" if value else "false"
    if duck_type in ("VARCHAR",) or "INT" in duck_type:
        return str(value)
    raise ValueError(f"no text rendering for {duck_type}")


def infer_types(con, sql):
    rel = con.sql(sql)
    out = {}
    for name, typ in zip(rel.columns, rel.types):
        vals = con.execute(f"SELECT DISTINCT {_q(name)} FROM ({sql}) t").fetchall()
        types = {classify(normalize(as_spark_text(v[0], str(typ)))) for v in vals}
        out[name] = resolve(name, types)
    return out
