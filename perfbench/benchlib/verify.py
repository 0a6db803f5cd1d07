"""Output checks: every measured operation's output is compared against
DuckDB run over the same Parquet files. A check returns None when the
output is right and a one-line reason when it is not."""
import glob
import hashlib
import math
import os
from decimal import Decimal

import duckdb


def connect(tmp_dir):
    con = duckdb.connect()
    # parquet support is built in; never reach for an extension download
    con.execute("SET autoinstall_known_extensions=false")
    con.execute("SET autoload_known_extensions=false")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    return con


def _lit(s):
    return "'" + str(s).replace("'", "''") + "'"


def _ident(s):
    return '"' + str(s).replace('"', '""') + '"'


def parquet_files(path):
    """A table's Parquet files: the file itself, or the files of its
    directory."""
    if os.path.isfile(path):
        return [path]
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return files


def source(path):
    return "read_parquet([" + ",".join(_lit(f) for f in parquet_files(path)) + "])"


def canon(v):
    """Engine-neutral rendering of one result cell."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        return f"{float(v):.10g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def canon_rows(rows):
    return sorted("|".join(canon(c) for c in r) for r in rows)


def _same_number(a, b):
    if a is None or b is None:
        return a is None and b is None
    return float(a) == float(b)


class Checker:
    """Caches DuckDB expectations, so repeated operations on one target
    cost one DuckDB query."""

    def __init__(self, con, describe):
        self.con = con
        self.describe = describe
        self.cache = {}

    def _memo(self, key, fn):
        if key not in self.cache:
            self.cache[key] = fn()
        return self.cache[key]

    def names(self, path):
        return self._memo(("names", path), lambda: [
            r[0] for r in self.con.execute(f"DESCRIBE SELECT * FROM {source(path)}").fetchall()])

    def footer(self, path):
        return self._memo(("footer", path), lambda: self.con.execute(
            f"SELECT count(*), sum(total_compressed_size), "
            f"count(DISTINCT (file_name, row_group_id)) "
            f"FROM parquet_metadata([{','.join(_lit(f) for f in parquet_files(path))}])").fetchone())

    def chunk_bytes(self, path, columns):
        """Compressed bytes of the chunks of `columns`, from the footers."""
        sizes = self._memo(("chunks", path), lambda: dict(self.con.execute(
            f"SELECT path_in_schema, sum(total_compressed_size) "
            f"FROM parquet_metadata([{','.join(_lit(f) for f in parquet_files(path))}]) "
            f"GROUP BY 1").fetchall()))
        return sum(sizes.get(c, 0) for c in columns)

    def _scan_minmax(self, path, columns, where):
        aggs = ["count(*)"] + [f"min({_ident(c)}), max({_ident(c)})" for c in columns]
        r = self.con.execute(f"SELECT {', '.join(aggs)} FROM {source(path)} {where}").fetchone()
        return r[0], list(r[1::2]), list(r[2::2])

    def minmax(self, path, columns, where=""):
        """Row count and per-column min and max of `columns`."""
        if where:
            return self._memo(("minmax", path, tuple(columns), where),
                              lambda: self._scan_minmax(path, columns, where))
        # one scan of every column serves each column subset of the table
        names = self.names(path)
        rows, lo, hi = self._memo(("minmax", path), lambda: self._scan_minmax(path, names, ""))
        idx = [names.index(c) for c in columns]
        return rows, [lo[i] for i in idx], [hi[i] for i in idx]

    # ------------------------------------------------------------ checks

    def check(self, op):
        kind = op["kind"]
        res = op["result"] or {}
        params = op["params"]
        if kind == "open":
            names = self.names(params["path"])
            digest = hashlib.md5(",".join(names).encode()).hexdigest()
            if res["ncols"] != len(names) or res["names_md5"] != digest:
                return f"schema: {res['ncols']} columns, duckdb sees {len(names)}"
        elif kind == "stats":
            chunks, compressed, groups = self.footer(params["path"])
            got = (res["chunks"], res["compressed_bytes"], res["row_groups"])
            if got != (chunks, compressed, groups):
                return f"chunk stats {got} != duckdb {(chunks, compressed, groups)}"
        elif kind in ("subset", "lookup", "full"):
            where = ""
            if kind == "lookup":
                where = f"WHERE {_ident(params['key'])} BETWEEN {int(params['lo'])} AND {int(params['hi'])}"
            return self._check_fold(res, params["path"], where)
        elif kind == "write":
            return self._check_write(res)
        elif kind == "query":
            return self._check_query(op["target"], res)
        else:
            return f"unknown operation kind {kind}"
        return None

    def _check_fold(self, res, path, where):
        cols = res["columns"]
        rows, lo, hi = self.minmax(path, cols, where)
        if res["rows"] != rows:
            return f"rows {res['rows']} != duckdb {rows}"
        for c, a, b, x, y in zip(cols, res["min"], res["max"], lo, hi):
            if not (_same_number(a, x) and _same_number(b, y)):
                return f"{c}: min/max ({a}, {b}) != duckdb ({x}, {y})"
        return None

    def _check_write(self, res):
        """The written copy against the in-memory source it was written
        from: same row and column counts, same exact min/max."""
        src = self.describe["source"]
        path = res["path"]
        names = self.names(path)
        if len(names) != src["ncols"]:
            return f"wrote {len(names)} columns, the source has {src['ncols']}"
        rows, lo, hi = self.minmax(path, src["columns"])
        if rows != src["rows"] or rows != res["rows"]:
            return f"written rows {rows} != source {src['rows']}"
        for c, a, b, x, y in zip(src["columns"], src["min"], src["max"], lo, hi):
            if not (_same_number(a, x) and _same_number(b, y)):
                return f"{c}: written min/max ({x}, {y}) != source ({a}, {b})"
        return None

    def _oracle(self, name):
        def q():
            sql = self.describe["oracles"][name]
            cur = self.con.execute(sql)
            return [d[0] for d in cur.description], canon_rows(cur.fetchall())
        return self._memo(("oracle", name), q)

    def _check_query(self, name, res):
        if name not in self.describe.get("oracles", {}):
            # no oracle: a non-empty result, identical on every pass
            if not res["rows"]:
                return "empty result"
            first = self._memo(("hash", name), lambda: res["hash"])
            return None if res["hash"] == first else "result differs between passes"
        cols, want = self._oracle(name)
        if sorted(cols) != sorted(res["columns"]):
            return f"columns {res['columns']} != oracle {cols}"
        order = [res["columns"].index(c) for c in cols]
        got = canon_rows([[r[i] for i in order] for r in res["rows"]])
        if got != want:
            return f"{len(got)} rows differ from the oracle's {len(want)}"
        return None


def register_tables(con, tables_dir):
    """Views named after each table directory, as the oracles expect."""
    for d in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(d)[: -len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {_ident(name)} AS SELECT * FROM {source(d)}")
