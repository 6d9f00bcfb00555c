"""Result checks against the DuckDB oracle and the generator's known answers.

Rows are compared in the canonical form of `tools/check_oracle.py`
(columns sorted by name, NULL spelled out, rows sorted), except that two
floats match within 0.011 absolute or 1e-12 relative instead of at six
decimals. The absolute part covers one cent: on fresh generated data a
double sum rounded in-plan to 2 decimals can land on either side of a
rounding boundary depending on summation order (seen: q12 revenue
18352219.39 on Spark, .38 on DuckDB). The relative part covers summation
order on unrounded sums. Either is far below one row's contribution to a
sum. Each check returns None when it passes, else a one-line reason.
"""
import decimal
import glob
import math
import os

import duckdb

from . import gen

ROW_INDEX = "__graft_row"


def canon(rows, cols):
    """Rows as sorted tuples over name-sorted columns: floats stay numbers
    (DECIMAL becomes float: Spark types a literal like 100.0 as DECIMAL),
    NULL and NaN become strings, everything else its str()."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, decimal.Decimal):
                v = float(v)
            if isinstance(v, float):
                vals.append("nan" if math.isnan(v) else v)
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort(key=lambda row: tuple(f"{v:.4e}" if isinstance(v, float) else v for v in row))
    return out


def same(a, b):
    """Canonical row lists equal, floats within 0.011 or a relative 1e-12."""
    def cell(x, y):
        if isinstance(x, float) and isinstance(y, float):
            return math.isclose(x, y, rel_tol=1e-12, abs_tol=0.011)
        return x == y
    return len(a) == len(b) and all(
        len(r) == len(t) and all(cell(x, y) for x, y in zip(r, t)) for r, t in zip(a, b))


class Oracle:
    def __init__(self, data_dir):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in gen.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")

    def spark_rows(self, path):
        if not glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
            return None, None
        cur = self.con.execute(f"SELECT * FROM read_parquet('{path}/**/*.parquet')")
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        if ROW_INDEX in cols:
            k = cols.index(ROW_INDEX)
            cols = cols[:k] + cols[k + 1:]
            rows = [r[:k] + r[k + 1:] for r in rows]
        return cols, rows

    def compare(self, path, sql):
        cols, rows = self.spark_rows(path)
        if cols is None:
            return "no result files"
        try:
            cur = self.con.execute(sql)
        except duckdb.Error as e:
            return f"oracle error: {str(e).splitlines()[0][:160]}"
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
        if sorted(cols) != sorted(dcols):
            return f"columns {sorted(cols)} != oracle {sorted(dcols)}"
        a, b = canon(rows, cols), canon(drows, dcols)
        if len(a) != len(b):
            return f"{len(a)} rows != oracle {len(b)}"
        if not same(a, b):
            bad = next((x, y) for x, y in zip(a, b) if not same([x], [y]))
            return f"value mismatch {str(bad[0])[:100]} != {str(bad[1])[:100]}"
        return None

    def row_count(self, path):
        return self.con.execute(
            f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')").fetchone()[0]


def check_raw(name, cols, rows, known):
    """The canonical `raw_data` queries against the generator's answer."""
    if name == "raw_count":
        return None if rows == [(known["records"],)] else f"count {rows} != {known['records']}"
    if name == "raw_sample":
        return None if len(rows) == min(5, known["records"]) else f"{len(rows)} sample rows"
    if name == "raw_top":
        counts = known["city_counts"]
        want = sorted(counts.values(), reverse=True)[:3]
        got = sorted((r[cols.index("user_count")] for r in rows), reverse=True)
        if got != want:
            return f"top counts {got} != {want}"
        for r in rows:
            city = r[cols.index("address_city")]
            if counts.get(city) != r[cols.index("user_count")]:
                return f"city {city!r} count {r[cols.index('user_count')]} != {counts.get(city)}"
        return None
    return f"unknown raw query {name}"


def check_curation(oracle, out_dir):
    """The manifest's stage chain, and its counts and shard rows against
    the written ledger and corpus."""
    cols, rows = oracle.spark_rows(os.path.join(out_dir, "manifest"))
    st = sorted((dict(zip(cols, r)) for r in rows), key=lambda s: s["stage_ord"])
    for prev, cur in zip(st[:6], st[1:6]):
        if cur["n_in"] != prev["n_out"]:
            return f"stage {cur['stage']} n_in {cur['n_in']} != {prev['stage']} n_out {prev['n_out']}"
    ledger = f"read_parquet('{out_dir}/ledger/*.parquet')"
    led = oracle.con.execute(
        f"SELECT count(*), count(*) FILTER (alive1), count(*) FILTER (alive2), "
        f"count(*) FILTER (alive3), count(*) FILTER (alive4), count(*) FILTER (alive5), "
        f"coalesce(sum(n_copies) FILTER (alive5), 0), "
        f"count(*) FILTER (alive5 AND n_copies > 0) FROM {ledger}").fetchone()
    if st[0]["n_in"] != led[0]:
        return f"ingest n_in {st[0]['n_in']} != ledger rows {led[0]}"
    for k in range(6):
        if st[k]["n_out"] != led[k + 1]:
            return f"stage {st[k]['stage']} n_out {st[k]['n_out']} != ledger {led[k + 1]}"
    kept = led[7]
    corpus = oracle.con.execute(
        f"SELECT count(*), count(DISTINCT shard) FROM read_parquet("
        f"'{out_dir}/corpus/**/*.parquet', hive_partitioning = true)").fetchone()
    if corpus[0] != kept:
        return f"corpus rows {corpus[0]} != ledger survivors {kept}"
    if corpus[1] != st[7]["n_out"]:
        return f"corpus shards {corpus[1]} != manifest {st[7]['n_out']}"
    return None
