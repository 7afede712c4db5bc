"""Output checks, run outside the timed region.

Registry ops are compared with their DuckDB oracle on row count, sorted
column names and the order-insensitive canonical hash that
``tools/check_oracle.py`` defines. Versioned-table snapshots are compared
with a DuckDB replay of the same op sequence, by an integer fingerprint
that both engines compute exactly.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import pickle
import sys

import duckdb


def _load_check_oracle(root: str):
    """``tools/check_oracle.py`` as a module, leaving ``sys.path`` as it
    was (the tool prepends its own source tree to it)."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "perfbench_check_oracle", os.path.join(root, "tools", "check_oracle.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


class Oracle:
    """DuckDB over the run's input tables. With ``cache_dir``, each
    oracle query's result is kept there, keyed by its SQL, and read back
    by later runs over the same tables."""

    def __init__(self, root: str, data_dir: str, tables: tuple[str, ...],
                 cache_dir: str | None = None):
        self._hash_rows = _load_check_oracle(root)._hash_rows
        self.cache_dir = cache_dir
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def compare(self, oracle_sql: str, cols: list[str], rows: list[tuple]) -> list[str]:
        """Differences between a Spark result and the oracle's; empty
        when they agree."""
        dcols, drows = self._expected(oracle_sql)
        problems = []
        if len(rows) != len(drows):
            problems.append(f"rowcount spark={len(rows)} duckdb={len(drows)}")
        if sorted(cols) != sorted(dcols):
            problems.append(f"columns spark={sorted(cols)} duckdb={sorted(dcols)}")
        elif self._hash_rows(cols, rows) != self._hash_rows(dcols, drows):
            problems.append("value hash mismatch")
        return problems

    def _expected(self, oracle_sql: str) -> tuple[list[str], list[tuple]]:
        path = None
        if self.cache_dir is not None:
            key = hashlib.sha256(oracle_sql.encode()).hexdigest()[:24]
            path = os.path.join(self.cache_dir, f"{key}.pkl")
            if os.path.isfile(path):
                with open(path, "rb") as f:
                    return pickle.load(f)
        res = self.con.execute(oracle_sql)
        out = ([d[0] for d in res.description], res.fetchall())
        if path is not None:
            os.makedirs(self.cache_dir, exist_ok=True)
            tmp = f"{path}.tmp{os.getpid()}"
            with open(tmp, "wb") as f:
                pickle.dump(out, f)
            os.replace(tmp, path)
        return out


# Integer fingerprint of an orders snapshot: each sum weights one column
# by a key-derived factor, so a value moved to another key, a lost row or
# a duplicated row changes it. Integer arithmetic keeps both engines exact.
_FP_TERMS = [
    "count(*)",
    "sum(o_orderkey)",
    "sum(o_custkey * (o_orderkey % 1009))",
    "sum(CAST(round(o_totalprice * 100) AS BIGINT) * (o_orderkey % 997))",
    "sum(ascii(o_orderstatus) * (o_orderkey % 991))",
    "sum(ascii(substr(o_orderpriority, 1, 1)) * (o_orderkey % 983))",
    "sum(CAST(o_month AS BIGINT) * (o_orderkey % 977))",
    "sum(CAST({days} AS BIGINT) * (o_orderkey % 971))",
]


def _fp(row) -> tuple:
    return tuple(0 if v is None else int(v) for v in row)


def spark_fingerprint(df) -> tuple:
    from pyspark.sql import functions as F

    days = "unix_date(to_date(o_orderdate))"
    return _fp(df.agg(*[F.expr(t.format(days=days)) for t in _FP_TERMS]).first())


class LakeReplay:
    """DuckDB copy of the versioned orders table, advanced op by op."""

    def __init__(self, orders_path: str, last_months: int | None = None):
        self.con = duckdb.connect()
        # t0 holds the initial rows, the source every merge reads: the
        # orders of the ``last_months`` latest months, or all of them.
        limit = "" if last_months is None else f"LIMIT {int(last_months)}"
        self.con.execute(
            "CREATE TABLE t0 AS WITH o AS (SELECT *, CAST(year(o_orderdate) * 100 + "
            f"month(o_orderdate) AS INTEGER) AS o_month FROM read_parquet('{orders_path}')) "
            "SELECT * FROM o WHERE o_month IN "
            f"(SELECT DISTINCT o_month FROM o ORDER BY o_month DESC {limit})"
        )
        self.con.execute("CREATE TABLE t AS SELECT * FROM t0")

    def close(self) -> None:
        self.con.close()

    def save_base(self) -> None:
        """Keep the current rows as the state ``restore_base`` returns to."""
        self.con.execute("CREATE OR REPLACE TABLE base AS SELECT * FROM t")

    def restore_base(self) -> None:
        self.con.execute("CREATE OR REPLACE TABLE t AS SELECT * FROM base")

    def fingerprint(self, where: str = "TRUE") -> tuple:
        days = "(CAST(o_orderdate AS DATE) - DATE '1970-01-01')"
        return _fp(self.con.execute(
            f"SELECT {', '.join(t.format(days=days) for t in _FP_TERMS)} "
            f"FROM t WHERE {where}"
        ).fetchone())

    def _count(self, where: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM t WHERE {where}").fetchone()[0]

    def apply(self, op: dict) -> int:
        """Apply one logged op; returns the user rows it changed."""
        kind = op["kind"]
        if kind in ("merge", "append"):
            self.con.register("batch", op["rows"])
            try:
                if kind == "merge":
                    src = (
                        "SELECT o_orderkey, o_custkey, o_orderstatus, "
                        f"o_totalprice + {op['delta']} AS o_totalprice, "
                        "o_orderdate, o_orderpriority, o_month FROM t0 "
                        f"WHERE o_month IN ({', '.join(map(str, op['months']))}) "
                        f"AND o_orderkey % 4 = {op['r']} UNION ALL SELECT * FROM batch"
                    )
                    self.con.execute(f"CREATE TEMP TABLE upd AS {src}")
                    n = self.con.execute("SELECT count(*) FROM upd").fetchone()[0]
                    self.con.execute(
                        "DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM upd)"
                    )
                    self.con.execute("INSERT INTO t SELECT * FROM upd")
                    self.con.execute("DROP TABLE upd")
                else:
                    n = len(op["rows"])
                    self.con.execute("INSERT INTO t SELECT * FROM batch")
            finally:
                self.con.unregister("batch")
            return n
        if kind == "update":
            n = self._count(op["where"])
            self.con.execute(f"UPDATE t SET {op['set_duck']} WHERE {op['where']}")
            return n
        if kind == "delete":
            n = self._count(op["where"])
            self.con.execute(f"DELETE FROM t WHERE {op['where']}")
            return n
        return 0  # optimize: same rows
