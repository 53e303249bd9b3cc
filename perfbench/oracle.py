"""Correctness oracle on DuckDB, run on the same files the engine read.

Two checks:

- :class:`PipelineOracle` recomputes what the unified pipeline
  ``null_remover -> deduplicator -> quality_scorer -> anomaly_detector
  -> anomaly_splitter`` must produce from the bronze CSVs (drop rows
  with any null or empty field, keep distinct rows, flag a row when
  any numeric column sits more than 3 population standard deviations
  from its mean) and compares it with the gold/bi parquet, the
  gold/rag CSV and the quarantine CSV the engine wrote.
- :class:`DashboardOracle` answers every dashboard request shape in
  SQL over a snapshot of the served gold file and compares it with the
  engine's answer.

Every comparison returns a list of mismatch strings; an empty list is
a pass. Nothing here is timed.
"""

from __future__ import annotations

import math
import os
from datetime import date

import duckdb

# bronze columns with the types Spark's CSV inferSchema gives them
BRONZE_TYPES = {
    "order_id": "INTEGER", "batch_tag": "VARCHAR", "region": "VARCHAR",
    "category": "VARCHAR", "product": "VARCHAR", "channel": "VARCHAR",
    "tier": "VARCHAR", "order_date": "DATE", "quantity": "INTEGER",
    "unit_price": "DOUBLE", "discount": "DOUBLE", "revenue": "DOUBLE",
}
NUMERIC = ["order_id", "quantity", "unit_price", "discount", "revenue"]
Z_THRESHOLD = 3.0

ID_NAME_PARTS = ("_id", "id_", "key", "uuid", "guid")
ID_EXACT = {"id", "pk", "index"}


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def close(a, b, rel: float = 1e-9, abs_: float = 1e-6) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)
    return a == b


def rows_match(got: list, want: list) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


def csv_rows(path: str) -> int:
    """Data rows of a Spark CSV output directory (one header line per
    part file; the generated values hold no line breaks)."""
    rows = 0
    for name in os.listdir(path):
        if name.endswith(".csv"):
            with open(os.path.join(path, name), "rb") as fh:
                rows += max(0, sum(1 for _ in fh) - 1)
    return rows


class PipelineOracle:
    """Expected pipeline output for a set of bronze CSVs."""

    def __init__(self, con: duckdb.DuckDBPyConnection) -> None:
        self.con = con

    def expected(self, bronze_glob: str, view: str) -> None:
        """Create ``{view}_clean`` (all rows surviving null removal and
        dedup, with an ``anomalous`` flag) for the CSVs under the glob."""
        cols = ", ".join(f"'{c}': '{t}'" for c, t in BRONZE_TYPES.items())
        not_null = " AND ".join(
            f"{q(c)} IS NOT NULL" + (f" AND {q(c)} <> ''" if t == "VARCHAR" else "")
            for c, t in BRONZE_TYPES.items()
        )
        self.con.execute(
            f"CREATE OR REPLACE TEMP TABLE {view}_dedup AS SELECT DISTINCT * FROM "
            f"read_csv('{bronze_glob}', header=true, columns={{{cols}}}) WHERE {not_null}"
        )
        stats = ", ".join(
            f"avg({q(c)}) AS {c}__m, stddev_pop({q(c)}) AS {c}__s, count({q(c)}) AS {c}__n"
            for c in NUMERIC
        )
        flag = " OR ".join(
            f"({c}__n >= 3 AND {c}__s > 0 AND abs(({q(c)} - {c}__m) / {c}__s) > {Z_THRESHOLD})"
            for c in NUMERIC
        )
        self.con.execute(
            f"CREATE OR REPLACE TEMP TABLE {view}_clean AS SELECT d.*, ({flag}) AS anomalous "
            f"FROM {view}_dedup d, (SELECT {stats} FROM {view}_dedup)"
        )

    def check(self, view: str, outputs: dict, batch_tag: str | None = None) -> tuple[list[str], dict]:
        """Compare the engine's outputs with ``{view}_clean``. Returns
        (mismatches, counts)."""
        con = self.con
        bad: list[str] = []
        want_gold, want_quar = con.execute(
            f"SELECT count(*) FILTER (WHERE NOT anomalous), count(*) FILTER (WHERE anomalous) "
            f"FROM {view}_clean"
        ).fetchone()
        gold = f"read_parquet('{os.path.join(outputs['bi_path'], '*.parquet')}')"
        got_gold = con.execute(f"SELECT count(*) FROM {gold}").fetchone()[0]
        got_rag = csv_rows(outputs["rag_path"])
        got_quar = csv_rows(outputs["quarantine_path"])
        for name, got, want in (("gold", got_gold, want_gold), ("rag", got_rag, want_gold),
                                ("quarantine", got_quar, want_quar)):
            if got != want:
                bad.append(f"pipeline {name} rows {got} != expected {want}")
        # content: the gold business columns are exactly the clean rows
        biz = ", ".join(q(c) for c in BRONZE_TYPES)
        diff = con.execute(
            f"SELECT count(*) FROM ((SELECT {biz} FROM {view}_clean WHERE NOT anomalous "
            f"EXCEPT ALL SELECT {biz} FROM {gold}) UNION ALL (SELECT {biz} FROM {gold} "
            f"EXCEPT ALL SELECT {biz} FROM {view}_clean WHERE NOT anomalous))"
        ).fetchone()[0]
        if diff:
            bad.append(f"pipeline gold differs from expected in {diff} rows")
        counts = {"gold": got_gold, "rag": got_rag, "quarantine": got_quar}
        if batch_tag is not None:
            counts["batch_rows"] = con.execute(
                f"SELECT count(*) FROM {view}_clean WHERE NOT anomalous AND batch_tag = ?",
                [batch_tag],
            ).fetchone()[0]
        return bad, counts


# -- dashboard ------------------------------------------------------

def _where(filters: list[dict]) -> tuple[str, list]:
    parts, params = [], []
    for f in filters or []:
        c, op, v = q(f["column"]), f["operator"], f.get("value")
        if op == "eq":
            parts.append(f"{c} = ?"); params.append(v)
        elif op == "in":
            parts.append(f"{c} IN ({', '.join('?' for _ in v)})"); params += list(v)
        elif op == "between":
            parts.append(f"{c} BETWEEN ? AND ?"); params += list(v)
        elif op == "gte":
            parts.append(f"{c} >= ?"); params.append(v)
        else:
            raise ValueError(f"oracle has no SQL for operator {op!r}")
    return (" WHERE " + " AND ".join(parts)) if parts else "", params


def _lit(v):
    """Filter literals: ISO date strings compare as dates."""
    if isinstance(v, str) and len(v) == 10 and v[4] == "-" and v[7] == "-":
        return date.fromisoformat(v)
    return v


def _metric_sql(m: dict) -> str:
    c, agg = m["column"], m["agg"]
    if agg == "count":
        return "count(*)" if c == "*" else f"count({q(c)})"
    if agg == "count_distinct":
        return f"count(DISTINCT {q(c)})"
    return f"{agg}({q(c)})"


class DashboardOracle:
    """Answers the four dashboard request types over a DuckDB table."""

    def __init__(self, con: duckdb.DuckDBPyConnection) -> None:
        self.con = con

    def snapshot(self, parquet_dir: str, table: str) -> None:
        self.con.execute(
            f"CREATE OR REPLACE TEMP TABLE {table} AS SELECT * FROM "
            f"read_parquet('{os.path.join(parquet_dir, '*.parquet')}')"
        )

    def _run(self, sql: str, params: list) -> list:
        return self.con.execute(sql, [_lit(p) for p in params]).fetchall()

    def check(self, table: str, kind: str, args: dict, got: dict) -> list[str]:
        return getattr(self, f"_check_{kind}")(table, args, got)

    def _check_query(self, table: str, args: dict, got: dict) -> list[str]:
        spec = args["spec"]
        where, params = _where(args["filters"])
        gb = spec.get("group_by", [])
        mets = spec["metrics"]
        names = [m.get("alias") or f"{m['column']}_{m['agg']}" for m in mets]
        sel = [q(g) for g in gb] + [_metric_sql(m) for m in mets]
        sql = f"SELECT {', '.join(sel)} FROM {table}{where}"
        if gb:
            sql += f" GROUP BY {', '.join(q(g) for g in gb)}"
        want = self._run(sql, params)
        cols = gb + names
        if got["columns"] != cols:
            return [f"query columns {got['columns']} != {cols}"]
        rows = [tuple(r[c] for c in cols) for r in got["records"]]
        if gb and len(want) > (spec.get("limit") or len(want)):
            return ["query oracle shape cut by limit; pick a larger limit"]
        key = lambda r: tuple("" if x is None else str(x) for x in r[:len(gb)])
        if not rows_match(sorted(rows, key=key), sorted(want, key=key)):
            return [f"query {args} result differs: {rows[:3]} vs {want[:3]}"]
        first = [r[len(gb)] for r in rows]
        if any(a is not None and b is not None and a < b for a, b in zip(first, first[1:])):
            return [f"query {args} not ordered by first metric desc"]
        return []

    def _check_drill(self, table: str, args: dict, got: dict) -> list[str]:
        where, params = _where(args["filters"])
        cols = args["columns"]
        total = self._run(f"SELECT count(*) FROM {table}{where}", params)[0][0]
        direction = "DESC" if args["order_desc"] else "ASC"
        want = self._run(
            f"SELECT {', '.join(q(c) for c in cols)} FROM {table}{where} "
            f"ORDER BY {q(args['order_by'])} {direction} LIMIT {args['limit']} OFFSET {args['offset']}",
            params,
        )
        bad = []
        if got["total_count"] != total:
            bad.append(f"drill total {got['total_count']} != {total}")
        rows = [tuple(r[c] for c in cols) for r in got["records"]]
        if not rows_match(rows, want):
            bad.append(f"drill {args} page differs")
        return bad

    def _check_values(self, table: str, args: dict, got: dict) -> list[str]:
        c = q(args["column"])
        where = f" WHERE {c} IS NOT NULL"
        params: list = []
        if args.get("search"):
            where += f" AND CAST({c} AS VARCHAR) ILIKE ? ESCAPE '\\'"
            esc = args["search"].replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
            params.append(f"%{esc}%")
        vals = [r[0] for r in self._run(f"SELECT DISTINCT {c} FROM {table}{where} ORDER BY 1", params)]
        want = {"values": vals[: args["limit"]], "total_distinct": len(vals),
                "truncated": len(vals) > args["limit"]}
        return [] if got == want else [f"values {args} differ: {got['total_distinct']} vs {len(vals)}"]

    def _check_schema(self, table: str, args: dict, got: dict) -> list[str]:
        desc = self.con.execute(f"DESCRIBE {table}").fetchall()
        rows = self.con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
        bad: list[str] = []
        if got["row_count"] != rows:
            bad.append(f"schema row_count {got['row_count']} != {rows}")
        dims, mets = [], []
        for name, dtype, *_ in desc:
            info = got["columns"].get(name)
            if info is None:
                bad.append(f"schema lacks column {name}")
                continue
            c = q(name)
            if dtype == "BOOLEAN":
                n = self._run(f"SELECT count(DISTINCT {c}) FROM {table}", [])[0][0]
                if info != {"type": "boolean", "distinct_count": n}:
                    bad.append(f"schema {name}: {info}")
            elif dtype in ("DATE", "TIMESTAMP", "TIMESTAMP WITH TIME ZONE"):
                lo, hi = self._run(f"SELECT min({c}), max({c}) FROM {table}", [])[0]
                want = {"type": "datetime", "min": None if lo is None else str(lo),
                        "max": None if hi is None else str(hi)}
                if info != want:
                    bad.append(f"schema {name}: {info} != {want}")
            elif dtype == "VARCHAR":
                n = self._run(f"SELECT count(DISTINCT {c}) FROM {table}", [])[0][0]
                vals = [r[0] for r in self._run(
                    f"SELECT DISTINCT {c} FROM {table} WHERE {c} IS NOT NULL ORDER BY 1 LIMIT 100", [])]
                want = {"type": "categorical", "distinct_count": n}
                if n <= 100:
                    want["values"] = vals
                else:
                    want.update(sample_values=vals[:20], high_cardinality=True)
                if info != want:
                    bad.append(f"schema {name}: {info} != {want}")
                if n <= 50 and not _id_like(name, n, rows):
                    dims.append(name)
            else:
                lo, hi, avg, n = self._run(
                    f"SELECT min({c}), max({c}), avg(CAST({c} AS DOUBLE)), count(DISTINCT {c}) FROM {table}", [])[0]
                if not (info.get("type") == "numeric" and close(info["min"], lo) and close(info["max"], hi)
                        and close(info["avg"], avg) and info["distinct_count"] == n):
                    bad.append(f"schema {name}: {info} != {(lo, hi, avg, n)}")
                if not _id_like(name, n, rows):
                    mets.append(name)
        if got["suggested_dimensions"] != dims[:5] or got["suggested_metrics"] != mets[:5]:
            bad.append(f"schema suggestions {got['suggested_dimensions']}/{got['suggested_metrics']}")
        return bad


def _id_like(name: str, distinct: int, rows: int) -> bool:
    low = name.lower()
    return low in ID_EXACT or any(p in low for p in ID_NAME_PARTS) or (distinct == rows and rows > 100)
