"""Output checks for the pipeline benchmark.

Every sink a pipeline writes is read back with DuckDB and reduced to an
order-independent digest: its row count plus a hash of its sorted,
canonicalised rows, with columns taken in name order. ``etl-star``
sinks are compared with the same query answered by DuckDB over the same
generated parquet; other workloads are compared with digests pinned per
seed in ``digests.json``, or, for a seed with no pinned entry, with the
first (warm-up) run of the same process.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb


def canonical(v) -> str:
    """One value as text that is equal across engines and runs."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, Decimal):
        return format(v.normalize(), "f") if v else "0"
    if isinstance(v, float):
        r = round(v, 6)
        return repr(r if r != 0 else 0.0)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canonical(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canonical(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def digest_rows(columns: list[str], rows: list[tuple]) -> str:
    """'<rows>:<sha256 prefix>' over rows with columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canonical(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return f"{len(lines)}:{h.hexdigest()[:16]}"


def _query_digest(con: duckdb.DuckDBPyConnection, sql: str) -> str:
    rel = con.sql(sql)
    return digest_rows(list(rel.columns), rel.fetchall())


def sink_digest(path: str, fmt: str = "parquet") -> str:
    """Digest of a sink directory as Spark wrote it (hive partitions
    become columns; hidden and metadata files are ignored)."""
    files = [
        f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f)
        and not any(p.startswith(("_", ".")) for p in os.path.relpath(f, path).split(os.sep))
    ]
    if not files:
        return "0:empty"
    listing = "[" + ",".join(f"'{f}'" for f in sorted(files)) + "]"
    with duckdb.connect() as con:
        if fmt == "csv":
            return _query_digest(
                con, f"SELECT * FROM read_csv({listing}, header=false, all_varchar=true)"
            )
        return _query_digest(
            con, f"SELECT * FROM read_parquet({listing}, hive_partitioning=true)"
        )


def sinks(config) -> dict[str, tuple[str, str]]:
    """Every output a pipeline config writes: name -> (path, format)."""
    out = {}
    for c in config.components:
        if c.op == "write":
            out[os.path.basename(c.params["path"])] = (
                c.params["path"], c.params.get("format", "parquet")
            )
        elif c.op == "stream" and c.params.get("sink", {}).get("type") == "file":
            path = c.params["sink"]["path"]
            out[os.path.basename(path)] = (path, c.params["sink"].get("file_format", "parquet"))
    return out


# DuckDB answers to the etl-star pipeline's sinks, over the generated parquet
ETL_ORACLE = {
    "etl-star/revenue": """
        WITH ol AS (
          SELECT l.l_orderkey, o.o_custkey, year(o.o_orderdate) AS o_year,
                 CAST(l.l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS net
          FROM '{d}/lineitem.parquet' l JOIN '{d}/orders.parquet' o
            ON l.l_orderkey = o.o_orderkey
          WHERE o.o_orderstatus <> 'P')
        SELECT r.r_name, n.n_name, CAST(ol.o_year AS INTEGER) AS o_year,
               COUNT(*) AS n_lines, COUNT(DISTINCT ol.l_orderkey) AS n_orders,
               SUM(ol.net) AS revenue
        FROM ol
        JOIN '{d}/customer.parquet' c ON ol.o_custkey = c.c_custkey
        JOIN '{d}/nation.parquet' n ON c.c_nationkey = n.n_nationkey
        JOIN '{d}/region.parquet' r ON n.n_regionkey = r.r_regionkey
        GROUP BY ALL
    """,
    "etl-star/bands": """
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               COUNT(*) OVER (ORDER BY o_totalprice
                              RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_within_1k
        FROM '{d}/orders.parquet'
    """,
}


def etl_oracle(data_dir: str) -> dict[str, str]:
    with duckdb.connect() as con:
        return {k: _query_digest(con, sql.format(d=data_dir)) for k, sql in ETL_ORACLE.items()}


class DigestBook:
    """Expected sink digests for one workload and seed, and the record
    of what each run produced."""

    def __init__(self, expected: dict[str, str] | None, source: str):
        self.expected = dict(expected or {})
        self.source = source  # "oracle", "pinned" or "first-run"
        self.mismatches: list[str] = []

    @classmethod
    def pinned(cls, path: str, workload: str, seed: int) -> "DigestBook":
        try:
            with open(path) as f:
                table = json.load(f)
        except FileNotFoundError:
            table = {}
        entry = table.get(workload, {}).get(str(seed))
        return cls(entry, "pinned") if entry else cls(None, "first-run")

    def check(self, pipeline: str, got: dict[str, str]) -> bool:
        """Compare one run's digests; a sink with no expectation yet
        (first-run mode) sets it."""
        ok = True
        for name, d in got.items():
            key = f"{pipeline}/{name}"
            want = self.expected.setdefault(key, d) if self.source == "first-run" else \
                self.expected.get(key)
            if want != d:
                ok = False
                self.mismatches.append(f"{key}: got {d}, want {want}")
        return ok
