"""Seeded inputs and DuckDB oracle expectations for the product-path benchmark.

The benchmark's only random input is a pair of TPC-H-shaped key tables,
`orders(o_orderkey)` and `lineitem(l_orderkey, l_linenumber)`: the two
columns `roadgrinder_spark.datagen` reads. Everything else (roads, address
points, documents, geocodable roads) is derived from them by the repo's
dual-dialect SQL, so Spark and DuckDB see bit-identical relations.

Expected outputs come from `__spark_entry__.oracle_sql()` evaluated in
DuckDB. Both they and what the program wrote are reduced in DuckDB to a row
count plus an order-insensitive digest (`Oracle.digest`).
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: orders per seed; lineitem rows are LINES_PER_ORDER times that, with
#: repeated (orderkey, linenumber) pairs as in the TPC-H-ish testdata, so
#: about 76% of them survive datagen's DISTINCT as address points
N_ORDERS = 12_000
LINES_PER_ORDER = 4
#: orderkeys are drawn without replacement from [0, KEY_SPACE * N_ORDERS):
#: the seed moves roads and points across datagen's 200 x 200 grid
KEY_SPACE = 4
#: geocode_stream: the points split into this many files, one micro-batch
#: each, in every drain
STREAM_FILES = 5
#: x-bands for evaluating the nearest_road oracle (see expected_nearest)
KNN_BANDS = 32

_INTEGER_TYPES = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}

GRIND_OUTPUTS = {
    # oracle name -> directory under the pipeline's output dir
    "geocode_roads": "GeocodeRoads",
    "altnames_roads": "AtlNamesRoads",
    "altnames_addrpnts": "AtlNamesAddrPnts",
    "geocode_interpolate": "Matches",
    "nearest_road": "stages/nearest_road",
}

STREAM_COLUMNS = [
    "objectid", "AddSystem", "AddNum", "StreetName", "StreetType",
    "SuffixDir", "PrefixDir", "px", "py",
]


def write_key_tables(seed: int, dest: Path) -> dict[str, int]:
    """orders/lineitem key tables for `seed`; returns row counts and bytes."""
    rng = np.random.default_rng(seed)
    okeys = np.sort(
        rng.choice(KEY_SPACE * N_ORDERS, N_ORDERS, replace=False)
    ).astype(np.int64)
    n_lines = N_ORDERS * LINES_PER_ORDER
    lineitem = pa.table({
        "l_orderkey": rng.choice(okeys, n_lines),
        "l_linenumber": rng.integers(1, 8, n_lines, dtype=np.int32),
    })
    dest.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"o_orderkey": okeys}), dest / "orders.parquet")
    pq.write_table(lineitem, dest / "lineitem.parquet")
    return {
        "orders": N_ORDERS,
        "lineitem": n_lines,
        "key_bytes": sum(
            os.path.getsize(dest / f) for f in ("orders.parquet", "lineitem.parquet")
        ),
    }


# -- DuckDB side ---------------------------------------------------------------

class Oracle:
    """DuckDB over one seed's key tables: derives the program's
    pre-materialized inputs and evaluates the repo's oracle SQL."""

    def __init__(self, key_dir: Path, threads: int, tmp: Path):
        import duckdb

        import __spark_entry__ as entry
        from roadgrinder_spark import datagen

        self.entry, self.datagen = entry, datagen
        self.sql = entry.oracle_sql()
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")
        self.con.execute(f"SET temp_directory = '{tmp}'")
        for t in datagen.SOURCE_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{key_dir / (t + '.parquet')}'"
            )

    def table(self, sql: str) -> pa.Table:
        """Rows of `sql` in a fixed order, so that a seed's input files are
        byte-identical on every run."""
        return self.con.sql(f"SELECT * FROM ({sql}) ORDER BY ALL").arrow()

    def derived_sql(self, relation: str) -> str:
        """`roads` or `addrpnts`, through datagen's shared CTEs."""
        cte = {"roads": self.datagen.ROADS_CTE, "addrpnts": self.datagen.ADDRPNTS_CTE}
        return self.datagen.with_sources(f"SELECT * FROM {relation}", cte[relation])

    def digest(self, relation: str) -> dict:
        """Row count, column names and the sum and xor of per-row 64-bit
        hashes of `relation`. Columns are hashed in name order, integers as
        BIGINT, floats as DOUBLE and the rest as VARCHAR, so an int32 column
        of Spark's and a BIGINT column of DuckDB's with equal values agree."""
        types = {
            r[0]: r[1]
            for r in self.con.sql(f"DESCRIBE SELECT * FROM {relation}").fetchall()
        }
        exprs = []
        for name in sorted(types):
            t = types[name].upper()
            cast = "VARCHAR"
            if t in _INTEGER_TYPES:
                cast = "BIGINT"
            elif t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
                cast = "DOUBLE"
            exprs.append(f'CAST(t."{name}" AS {cast})')
        rows, total, xor = self.con.sql(
            f"SELECT count(*), CAST(sum(CAST(h AS HUGEINT)) % 18446744073709551616 AS UBIGINT), "
            f"bit_xor(h) FROM (SELECT hash({', '.join(exprs)}) AS h FROM {relation} t)"
        ).fetchone()
        return {"rows": rows, "columns": sorted(types), "sum": int(total or 0), "xor": int(xor or 0)}

    def expected(self, name: str) -> dict:
        if name == "nearest_road":
            return self.digest(self.nearest_table())
        return self.digest(f"({self.sql[name]})")

    def digest_output(self, pattern: Path) -> dict:
        """Digest of the parquet files the program wrote."""
        return self.digest(f"read_parquet('{pattern}', hive_partitioning = false)")

    def nearest_table(self) -> str:
        """The `nearest_road` oracle, evaluated per x-band of points into a
        temp table; returns the table's name.

        DuckDB runs the oracle's bbox BETWEEN join as a nested loop, which
        takes ~24 s at 90 k points on 4 cores. Each band keeps every road
        whose radius-expanded bbox overlaps the band, so every point sees
        exactly its full candidate set and the union of the bands equals the
        oracle's result row for row. The SQL is the oracle's own body and
        CTEs; only the `roads`/`addrpnts` CTEs are replaced by the same
        relations materialized once."""
        from roadgrinder_spark.spatial import join as sj

        body, ctes = self.entry._split_body(sj.oracle_knn_sql(k=1))
        query = self.entry._with(body, ctes)
        r = float(sj.DEFAULT_RADIUS_M)
        con = self.con
        for rel in ("roads", "addrpnts"):
            con.execute(f"CREATE OR REPLACE TEMP TABLE _{rel}_all AS {self.derived_sql(rel)}")
        lo, hi = con.execute("SELECT min(px), max(px) FROM _addrpnts_all").fetchone()
        edges = np.linspace(lo, hi + 1.0, KNN_BANDS + 1).tolist()
        for i, (a, b) in enumerate(zip(edges[:-1], edges[1:])):
            con.execute(
                f"CREATE OR REPLACE TEMP VIEW addrpnts AS SELECT * FROM _addrpnts_all "
                f"WHERE px >= {a!r} AND px < {b!r}"
            )
            con.execute(
                f"CREATE OR REPLACE TEMP VIEW roads AS SELECT * FROM _roads_all "
                f"WHERE least(x1, x2) - {r} <= {b!r} AND greatest(x1, x2) + {r} >= {a!r}"
            )
            con.execute(
                f"CREATE OR REPLACE TEMP TABLE _nearest AS {query}" if i == 0
                else f"INSERT INTO _nearest {query}"
            )
        for v in ("addrpnts", "roads"):
            con.execute(f"DROP VIEW {v}")
        return "_nearest"


def write_files(table: pa.Table, dest: Path, n_files: int) -> None:
    """Split `table` into `n_files` parquet files of near-equal row count."""
    dest.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), dest / f"part-{i:05d}.parquet")
