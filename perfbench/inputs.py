"""Seeded benchmark inputs, generated offline from the read-only fixtures.

Every table a workload reads is copied from the package's fixture
directories (the parent of its default ``SPARK_GRAFT_SF_DIR``) with DuckDB,
its rows permuted by ``hash(row number, seed)``.  The program under test sees only the
generated directory, through ``SPARK_GRAFT_SF_DIR``.

Input sizes are chosen against the session's scan-floor gate, which is
on iff the data directory holds at least 2 * cpus * 2 MiB (16 MiB at
local[4]).  The permutation spoils the sort order the fixture files
compress on, so the olap_scan_join tables (sf0.1) weigh about 24 MB,
1.45x the gate, and the llm_dedup_search tables (sf0.01) about 0.2 MB: a
seed moves either by a fraction of a percent, never across the gate.
"""

from __future__ import annotations

import os
import shutil

ROW_GROUP_ROWS = 32768

# name -> (fixture scale, tables).  "warm" is the set-up's warm-up input.
LAYOUT = {
    "warm": ("sf0.001", ("customer", "orders", "lineitem", "nation", "region", "part")),
    "etl_refresh": ("sf0.001", ("part", "orders")),
    "olap_scan_join": (
        "sf0.1",
        ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
         "documents", "embeddings"),
    ),
    "llm_dedup_search": ("sf0.01", ("documents", "embeddings")),
}


def generate(name: str, seed: int, fixtures: str, out: str) -> int:
    """Write the tables of ``name`` for ``seed`` from the fixture root
    ``fixtures`` into ``out``; return the number of rows written."""
    import duckdb

    scale, tables = LAYOUT[name]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rows = 0
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in tables:
            src = f"{fixtures}/{scale}/{t}.parquet"
            cols = ", ".join(
                c for (c,) in con.sql(
                    f"SELECT column_name FROM (DESCRIBE SELECT * FROM '{src}')"
                ).fetchall()
            )
            con.execute(
                f"COPY (SELECT {cols} FROM read_parquet('{src}', file_row_number=true) "
                f"ORDER BY hash(file_row_number, {int(seed)})) TO '{out}/{t}.parquet' "
                f"(FORMAT PARQUET, ROW_GROUP_SIZE {ROW_GROUP_ROWS})"
            )
            rows += con.sql(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0]
    finally:
        con.close()
    return rows


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )
