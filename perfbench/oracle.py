"""Output checks, run outside the timed region.

Outputs are compared in the canonical form of ``tests/oracle_harness.py``
(column names, then the sorted rows of sorted-by-name columns, floats by
``repr``) against ``oracle_sql()`` run on DuckDB over the same files.
"""

from __future__ import annotations

import csv
import glob
import os

from oracle_harness import _canon_frame, duckdb_connection


def canon_rows(pdf) -> tuple:
    return sorted(pdf.columns), _canon_frame(pdf)


def oracle_rows(sql: str, sf_dir: str) -> tuple:
    con = duckdb_connection(sf_dir)
    try:
        return canon_rows(con.sql(sql).df())
    finally:
        con.close()


def read_tsv(out_dir: str, cols, raw: bool = False):
    """The part files a ``write_tsv`` call left in ``out_dir``: raw bytes,
    or a string-typed frame with the writer's column names."""
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    if raw:
        return b"".join(open(p, "rb").read() for p in parts)
    import pandas as pd

    rows = []
    for p in parts:
        with open(p, encoding="utf-8", newline="") as f:
            rows.extend(csv.reader(f, delimiter="\t"))
    return pd.DataFrame(rows, columns=cols, dtype=object)


def read_parquet(out_dir: str):
    import pyarrow.parquet as pq

    return pq.read_table(out_dir).to_pandas()


def golden_bytes(root: str) -> bytes:
    with open(os.path.join(root, "tests", "fixtures", "smallt_out.txt"), "rb") as f:
        return f.read()
