"""Expected batch results from DuckDB, and the comparison against them.

Each oracle/<query>.sql runs over the same parquet files the program reads.
The comparison follows the catalog's oracle rules: columns sorted by name,
the same row count, and every value equal (floats bit-for-bit, NaN equal
to NaN), row by row in order."""
import glob
import os

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))


def sql(name):
    with open(os.path.join(HERE, "oracle", f"{name}.sql")) as f:
        return f.read()


def expected(data_dir, names, tables):
    """Runs each query's SQL; returns {name: arrow table}."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return {n: con.execute(sql(n)).fetch_arrow_table() for n in names}


def compare(got, want):
    """None when the tables match, else what differs."""
    gcols, wcols = sorted(got.column_names), sorted(want.column_names)
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if got.num_rows != want.num_rows:
        return f"rows {got.num_rows} != {want.num_rows}"
    for c in gcols:
        for i, (a, b) in enumerate(zip(got.column(c).to_pylist(), want.column(c).to_pylist())):
            same = (a == b) or (isinstance(a, float) and isinstance(b, float) and a != a and b != b)
            if not same:
                return f"column {c} row {i}: got {a!r}, want {b!r}"
    return None


def read_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pq.read_table(files[0]) if files else None
