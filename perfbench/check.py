"""DuckDB check of the outputs a run wrote, on the exact inputs it derived.

The comparison rules are the engine's parity rules, imported from
tools/parity.py: columns sorted by name, rows sorted by every column, then
cell by cell, with nulls and NaNs equal to themselves and numbers compared
exactly as floats.
"""
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from parity import canon, cell_eq  # noqa: E402


def mismatch(duck, spark):
    """None when the frames match, else a one-line reason."""
    duck, spark = canon(duck), canon(spark)
    if list(duck.columns) != list(spark.columns):
        return f"columns duck={list(duck.columns)} spark={list(spark.columns)}"
    if len(duck) != len(spark):
        return f"rows duck={len(duck)} spark={len(spark)}"
    for col in duck.columns:
        for i, (x, y) in enumerate(zip(duck[col].tolist(), spark[col].tolist())):
            if not cell_eq(x, y):
                return f"column {col} row {i}: duck={x!r} spark={y!r}"
    return None


def check_outputs(data_dir: Path, out_dir: Path, oracle: dict, scratch: Path) -> dict:
    """name -> None (match) or the reason it failed, for every oracled call."""
    scratch.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{scratch}'")
    for table in sorted(p.name[: -len(".parquet")] for p in data_dir.glob("*.parquet")):
        con.execute(f"CREATE TABLE {table} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{table}.parquet/*.parquet')")
    results = {}
    for name, sql in sorted(oracle.items()):
        try:
            results[name] = mismatch(con.execute(sql).fetchdf(),
                                     pd.read_parquet(out_dir / name))
        except Exception as e:  # a failing oracle or unreadable output is a failed check
            results[name] = f"{type(e).__name__}: {e}"
    con.close()
    return results
