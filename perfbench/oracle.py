"""The correctness gate, run after the timed loop.

- lake state: the final table read equals ``expected_final_state`` of the
  applied stream (row count + order-insensitive hash);
- point reads: the last round's ``read_for_keys`` rows equal the oracle
  rows for those keys;
- queries: each collected analytics result equals its
  ``queries.ORACLE_SQL`` entry run through DuckDB over the same Parquet
  tables.

Each check returns a list of mismatch descriptions (empty when it
passes); a raised error is the caller's to count.
"""

from __future__ import annotations

import math

import pandas as pd

from perfbench import inputs


def check_state(table, batch_files: list[str], expected: dict | None = None):
    """(mismatches, live rows) for a table against the stream prefix."""
    got = inputs.state_digest(table.read().toPandas())
    if expected is None:
        expected = inputs.state_digest(inputs.oracle_state(batch_files))
    bad = [] if got == expected else [f"state {got} != oracle {expected}"]
    return bad, got["rows"]


def check_point_rows(rows, keys: list[str], batch_files: list[str]) -> list[str]:
    oracle = inputs.oracle_state(batch_files)
    want = inputs.state_digest(oracle[oracle["conv_id"].isin(keys)])
    got = inputs.state_digest(pd.DataFrame([r.asDict() for r in rows]))
    return [] if got == want else [f"point rows {got} != oracle {want}"]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = str(df[c].dtype)
        if dt == "object" or dt.startswith("string"):
            df[c] = df[c].astype(object).where(df[c].notna(), None)
        elif "float" in dt:
            df[c] = df[c].round(9)
        elif dt.startswith(("Int", "UInt", "int", "uint")):
            df[c] = df[c].astype("Int64")
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def check_queries(results: dict, tables: str) -> dict[str, list[str]]:
    """Per query, the mismatches between the collected Spark result and
    the DuckDB oracle."""
    import duckdb

    from etl_pipeline_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in inputs.ANALYTICS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    out: dict[str, list[str]] = {}
    try:
        for name, frame in results.items():
            got = _normalize(frame)
            exp = _normalize(con.execute(ORACLE_SQL[name]).df())
            bad = []
            if list(got.columns) != list(exp.columns):
                bad.append(f"columns {list(got.columns)} != {list(exp.columns)}")
            elif len(got) != len(exp):
                bad.append(f"rows {len(got)} != {len(exp)}")
            else:
                for c in got.columns:
                    diff = [i for i, (a, b) in enumerate(zip(got[c], exp[c]))
                            if not _same(a, b)]
                    if diff:
                        bad.append(f"{c}: {len(diff)} values differ")
            if len(exp) == 0:
                bad.append("oracle result is empty")
            out[name] = bad
    finally:
        con.close()
    return out
