"""Local replica of the driver's Spark-vs-DuckDB correctness comparison.

Sorts columns by name, normalizes values (floats rounded, timestamps to
UTC-naive ISO strings, NULL sentinel), hashes the multiset of rows. Used by
tests and by ad-hoc runs so gate regressions surface before the driver does.

STRICTNESS CONTRACT (round-4, VERDICT r3 items 2-3): the replica must be at
least as dtype-sensitive as the driver. The driver hashes pandas cell reprs,
so a DuckDB HUGEINT sum (rendered ``123.0`` via float64) vs a Spark BIGINT
(``123``) is a driver hash FAIL. Round 3's ``_norm_cell`` collapsed both to
``"123"`` through ``%.6g``, masking exactly that failure mode (pr_eval,
kg_tree_scores). Floats therefore now carry an explicit float marker so an
int-vs-float divergence between the two engines can never hash equal here
while failing under the driver.
"""

from __future__ import annotations

import hashlib
import math
from datetime import datetime
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

from nlp_lib_spark.gate import ORACLES, QUERIES, TABLES

# Suffix appended to every float cell so int64 123 and float64 123.0 hash
# differently (the driver's observed sensitivity). Both engines' genuinely-
# float columns still match: the marker is deterministic, not a tiebreak.
_FLOAT_MARK = "\x03f"


def _norm_cell(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, np.floating):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00NULL"
        return f"{v:.6g}" + _FLOAT_MARK
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def dtype_kinds(df: pd.DataFrame) -> dict[str, str]:
    """Numeric-kind map per column (``i``/``u`` int, ``f`` float, ``b``
    bool, ``O`` object, ``M`` datetime) for the cross-engine dtype audit."""
    return {c.lower(): df[c].dtype.kind for c in df.columns}


def frame_hash(df: pd.DataFrame) -> tuple[int, str]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        rows.append("\x01".join(_norm_cell(v) for v in tup))
    rows.sort()
    h = hashlib.md5("\x02".join(rows).encode()).hexdigest()
    return len(rows), h


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def compare_query(spark, sf_dir: str, name: str) -> dict:
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    n_s, h_s = frame_hash(sdf)
    # spark_hash makes sweeps diffable across commits: a refactor that
    # keeps every gate's value must keep every spark_hash
    out = {"name": name, "spark_rows": n_s, "spark_hash": h_s}
    if name not in ORACLES:
        out["status"] = "rows_only"
        return out
    con = duck_connection(sf_dir)
    ddf = con.sql(ORACLES[name]).df()
    con.close()
    n_d, h_d = frame_hash(ddf)
    k_s, k_d = dtype_kinds(sdf), dtype_kinds(ddf)
    # int-vs-float kind drift per shared column: the exact divergence class
    # that fails the driver's hash (HUGEINT->float64 vs BIGINT->int64).
    drift = sorted(c for c in set(k_s) & set(k_d)
                   if {k_s[c], k_d[c]} <= {"i", "u", "f"}
                   and (k_s[c] == "f") != (k_d[c] == "f"))
    out.update({"duck_rows": n_d,
                "schema_match": sorted(map(str.lower, sdf.columns))
                                == sorted(map(str.lower, ddf.columns)),
                "hash_match": h_s == h_d,
                "dtype_drift": drift,
                "status": "ok" if (n_s == n_d and h_s == h_d and not drift)
                          else "MISMATCH"})
    return out


def run_all(spark, sf_dir: str, names=None) -> list[dict]:
    results = []
    for name in (names or QUERIES):
        try:
            results.append(compare_query(spark, sf_dir, name))
        except Exception as e:  # surface, keep going
            results.append({"name": name, "status": "ERROR",
                            "error": f"{type(e).__name__}: {e}"})
    return results
