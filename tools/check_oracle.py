"""Local differential harness mirroring the driver's correctness gate.

Runs every declared Spark query and its DuckDB oracle at a given scale
factor, canonicalizes both results (columns sorted by name, rows sorted
by all columns), and compares values exactly. Queries without an oracle
get a rows-only smoke run.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_data_pipeline_ads_spark.catalog import TABLES
from aws_data_pipeline_ads_spark.queries import REGISTRY
from aws_data_pipeline_ads_spark.session import get_session


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("bool")
        else:
            out[c] = s.astype("string")
    df = pd.DataFrame(out)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _dtype_class(s: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "other"


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    if sorted(a.columns) != sorted(b.columns):
        return f"columns differ: {sorted(a.columns)} vs {sorted(b.columns)}"
    if len(a) != len(b):
        return f"row counts differ: {len(a)} vs {len(b)}"
    # The driver hashes raw string reprs, so an int64-vs-float64 split
    # ("123" vs "123.0") fails there even when values agree. canon()'s
    # per-side coercion used to mask exactly that class of bug (DuckDB
    # HUGEINT -> pandas float64 on q_text_stats); catch it pre-coercion.
    for col in sorted(a.columns):
        ka, kb = _dtype_class(a[col]), _dtype_class(b[col])
        if ka == kb:
            continue
        if ka in ("int", "float", "bool") and kb in ("int", "float", "bool"):
            # any numeric-class split diverges in repr: "123" vs
            # "123.0", "True" vs "1", "True" vs "1.0" — hard fail
            return (
                f"dtype class differs in {col!r}: spark={a[col].dtype} ({ka}) "
                f"vs oracle={b[col].dtype} ({kb}) — driver hash would fail"
            )
        # e.g. Decimal-object vs float64: reprs may still agree; warn only
        print(
            f"    WARN dtype class drift in {col!r}: "
            f"spark={a[col].dtype} ({ka}) vs oracle={b[col].dtype} ({kb})"
        )
    ca, cb = canon(a), canon(b)
    for col in ca.columns:
        va, vb = ca[col].to_numpy(), cb[col].to_numpy()
        if pd.api.types.is_float_dtype(ca[col]):
            eq = np.array_equal(va, vb, equal_nan=True)
            bad = ~((va == vb) | (pd.isna(va) & pd.isna(vb)))
        else:
            # compare NA masks separately, values only where both
            # present — `==` on object arrays RAISES when an element is
            # pd.NA (bool(NA) is ambiguous)
            na_a, na_b = pd.isna(va), pd.isna(vb)
            both = ~na_a & ~na_b
            vals_eq = np.ones(len(va), dtype=bool)
            vals_eq[both] = va[both] == vb[both]
            bad = (na_a != na_b) | ~vals_eq
            eq = not bad.any()
        if not eq:
            mism = np.where(bad)[0][:5]
            detail = [(int(i), va[i], vb[i]) for i in mism]
            return f"values differ in {col!r}: {detail}"
    return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_session("oracle-check", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # HUGEINT lint: DuckDB SUM(BIGINT)/SUM over ints yields HUGEINT,
    # which pandas widens to float64 and the driver hash then sees
    # "123.0" vs Spark's "123". Reject such oracle output columns
    # up front — the fix is CAST(SUM(...) AS BIGINT) in the oracle.
    n_lint = 0
    for name, qd in sorted(REGISTRY.items()):
        if (only and name not in only) or qd.oracle is None:
            continue
        try:
            desc = con.sql(f"DESCRIBE ({qd.oracle})").fetchall()
        except Exception as e:  # noqa: BLE001 — lint only; run reports it
            print(f"  LINT-SKIP {name}: DESCRIBE failed ({e})")
            continue
        for col, typ, *_ in desc:
            if "HUGEINT" in str(typ).upper():
                n_lint += 1
                print(f"  LINT {name}: oracle column {col!r} is {typ} — "
                      f"wrap in CAST(... AS BIGINT)")

    n_pass = n_fail = 0
    for name, qd in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = qd.build(spark, sf_dir).toPandas()
            if qd.oracle is None:
                if len(sdf) == 0:
                    # A rows-only check over a permanently-empty result
                    # verifies nothing — it cannot distinguish a broken
                    # operator from a working one (r7's
                    # q_audio_segments). Empty rows-only = lint.
                    n_lint += 1
                    print(f"  LINT {name}: rows-only query returned 0 "
                          f"rows — unverifiable  ({time.time()-t0:.1f}s)")
                else:
                    print(f"  rows-only {name}: {len(sdf)} rows  "
                          f"({time.time()-t0:.1f}s)")
                n_pass += 1
                continue
            ddf = con.sql(qd.oracle).df()
            err = compare(sdf, ddf)
        except Exception:
            err = traceback.format_exc(limit=20)
        dt = time.time() - t0
        if err:
            n_fail += 1
            print(f"  FAIL {name} ({dt:.1f}s):\n{err}")
        else:
            n_pass += 1
            print(f"  PASS {name}: {len(sdf)} rows  ({dt:.1f}s)")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_lint} lint @ {sf_dir}")
    return 1 if (n_fail or n_lint) else 0


if __name__ == "__main__":
    raise SystemExit(main())
