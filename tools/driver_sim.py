"""Simulate the driver's correctness-gate canonicalization as closely as
possible: run each declared query on Spark and its oracle SQL on DuckDB,
convert both results to pandas, sort columns by name, sort rows by all
columns, and md5-hash the CSV rendering.  A hash match here predicts
that the driver's correctness check of the same query at the same scale
passes: same row count, same schema and the same order-insensitive
value hash as DuckDB's answer.

Usage: python tools/driver_sim.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.oracle_check import duck_connect  # noqa: E402


def _canon(pdf, round_floats: bool = False):
    """Driver-style canonical form: columns sorted by name, rows sorted by
    every column, values rendered via CSV.  With round_floats=True floats
    are rounded to 6 decimals first — used only as a diagnostic to tell
    'float representation noise' apart from genuinely different values."""
    import numpy as np

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(lambda v: "∅" if v is None else str(v))
        elif np.issubdtype(pdf[c].dtype, np.floating):
            pdf[c] = pdf[c].astype("float64")
            if round_floats:
                pdf[c] = pdf[c].round(6)
    pdf = pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def _hash(pdf) -> str:
    return hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()


def check(name: str, spark, con, sf_dir: str) -> bool:
    from torcharrow_spark.queries import ORACLES, QUERIES

    sdf = QUERIES[name](spark, sf_dir)
    spdf = sdf.toPandas()
    if name not in ORACLES:
        print(f"{name}: rows-only ({len(spdf)} rows, no oracle)")
        return True
    dpdf = con.execute(ORACLES[name]).df()

    ok = True
    if sorted(spdf.columns) != sorted(dpdf.columns):
        print(
            f"{name}: SCHEMA MISMATCH spark={sorted(spdf.columns)} "
            f"duck={sorted(dpdf.columns)}"
        )
        ok = False
    if len(spdf) != len(dpdf):
        print(f"{name}: ROWCOUNT MISMATCH spark={len(spdf)} duck={len(dpdf)}")
        ok = False
    if ok:
        try:
            sh, dh = _hash(_canon(spdf)), _hash(_canon(dpdf))
        except TypeError as e:  # unhashable/unsortable column => driver err row
            print(f"{name}: CANONICALIZE ERROR {e}")
            return False
        if sh != dh:
            ok = False
            near = _hash(_canon(spdf, True)) == _hash(_canon(dpdf, True))
            sc, dc = _canon(spdf), _canon(dpdf)
            print(f"{name}: HASH MISMATCH{' (float-repr only)' if near else ''}")
            neq = (sc.astype(str) != dc.astype(str)).any(axis=0)
            for c in sc.columns[neq][:4]:
                mask = sc[c].astype(str) != dc[c].astype(str)
                i = mask.idxmax()
                print(
                    f"   col {c!r} dtype spark={sc[c].dtype} duck={dc[c].dtype} "
                    f"row{i}: spark={sc[c][i]!r} duck={dc[c][i]!r}"
                )
    if ok:
        print(f"{name}: OK ({len(spdf)} rows)")
    return ok


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    import torcharrow_spark as ts
    from torcharrow_spark.queries import QUERIES

    spark = ts.get_session()
    con = duck_connect(sf_dir)
    names = names or list(QUERIES)
    failed = [n for n in names if not check(n, spark, con, sf_dir)]
    print(f"\n{len(names) - len(failed)}/{len(names)} hash-clean")
    if failed:
        print("FAILED:", ", ".join(failed))
        sys.exit(1)


if __name__ == "__main__":
    main()
