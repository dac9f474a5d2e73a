"""Self-check of the __spark_entry__ driver contract: run every queries()
entry on Spark and its oracle_sql() on DuckDB at the given SF, compare row
count, column names, and an order-insensitive value hash — mirroring the
driver's *pandas-based* canonicalization (VERDICT r3 task #3):

  * both results go through pandas with columns sorted by name,
  * rows are ordered with ``DataFrame.sort_values(by=<all columns>)`` —
    which raises ``TypeError: unhashable type`` on list/array cells exactly
    like the driver's harness does, so gate-incompatible output types
    (e.g. ARRAY columns) fail HERE before the driver ever runs,
  * floats are hashed at FULL precision (``repr``), not ``%.6g`` — the
    r3 ``repetition`` hash mismatch survived the old 6-sig-fig hash.

Usage: python scripts/check_contract.py [sf_dir]
       python scripts/check_contract.py --selftest   # verifies the checker
       itself rejects an array-typed output column and a float-repr drift.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _cell(v) -> str:
    """Stringify one cell the way the driver's hash does: full float repr."""
    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if isinstance(v, np.floating):
        v = float(v)
    if isinstance(v, np.integer):
        v = int(v)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, float):
        # Integral floats (e.g. DuckDB HUGEINT sums surfaced as float64)
        # normalize to the int rendering; fractional floats hash at FULL
        # precision — catches representation drift the old %.6g missed.
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_hash(pdf) -> str:
    """Driver-style canonicalization: sort columns by name, sort rows via
    pandas ``sort_values`` over every column (raises on unhashable cells),
    then hash full-precision stringified values."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        # Raises TypeError: unhashable type on list/dict cells — intended.
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    lines = [
        "\x1f".join(_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def first_diff(spdf, opdf) -> str:
    s_lines = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in spdf[sorted(spdf.columns)].itertuples(index=False, name=None)
    )
    o_lines = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in opdf[sorted(opdf.columns)].itertuples(index=False, name=None)
    )
    for a, b in zip(s_lines, o_lines):
        if a != b:
            return f"first diff:\n  spark : {a[:220]}\n  oracle: {b[:220]}"
    return "diff beyond zipped prefix (row multiset mismatch)"


def compare(name: str, spdf, opdf) -> list[str]:
    problems = []
    if sorted(spdf.columns) != sorted(opdf.columns):
        problems.append(
            f"cols spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}"
        )
    if len(spdf) != len(opdf):
        problems.append(f"rowcount spark={len(spdf)} oracle={len(opdf)}")
    if problems:
        return problems
    try:
        h1 = canon_hash(spdf)
    except TypeError as e:
        return [f"spark output not gate-canonicalizable ({e}) — "
                "array/struct column? serialize it to a string"]
    try:
        h2 = canon_hash(opdf)
    except TypeError as e:
        return [f"oracle output not gate-canonicalizable ({e})"]
    if h1 != h2:
        problems.append("value hash mismatch")
        problems.append(first_diff(spdf, opdf))
    return problems


def selftest() -> None:
    """The checker must reject (a) array-typed output and (b) float values
    that differ only beyond 6 significant figures."""
    import pandas as pd

    arr = pd.DataFrame({"k": [1], "v": [[1, 2, 3]]})
    try:
        canon_hash(arr)
    except TypeError:
        print("selftest: array column rejected — OK")
    else:
        print("selftest FAILED: array column was hashed without error")
        sys.exit(1)

    a = pd.DataFrame({"x": [0.12345678901234]})
    b = pd.DataFrame({"x": [0.12345678901299]})  # same %.6g, different repr
    if canon_hash(a) == canon_hash(b):
        print("selftest FAILED: sub-6-sig-fig float drift not detected")
        sys.exit(1)
    print("selftest: full-precision float hash — OK")
    sys.exit(0)


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--selftest":
        selftest()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import duckdb

    import __spark_entry__ as ent
    from nabu_spark.session import get_spark

    spark = get_spark(app_name="contract-check", cores=8, shuffle_partitions=8)

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = ent.queries()
    # CHECK_ONLY=q1,q2 restricts the run (fast iteration on new queries)
    only = os.environ.get("CHECK_ONLY")
    if only:
        wanted = set(only.split(","))
        missing = wanted - qs.keys()
        if missing:
            raise SystemExit(f"CHECK_ONLY names unknown queries: {sorted(missing)}")
        qs = {k: v for k, v in qs.items() if k in wanted}
    oracles = ent.oracle_sql()
    failed = []
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            # rows-only check, but the output must still canonicalize
            try:
                canon_hash(spdf)
                print(f"OK?  {name}: rows={len(spdf)} (no oracle — rows-only)")
            except TypeError as e:
                print(f"FAIL {name}: rows-only output not canonicalizable ({e})")
                failed.append(name)
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {e}")
            failed.append(name)
            continue
        problems = compare(name, spdf, opdf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"PASS {name}: rows={len(spdf)}")

    # entry smoke
    try:
        edf = ent.entry(spark)
        n = edf.count()
        print(f"ENTRY rows={n} schema={edf.columns}")
        assert n >= 0
    except Exception as e:
        print(f"FAIL entry: {type(e).__name__}: {e}")
        failed.append("entry")

    print("FAILED:", failed if failed else "none")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
