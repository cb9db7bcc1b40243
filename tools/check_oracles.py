"""Local oracle checker — mimics the driver's t2 comparison.

Runs every registry query on Spark and its oracle on DuckDB at the
given sf dir, compares row count, column names/types (loosely), and
order-insensitive values (sorted rows). Usage:

    python tools/check_oracles.py [sf_dir] [only_query ...]

Each ``only_query`` is a full registry name (``q235_leontief_requirements``);
an unknown name is refused before Spark starts.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd


def _kind(s: pd.Series) -> str:
    """Coarse dtype family used for the strict type check.

    The driver's value hash is TYPE-SENSITIVE: DuckDB renders an
    integer ``sum()`` as HUGEINT (float64 once in pandas, '123.0')
    while Spark renders BIGINT ('123'), so identical values hash
    differently.  The old float-coercing compare hid exactly that
    divergence (round-4 q101/q111/q122/q123/q126/q129).  Any
    int-vs-float family mismatch is therefore a FAILURE here, so the
    local replay predicts the driver verdict.
    """
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "object"


def compare(name: str, sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(ddf):
        problems.append(f"rowcount spark={len(sdf)} duck={len(ddf)}")
    scols, dcols = sorted(map(str, sdf.columns)), sorted(map(str, ddf.columns))
    if scols != dcols:
        problems.append(f"columns spark={scols} duck={dcols}")
        return problems
    if problems:
        return problems
    for c in scols:
        sk, dk = _kind(sdf[c]), _kind(ddf[c])
        # All-null columns come back as object/float interchangeably;
        # only flag when both sides actually hold non-null values.
        if sk != dk and sdf[c].notna().any() and ddf[c].notna().any():
            problems.append(
                f"col {c}: STRICT dtype-kind mismatch spark={sdf[c].dtype}"
                f"({sk}) vs duck={ddf[c].dtype}({dk}) — driver hash will differ"
            )
    if problems:
        return problems
    s = sdf[scols].sort_values(scols, kind="mergesort").reset_index(drop=True)
    d = ddf[scols].sort_values(scols, kind="mergesort").reset_index(drop=True)
    for c in scols:
        sv, dv = s[c], d[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
            sa = pd.to_numeric(sv, errors="coerce").to_numpy(dtype=float)
            da = pd.to_numeric(dv, errors="coerce").to_numpy(dtype=float)
            both_nan = np.isnan(sa) & np.isnan(da)
            close = np.isclose(sa, da, rtol=1e-9, atol=1e-8) | both_nan
            if not close.all():
                idx = int(np.argmin(close))
                problems.append(f"col {c}: {int((~close).sum())} diffs, first@{idx}: {sa[idx]} vs {da[idx]}")
        else:
            sv = sv.astype(object).where(pd.notna(sv), None)
            dv = dv.astype(object).where(pd.notna(dv), None)
            neq = [i for i, (x, y) in enumerate(zip(sv, dv)) if x != y]
            if neq:
                i = neq[0]
                problems.append(f"col {c}: {len(neq)} diffs, first@{i}: {sv[i]!r} vs {dv[i]!r}")
    return problems


# DuckDB SQL types whose pandas rendering diverges from Spark's and
# breaks the driver's type-sensitive value hash: HUGEINT (an integer
# SUM left uncast — lands in pandas as float64 '123.0' where Spark's
# BIGINT prints '123'; the round-4 q101/q111/... class), unsigned
# ints, and DECIMAL (object-of-Decimal vs float64).
BANNED_ORACLE_TYPES = (
    "HUGEINT",
    "UHUGEINT",
    "DECIMAL",
    "UBIGINT",
    "UINTEGER",
    "USMALLINT",
    "UTINYINT",
)


def oracle_type_violations(con, registry) -> list[tuple[str, str, str]]:
    """DESCRIBE every oracle (binds, no execution) and return
    (query, column, type) for any column binding to a banned type.
    The cheap CI gate (round-5 VERDICT item 9) that stops the HUGEINT
    class of driver-hash bug at commit time."""
    out = []
    for name, spec in registry.items():
        if not spec.oracle:
            continue
        desc = con.execute(f"DESCRIBE {spec.oracle}").fetchall()
        for col, typ, *_ in desc:
            if typ.upper().startswith(BANNED_ORACLE_TYPES):
                out.append((name, col, typ))
    return out


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--types"]
    types_only = "--types" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    if types_only:
        from ssb_coefficient_maker_spark.queries import REGISTRY
        from ssb_coefficient_maker_spark.sources.loaders import TABLES

        con = duckdb.connect()
        for t in TABLES:
            path = f"{sf_dir}/{t}.parquet"
            src = f"{path}/*.parquet" if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        bad = oracle_type_violations(con, REGISTRY)
        for name, col, typ in bad:
            print(f"FAIL {name}: column {col} binds to {typ} — cast it "
                  f"(e.g. CAST(... AS BIGINT)) or the driver hash diverges")
        n = sum(1 for s in REGISTRY.values() if s.oracle)
        print(f"\n{len(bad)} banned-type columns across {n} oracles")
        return 1 if bad else 0

    from ssb_coefficient_maker_spark.queries import REGISTRY
    from ssb_coefficient_maker_spark.session import get_spark
    from ssb_coefficient_maker_spark.sources.loaders import TABLES

    unknown = sorted(only - set(REGISTRY))
    if unknown:
        # a name that matches no query would check nothing and pass
        print(f"unknown query name(s): {' '.join(unknown)} — give full registry names "
              "(e.g. q235_leontief_requirements)")
        return 2

    spark = get_spark(app_name="check_oracles")
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single files; engine-written layouts
        # (e.g. .scale/sf1) are DIRECTORIES of part files — glob them
        # so the 10x correctness replay works too
        path = f"{sf_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    failures = 0
    for name, spec in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL {name}: spark error: {type(exc).__name__}: {str(exc)[:300]}")
            failures += 1
            continue
        if spec.oracle is None:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            ddf = con.execute(spec.oracle).df()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {type(exc).__name__}: {str(exc)[:300]}")
            failures += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"ok   {name}: {len(sdf)} rows match ({time.time()-t0:.1f}s)")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
