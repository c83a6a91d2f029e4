"""Local correctness harness mimicking the driver's DuckDB-oracle compare.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf_dir, then compares row count, sorted column names,
and cell values (exact for non-floats; floats must match bit-exactly, with
the max abs diff reported when they don't — if a float column shows ~1e-9
drift, the query needs the exact-integer aggregation treatment), and the
pandas dtype of every column: the driver's result hash is type-sensitive,
so long-vs-double or HUGEINT drift fails even when every value matches.
datetime64 units (ns vs us) count as equal because the driver normalizes
datetimes before hashing.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda x: None if x is None or x != x else x)
    return df.sort_values(list(df.columns), na_position="first").reset_index(drop=True)


def dtypes(df: pd.DataFrame) -> dict[str, str]:
    return {c: str(df[c].dtype) for c in sorted(df.columns)}


def dtype_problems(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    def unit_free(t: str) -> str:
        return "datetime64" if t.startswith("datetime64") else t

    sdt, odt = dtypes(sdf), dtypes(odf)
    return [
        f"col {c}: dtype spark={sdt[c]} oracle={odt[c]}"
        for c in sdt
        if c in odt and unit_free(sdt[c]) != unit_free(odt[c])
    ]


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Value problems first, then dtype problems; [] when both sides agree."""
    problems = []
    if len(sdf) != len(odf):
        return [f"rowcount spark={len(sdf)} oracle={len(odf)}"]
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        return [f"columns spark={scols} oracle={ocols}"]
    s, o = normalize(sdf), normalize(odf)
    for c in s.columns:
        a, b = s[c], o[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            av = a.astype("float64").to_numpy()
            bv = b.astype("float64").to_numpy()
            both_nan = np.isnan(av) & np.isnan(bv)
            eq = (av == bv) | both_nan
            if not eq.all():
                bad = ~eq
                diffs = np.abs(av[bad] - bv[bad])
                finite = diffs[np.isfinite(diffs)]
                problems.append(
                    f"col {c}: {bad.sum()} float mismatches, max_abs_diff="
                    f"{finite.max() if len(finite) else math.nan:.3e}"
                )
        else:
            an = a.isna()
            bn = b.isna()
            eq = (an & bn) | ((~an) & (~bn) & (a.astype(str) == b.astype(str)))
            if not eq.all():
                i = int(np.argmax(~eq.to_numpy()))
                problems.append(
                    f"col {c}: {(~eq).sum()} mismatches, first at row {i}: "
                    f"spark={a.iloc[i]!r} oracle={b.iloc[i]!r}"
                )
    return problems + dtype_problems(sdf, odf)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession

    # PLAIN session on purpose — mirrors the driver's environment (incl.
    # Spark 4's ANSI-on default) rather than our tuned get_spark().
    # CHECK_SHUFFLE overrides the parallelism for whole-surface
    # partitioning-invariance sweeps (results must not depend on it).
    import os

    shuffle = os.environ.get("CHECK_SHUFFLE", "8")
    spark = (
        SparkSession.builder.appName("check")
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .getOrCreate()
    )
    print("ansi =", spark.conf.get("spark.sql.ansi.enabled"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    import gc

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    # CHECK_JSON=<path>: persist the per-query results so a sweep leaves
    # an auditable artifact (ADVICE r05: judge-session sweeps had no
    # committed evidence). Schema mirrors the console lines.
    results: dict[str, dict] = {}
    json_path = os.environ.get("CHECK_JSON")
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # bench.py's load-bearing gc (see its comment), at LOOP TOP so
        # every path — including the rows_only / oracle_error continues
        # below — gets it: drop the previous iteration's dead DataFrame
        # refs so the ContextCleaner unpersists localCheckpoint blocks.
        # Without it the 280-query sweep accumulates checkpoint storage
        # until a late heavyweight (pj1 at sf0.1) hits
        # UNABLE_TO_ACQUIRE_MEMORY in the plain 1g session (round-10
        # battery red, harness-only cause).
        sdf = None
        gc.collect()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            results[name] = {"status": "spark_error", "detail": str(exc)[:500]}
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(sdf)} (no oracle, rows-only) "
                  f"[{time.time()-t0:.1f}s]")
            results[name] = {"status": "rows_only", "rows": len(sdf),
                             "secs": round(time.time() - t0, 1)}
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {exc}")
            results[name] = {"status": "oracle_error", "detail": str(exc)[:500]}
            failures += 1
            continue
        problems = compare(name, sdf, odf)
        types = {"spark_dtypes": dtypes(sdf), "oracle_dtypes": dtypes(odf)}
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
            only_dtypes = problems == dtype_problems(sdf, odf)
            results[name] = {
                "status": "dtype_mismatch" if only_dtypes else "mismatch",
                "detail": "; ".join(problems)[:500], **types,
            }
        else:
            print(f"ok   {name}: rows={len(sdf)} [{time.time()-t0:.1f}s]")
            results[name] = {"status": "exact_match", "rows": len(sdf),
                             "secs": round(time.time() - t0, 1), **types}
    gc.collect()
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    if json_path:
        import json

        with open(json_path, "w") as f:
            json.dump({"sf_dir": sf_dir, "shuffle_partitions": shuffle,
                       "failures": failures, "results": results}, f, indent=1)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
