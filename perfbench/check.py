"""Output checks, run untimed after the timed phase.

Panel ops are compared with their ``oracle_sql()`` twin on DuckDB under the
rules of the repository's oracle harness: equal row count, equal sorted
column names, non-float cells equal as strings, float cells bit-equal. The
benchmark keeps its own copy of those rules so that what it counts as
correct cannot drift with the repository's tools. Ops with no oracle are
checked against a result digest pinned for the benchmark's fixed panel data.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

#: sha256 of the canonical rows (see ``digest``) for ops with no oracle, at
#: ``gen.PANEL_SEED`` and the driver panel's scale
PINNED_DIGESTS = {
    "e9_pq_topk": "e9132340d370fa449fe4a6ba8e54f4224f881b44b1e5a0ed35001f29caabdc82",
}


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda x: None if x is None or x != x else x)
    return df.sort_values(list(df.columns), na_position="first").reset_index(drop=True)


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Differences between a Spark result and its oracle; empty if equal."""
    if len(sdf) != len(odf):
        return [f"rowcount spark={len(sdf)} oracle={len(odf)}"]
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    s, o = normalize(sdf), normalize(odf)
    problems = []
    for c in s.columns:
        a, b = s[c], o[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            av = a.astype("float64").to_numpy()
            bv = b.astype("float64").to_numpy()
            eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
        else:
            an, bn = a.isna(), b.isna()
            eq = ((an & bn) | (~an & ~bn & (a.astype(str) == b.astype(str)))).to_numpy()
        if not eq.all():
            problems.append(f"col {c}: {int((~eq).sum())} mismatches")
    return problems


def digest(df: pd.DataFrame) -> str:
    """Order-independent digest: normalized rows, floats to 9 significant
    digits (the last bits of an unaggregated float may differ by platform)."""
    n = normalize(df)
    for c in n.columns:
        if pd.api.types.is_float_dtype(n[c]):
            n[c] = n[c].map(lambda x: f"{x:.9g}")
    text = n.to_csv(index=False)
    return hashlib.sha256(text.encode()).hexdigest()


#: oracle results, reused across runs in one checkout (see ``Oracle``)
CACHE_DIR = os.path.join(".perfbench", "oracle-cache")


class Oracle:
    """DuckDB views over the panel tables, for the ``oracle_sql()`` twins.

    An oracle's result depends only on its SQL and the panel files, so it
    is kept in ``CACHE_DIR`` under a hash of both and reused by later runs
    in the same checkout. Uncached, the driver panel's oracles take about
    18 s on 4 cores (15 s of it ``tp4_release_pipeline``), a third of a
    run; cached, well under a second.
    """

    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        h = hashlib.sha256()
        for t in sorted(tables):
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            with open(path, "rb") as f:
                h.update(f.read())
        self.data_digest = h.hexdigest()

    def expected(self, sql: str) -> pd.DataFrame:
        key = hashlib.sha256((self.data_digest + sql).encode()).hexdigest()
        path = os.path.join(CACHE_DIR, f"{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        df = self.con.execute(sql).df()
        os.makedirs(CACHE_DIR, exist_ok=True)
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df

    def check(self, name: str, result: pd.DataFrame, sql: str | None) -> list[str]:
        if sql is None:
            pinned = PINNED_DIGESTS.get(name)
            if pinned is None:
                return [f"{name}: no oracle and no pinned digest"]
            got = digest(result)
            return [] if got == pinned else [f"{name}: digest {got} != pinned {pinned}"]
        return [f"{name}: {p}" for p in compare(result, self.expected(sql))]

    def close(self) -> None:
        self.con.close()


def check_warehouse(target: str, dims: str, truth: dict) -> list[str]:
    """The warehouse after the last batch holds exactly the generator's
    last-written ``total_mort`` per (disease, country, date), once each."""
    con = duckdb.connect()
    try:
        rows = con.execute(f"""
            SELECT m.nom_maladie, r.nom_region, CAST(f.date AS VARCHAR) AS date,
                   f.total_mort
            FROM read_parquet('{target}/**/*.parquet', hive_partitioning = true) f
            JOIN read_parquet('{dims}/maladie/*.parquet') m USING (id_maladie)
            JOIN read_parquet('{dims}/region/*.parquet') r USING (id_region)
        """).fetchall()
        n_target = con.execute(
            f"SELECT count(*) FROM read_parquet('{target}/**/*.parquet', hive_partitioning = true)"
        ).fetchone()[0]
    finally:
        con.close()
    problems = []
    got = {}
    for disease, country, date, total_mort in rows:
        key = (disease, country, date)
        if key in got:
            problems.append(f"duplicate key {key}")
        got[key] = None if total_mort is None else int(total_mort)
    if n_target != len(rows):
        problems.append(f"{n_target - len(rows)} rows reference no known dimension")
    if len(got) != len(truth):
        problems.append(f"rowcount {len(got)} != expected {len(truth)}")
    wrong = [k for k, v in truth.items() if got.get(k, "missing") != v]
    if wrong:
        k = wrong[0]
        problems.append(f"{len(wrong)} keys with wrong total_mort, e.g. {k}: "
                        f"{got.get(k, 'missing')} != {truth[k]}")
    return problems
