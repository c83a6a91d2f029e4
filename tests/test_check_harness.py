"""The verification harnesses' own rules, without Spark.

``tools/check.py``'s ``compare`` checks values and output dtypes in one
pass (the driver's result hash is type-sensitive), and ``bench.py``
times a named subset but rejects an unknown name before any session
starts.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd

REPO = Path(__file__).resolve().parent.parent

_spec = importlib.util.spec_from_file_location("check", REPO / "tools" / "check.py")
check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check)


def test_equal_frames_have_no_problem():
    df = pd.DataFrame({"k": [2, 1], "v": [0.5, 1.5], "s": ["b", None]})
    assert check.compare("q", df, df.iloc[::-1].copy()) == []


def test_int_vs_float_column_is_one_dtype_problem():
    sdf = pd.DataFrame({"k": [1, 2], "n": [3, 4]})
    odf = pd.DataFrame({"k": [1, 2], "n": [3.0, 4.0]})
    problems = check.compare("q", sdf, odf)
    assert problems == ["col n: dtype spark=int64 oracle=float64"]


def test_datetime_units_count_as_equal():
    ts = pd.to_datetime(["2024-01-01 00:00:01", "2024-01-02 00:00:00"])
    sdf = pd.DataFrame({"ts": ts.astype("datetime64[ns]")})
    odf = pd.DataFrame({"ts": ts.astype("datetime64[us]")})
    assert str(sdf["ts"].dtype) != str(odf["ts"].dtype)
    assert check.compare("q", sdf, odf) == []


def test_rowcount_and_value_messages_are_unchanged():
    one = pd.DataFrame({"k": [1]})
    two = pd.DataFrame({"k": [1, 2]})
    assert check.compare("q", one, two) == ["rowcount spark=1 oracle=2"]

    sdf = pd.DataFrame({"k": [1, 2], "s": ["a", "x"], "f": [0.5, 1.0]})
    odf = pd.DataFrame({"k": [1, 2], "s": ["a", "y"], "f": [0.5, 1.5]})
    assert check.compare("q", sdf, odf) == [
        "col f: 1 float mismatches, max_abs_diff=5.000e-01",
        "col s: 1 mismatches, first at row 1: spark='x' oracle='y'",
    ]


def test_bench_rejects_an_unknown_query_before_spark_starts(tmp_path):
    # JAVA_HOME points nowhere, so a run that got as far as launching the
    # JVM would fail with a gateway error instead of naming the query.
    env = dict(os.environ, JAVA_HOME=str(tmp_path / "no_jvm"),
               SPARK_GRAFT_BENCH_OUT=str(tmp_path / "out.json"))
    proc = subprocess.run(
        [sys.executable, "bench.py", "no_such_query"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode != 0
    assert "unknown query: no_such_query" in proc.stderr
    assert "JAVA_HOME" not in proc.stderr
    assert not (tmp_path / "out.json").exists()
