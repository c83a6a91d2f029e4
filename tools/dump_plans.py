"""Dump `explain("formatted")` for named queries to plans/<dir>/.

Usage: python tools/dump_plans.py <sf_dir> <out_dir> <suffix> <query> [...]

Writes plans/<out_dir>/<query>_<suffix>.txt for each query — the judge's
plan-claim evidence (r13 convention: sf0.01, local[8], shuffle=8 so dumps
are stable and small). NOTE: queries that execute eagerly at construction
(connected-components consumers) pay their compute here; sf0.01 keeps
that cheap.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir, out_dir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
    names = sys.argv[4:]

    import __spark_entry__ as entry_mod
    from etl_oms_spark.session import get_spark

    spark = get_spark("dump-plans", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    base = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", out_dir)
    os.makedirs(base, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        txt = buf.getvalue()
        path = os.path.join(base, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")


if __name__ == "__main__":
    main()
