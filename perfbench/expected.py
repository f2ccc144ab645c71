"""Regenerate ``expected.json``: the digest of every catalog query on
the benchmark's sf0.01 tables, each first checked against its DuckDB
twin from ``linkmerce_spark.oracles.ORACLES``.

A query is written only when its Spark rows equal the twin's rows
after canonicalization (column order, row order and value types
normalized by ``tools.check_oracle.canon_rows``); a query
that fails the twin check is reported and left out, so the benchmark
counts it as failed.

Run from the repository root:

    python3 perfbench/expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
OUT = os.path.join(HERE, "expected.json")


def main() -> int:
    sys.path.insert(0, os.path.dirname(HERE))
    import duckdb

    from digest import digest
    from linkmerce_spark.frames import STAR_TABLES
    from linkmerce_spark.oracles import ORACLES
    from linkmerce_spark.queries import QUERIES
    from linkmerce_spark.session import get_spark
    from tools.check_oracle import canon_rows

    spark = get_spark("perfbench-expected")
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    expected, failed = {}, []
    for name, fn in QUERIES.items():
        df = fn(spark, DATA)
        got = canon_rows(df.columns, [tuple(r) for r in df.collect()])
        res = con.execute(ORACLES[name])
        want = canon_rows([d[0] for d in res.description], res.fetchall())
        if got != want:
            failed.append(name)
            print(f"FAIL {name}: differs from its DuckDB twin", flush=True)
            continue
        expected[name] = digest(df)
        print(f"ok   {name} ({len(got[1])} rows)", flush=True)
    with open(OUT, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(expected)}/{len(QUERIES)} verified; wrote {OUT}")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
