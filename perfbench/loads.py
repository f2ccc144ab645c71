"""The ``load_incremental`` workload: a seeded daily load cycle.

Each day lands four batches cut from the benchmark's ``orders`` and
``lineitem`` tables, through five writer calls on the load paths of
``linkmerce_spark.sources.writers`` and ``streaming.incremental``:

- ``append``: new orders through ``write_append(keys=...)``. A seeded
  share of rows repeats a key inside the batch with a higher ``rev``
  (the batch keeps the highest), and a share re-sends keys landed on
  earlier days (insert-ignore drops them).
- ``overwrite``: lineitem rows for the next window of ship dates plus a
  late restatement of one earlier date, partitioned by ``ship_d``,
  through ``write_overwrite_where``.
- ``date_batches``: the same batch into a second target through
  ``write_in_date_batches``. Both overwrite paths run every day, so each
  op's latency samples come from one code path.
- ``merge``: new orders plus corrections to orders merged on earlier
  days, through ``write_merge`` (which rewrites the whole target).
- ``incremental``: the day's lineitem file lands in a stream source and
  ``run_incremental_batch`` drains it into per-date totals.

Every run lands the same ``DAYS`` days, so every run and every commit
covers the same target sizes. Targets start empty and grow through the
run. ``replay_check``
replays the days that ran on DuckDB and compares every target.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

APPEND_ROWS = 400      # new orders appended per day
MERGE_ROWS = 300       # new orders merged per day
MERGE_FIXES = 80       # corrections to earlier merged orders per day
DUP_SHARE = 0.1        # in-batch duplicate keys, share of the append batch
RESEND_SHARE = 0.1     # keys re-sent from earlier days, share of the append batch
WINDOW_DAYS = 30       # ship dates restated per day
DAYS = 6               # days landed per run: one cold, one warm-up, then warm ones

OPS = ("append", "overwrite", "date_batches", "merge", "incremental")
TARGETS = {"append": "t_append", "overwrite": "t_lines", "date_batches": "t_lines_b",
           "merge": "t_merge", "incremental": "t_daily"}
# The day's batch file each op reads.
BATCH = {"append": "append", "overwrite": "overwrite", "date_batches": "overwrite",
         "merge": "merge", "incremental": "incremental"}
LINE_COLS = ["l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
             "l_extendedprice", "l_discount", "l_shipdate"]
EVENT_COLS = ["ship_d", "l_orderkey", "l_quantity", "l_extendedprice"]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def generate(seed: int, data_dir: str, out_dir: str) -> None:
    """Write ``DAYS`` days of batches under ``out_dir``."""
    rng = np.random.default_rng(seed)
    orders = pq.read_table(f"{data_dir}/orders.parquet")
    lines = pq.read_table(f"{data_dir}/lineitem.parquet", columns=LINE_COLS)
    ship_d = pc.strftime(lines["l_shipdate"], format="%Y-%m-%d")
    lines = lines.append_column("ship_d", ship_d)
    dates = np.unique(ship_d.to_numpy(zero_copy_only=False))
    n = orders.num_rows
    append_order = rng.permutation(n)
    merge_order = rng.permutation(n)
    for day in range(DAYS):
        new = append_order[day * APPEND_ROWS:(day + 1) * APPEND_ROWS]
        dups = rng.choice(new, int(DUP_SHARE * APPEND_ROWS), replace=False)
        resent = (rng.choice(append_order[:day * APPEND_ROWS], int(RESEND_SHARE * APPEND_ROWS),
                             replace=False) if day else np.array([], dtype=np.int64))
        base = orders.take(np.concatenate([new, resent]))
        base = base.append_column("rev", pa.array(np.zeros(base.num_rows, dtype=np.int32)))
        dup = orders.take(dups)
        dup = dup.set_column(3, "o_totalprice", pc.round(pc.multiply(dup["o_totalprice"], 1.05), 2))
        dup = dup.append_column("rev", pa.array(np.ones(dup.num_rows, dtype=np.int32)))
        append = pa.concat_tables([base, dup])

        fresh = merge_order[day * MERGE_ROWS:(day + 1) * MERGE_ROWS]
        fixes = (rng.choice(merge_order[:day * MERGE_ROWS], MERGE_FIXES, replace=False)
                 if day else np.array([], dtype=np.int64))
        fixed = orders.take(fixes)
        fixed = fixed.set_column(2, "o_orderstatus", pa.array(["F"] * fixed.num_rows, pa.string()))
        fixed = fixed.set_column(3, "o_totalprice", pc.round(pc.multiply(fixed["o_totalprice"], 1.01), 2))
        merge = pa.concat_tables([orders.take(fresh), fixed])

        window = list(dates[day * WINDOW_DAYS:(day + 1) * WINDOW_DAYS])
        batch = lines.filter(pc.is_in(lines["ship_d"], pa.array(window)))
        if day:
            late = dates[rng.integers((day - 1) * WINDOW_DAYS, day * WINDOW_DAYS)]
            restated = lines.filter(pc.equal(lines["ship_d"], late))
            restated = restated.set_column(3, "l_quantity", pc.add(restated["l_quantity"], 1.0))
            batch = pa.concat_tables([restated, batch])

        d = f"{out_dir}/day-{day:03d}"
        for name, table in (("append", append), ("merge", merge), ("overwrite", batch),
                            ("incremental", batch.select(EVENT_COLS))):
            _write(table, f"{d}/{name}.parquet")


class LoadCycle:
    """The targets of one run and the calls that land a day into them."""

    def __init__(self, inputs: str, work: str):
        self.inputs = inputs
        self.stream_src = f"{work}/stream_src"
        self.checkpoint = f"{work}/checkpoint"
        self.paths = {op: f"{work}/{TARGETS[op]}" for op in OPS}
        os.makedirs(self.stream_src, exist_ok=True)

    def batch(self, day: int, op: str) -> str:
        return f"{self.inputs}/day-{day:03d}/{BATCH[op]}.parquet"

    def land(self, day: int) -> None:
        """Make the day's file visible to the stream source."""
        os.replace(self.batch(day, "incremental"), f"{self.stream_src}/day-{day:03d}.parquet")

    def run(self, spark, day: int, op: str) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from linkmerce_spark.sources.writers import (
            write_append, write_in_date_batches, write_merge, write_overwrite_where)
        from linkmerce_spark.streaming.incremental import run_incremental_batch

        target = self.paths[op]
        if op == "incremental":
            schema = T.StructType([
                T.StructField("ship_d", T.StringType()),
                T.StructField("l_orderkey", T.LongType()),
                T.StructField("l_quantity", T.DoubleType()),
                T.StructField("l_extendedprice", T.DoubleType()),
            ])
            run_incremental_batch(
                spark, self.stream_src, schema,
                lambda df: df.groupBy("ship_d").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("l_quantity").alias("qty"),
                    F.sum("l_extendedprice").alias("revenue"),
                ),
                target, "ship_d", self.checkpoint,
            )
            return
        df = spark.read.parquet(self.batch(day, op))
        if op == "append":
            write_append(df, target, keys=["o_orderkey"], order_by=[F.col("rev").desc()])
        elif op == "merge":
            write_merge(df, target, keys=["o_orderkey"])
        elif op == "overwrite":
            write_overwrite_where(df, target, partition_by=["ship_d"])
        else:
            write_in_date_batches(df, target, "l_shipdate", batch_days=WINDOW_DAYS,
                                  partition_by=["ship_d"])

    def incoming(self, day: int, op: str) -> tuple[int, int]:
        """Rows and bytes of the day's batch for ``op``, once it has landed."""
        path = (f"{self.stream_src}/day-{day:03d}.parquet" if op == "incremental"
                else self.batch(day, op))
        return pq.ParquetFile(path).metadata.num_rows, os.path.getsize(path)

    def files_since(self, op: str, t0_ns: int) -> int:
        n = 0
        for root, _dirs, files in os.walk(self.paths[op]):
            for f in files:
                if f.endswith(".parquet") and os.stat(os.path.join(root, f)).st_mtime_ns >= t0_ns:
                    n += 1
        return n


def _replay(con, cycle: LoadCycle, days: int) -> None:
    def src(day, op):
        path = (f"{cycle.stream_src}/day-{day:03d}.parquet" if op == "incremental"
                else cycle.batch(day, op))
        return f"read_parquet('{path}')"

    for day in range(days):
        append = (f"SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
                  f"(PARTITION BY o_orderkey ORDER BY rev DESC) AS rn FROM {src(day, 'append')}) "
                  f"WHERE rn = 1")
        daily = (f"SELECT ship_d, count(*) AS n, sum(l_quantity) AS qty, "
                 f"sum(l_extendedprice) AS revenue FROM {src(day, 'incremental')} GROUP BY ship_d")
        if day == 0:
            con.execute(f"CREATE TABLE t_append AS {append}")
            con.execute(f"CREATE TABLE t_merge AS SELECT * FROM {src(day, 'merge')}")
            con.execute(f"CREATE TABLE t_lines AS SELECT * FROM {src(day, 'overwrite')}")
            con.execute("CREATE TABLE t_lines_b AS SELECT * FROM t_lines")
            con.execute(f"CREATE TABLE t_daily AS {daily}")
            continue
        con.execute(f"INSERT INTO t_append SELECT * FROM ({append}) "
                    f"WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t_append)")
        con.execute(f"DELETE FROM t_merge WHERE o_orderkey IN "
                    f"(SELECT o_orderkey FROM {src(day, 'merge')})")
        con.execute(f"INSERT INTO t_merge SELECT * FROM {src(day, 'merge')}")
        for table in ("t_lines", "t_lines_b"):
            con.execute(f"DELETE FROM {table} WHERE ship_d IN "
                        f"(SELECT ship_d FROM {src(day, 'overwrite')})")
            con.execute(f"INSERT INTO {table} SELECT * FROM {src(day, 'overwrite')}")
        con.execute(f"DELETE FROM t_daily WHERE ship_d IN (SELECT ship_d FROM ({daily}))")
        con.execute(f"INSERT INTO t_daily {daily}")


def _rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted((tuple(r[i] for i in order) for r in res.fetchall()),
                  key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], rows


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def replay_check(cycle: LoadCycle, days: int) -> list[str]:
    """Targets that differ from a DuckDB replay of the first ``days`` days."""
    import duckdb

    con = duckdb.connect()
    _replay(con, cycle, days)
    bad = []
    for op in OPS:
        table = TARGETS[op]
        got = _rows(con, f"SELECT * FROM read_parquet('{cycle.paths[op]}/**/*.parquet', "
                         f"hive_partitioning = true, hive_types_autocast = false)")
        want = _rows(con, f"SELECT * FROM {table}")
        if got[0] != want[0] or len(got[1]) != len(want[1]) or not all(
                _same(x, y) for g, w in zip(got[1], want[1]) for x, y in zip(g, w)):
            bad.append(table)
    con.close()
    return bad
