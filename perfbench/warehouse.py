"""Workload ``warehouse_etl``: the goetl pipeline/DAG shape.

Closed loop, one client. One operation is one ``plans.dag`` run over a
TPC-H-shaped star: read four parquet tables, trim/cast/filter, join
lineitem ⋈ orders ⋈ customer ⋈ nation, roll revenue up per (nation,
ship month), keep the top-N months per nation with a window, gate the
cleaned fact table with ``DataQualityValidator`` and write the result
partitioned by nation. The seed draws the parameters once per run, as
qgen does per query stream, and every DAG run re-runs that configured
pipeline, as a scheduled goetl job does. Every written result is
compared with DuckDB over the same files.
"""

from __future__ import annotations

import math
import time

from perfbench import gen
from perfbench.common import TAIL_Q, digest_files, layer_rollup, median, tail, tree_bytes

N_ORDERS = 150_000        # sf0.1: 150k orders, ~600k lineitems, 15k customers
WARMUP_OPS = 6           # on a slow host DAG runs kept speeding up until about the 6th
LI_COLS = ["l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"]


def build_dag(r, tables: dict, p: dict, out: str):
    from pyspark.sql import functions as F

    from goetl_spark.functions import filters as flt
    from goetl_spark.functions import transforms as tf
    from goetl_spark.operators import groupby as gb
    from goetl_spark.operators.join import JoinConfig, join
    from goetl_spark.operators.window import top_n_per_group
    from goetl_spark.plans.dag import DAGBuilder
    from goetl_spark.quality import DataQualityValidator
    from goetl_spark.sinks import write_parquet
    from goetl_spark.sources import read_parquet

    t, spark = r.tracer, r.spark

    def source(name, cols=None):
        return lambda: t.call("sources", read_parquet, spark, tables[name][0], columns=cols)

    def clean_lineitem(ctx):
        df = t.call("functions", tf.trim_space, ctx.input, "l_quantity", "l_shipdate")
        df = t.call("functions", tf.convert_type, df, "l_quantity", "int")
        df = t.call("functions", tf.convert_type, df, "l_shipdate", "date")
        df = df.filter(t.call("functions", flt.between, "l_shipdate",
                              F.lit(p["lo"]).cast("date"), F.lit(p["hi"]).cast("date")))
        df = t.call("functions", tf.add_field, df, "revenue",
                    F.col("l_extendedprice") * (1 - F.col("l_discount")))
        return t.call("functions", tf.add_field, df, "ship_month",
                      F.date_format("l_shipdate", "yyyy-MM"))

    def clean_customer(ctx):
        df = t.call("functions", tf.trim_space, ctx.input, "c_mktsegment")
        return df.filter(t.call("functions", flt.equals, "c_mktsegment", p["segment"]))

    def clean_nation(ctx):
        return ctx.input.filter(t.call("functions", flt.is_in, "n_name", p["nations"]))

    def gate(ctx):
        v = DataQualityValidator(min_records=1, required_fields=["l_orderkey", "revenue"],
                                 max_null_rate={"l_quantity": 0.0, "l_shipdate": 0.0})
        report = t.call("quality", v.validate, ctx.input)
        if not report.passed:
            raise ValueError(f"quality gate failed: {report.violations}")
        return ctx.input

    def enrich(ctx):
        m = ctx.source_map
        df = t.call("operators.join", join, m["gate"], m["orders"], JoinConfig(
            left_keys=["l_orderkey"], right_keys=["o_orderkey"]))
        df = t.call("operators.join", join, df, m["customer"], JoinConfig(
            left_keys=["o_custkey"], right_keys=["c_custkey"]))
        return t.call("operators.join", join, df, m["nation"], JoinConfig(
            left_keys=["c_nationkey"], right_keys=["n_nationkey"], strategy="broadcast"))

    def rollup(ctx):
        rev = t.call("operators.groupby", gb.group_by, ctx.input, ["n_name", "ship_month"],
                     gb.sum_("revenue", "revenue"), gb.count("lines"),
                     gb.sum_("l_quantity", "qty"), ordered=False)
        return t.call("operators.window", top_n_per_group, rev, ["n_name"],
                      [F.desc("revenue"), F.col("ship_month")], p["top_n"])

    def sink(ctx):
        t.call("sinks", write_parquet, ctx.input, out, partition_by=["n_name"])

    return (DAGBuilder("warehouse_etl")
            .add_source("lineitem", source("lineitem", LI_COLS))
            .add_source("orders_raw", source("orders", ["o_orderkey", "o_custkey"]))
            .add_source("customer_raw", source("customer", ["c_custkey", "c_nationkey",
                                                            "c_mktsegment"]))
            .add_source("nation_raw", source("nation", ["n_nationkey", "n_name"]))
            .add_task("clean", clean_lineitem, ["lineitem"])
            .add_task("gate", gate, ["clean"])
            .add_task("orders", lambda ctx: ctx.input, ["orders_raw"])
            .add_task("customer", clean_customer, ["customer_raw"])
            .add_task("nation", clean_nation, ["nation_raw"])
            .add_task("enrich", enrich, ["gate", "orders", "customer", "nation"])
            .add_task("rollup", rollup, ["enrich"])
            .add_task("sink", sink, ["rollup"])
            .build())


ORACLE = """
WITH li AS (
  SELECT l_orderkey, CAST(trim(l_quantity) AS INTEGER) AS q,
         l_extendedprice * (1 - l_discount) AS revenue,
         CAST(trim(l_shipdate) AS DATE) AS sd
  FROM read_parquet($li)),
g AS (
  SELECT n_name, strftime(sd, '%Y-%m') AS ship_month, sum(revenue) AS revenue,
         count(*) AS lines, sum(q) AS qty
  FROM li JOIN read_parquet($orders) o ON l_orderkey = o_orderkey
          JOIN read_parquet($customer) c ON o_custkey = c_custkey
          JOIN read_parquet($nation) n ON c_nationkey = n_nationkey
  WHERE sd BETWEEN CAST($lo AS DATE) AND CAST($hi AS DATE)
    AND trim(c_mktsegment) = $segment AND list_contains($nations, n_name)
  GROUP BY ALL)
SELECT n_name, ship_month, revenue, lines, qty FROM (
  SELECT *, row_number() OVER (PARTITION BY n_name ORDER BY revenue DESC, ship_month) rn
  FROM g) WHERE rn <= $top_n
ORDER BY n_name, ship_month
"""


def oracle(con, tables: dict, p: dict) -> list[tuple]:
    """The rows every DAG run with parameters ``p`` must write, by DuckDB."""
    return con.execute(ORACLE, {
        "li": tables["lineitem"][0], "orders": tables["orders"][0],
        "customer": tables["customer"][0], "nation": tables["nation"][0],
        "lo": p["lo"], "hi": p["hi"], "segment": p["segment"],
        "nations": p["nations"], "top_n": p["top_n"]}).fetchall()


def check(con, want: list[tuple], out: str) -> tuple[int, int, str | None]:
    """Compare one op's written output with the oracle's rows; return
    (rows written, rows expected, error or None)."""
    got = con.execute(
        "SELECT n_name, ship_month, revenue, lines, qty FROM read_parquet($g, "
        "hive_partitioning = true) ORDER BY n_name, ship_month",
        {"g": f"{out}/*/*.parquet"}).fetchall()
    if len(got) != len(want):
        return len(got), len(want), f"{len(got)} rows written, oracle has {len(want)}"
    for a, b in zip(got, want):
        if (a[0], a[1], a[3], a[4]) != (b[0], b[1], b[3], b[4]) or \
                not math.isclose(a[2], b[2], rel_tol=1e-9):
            return len(got), len(want), f"row {a} != oracle {b}"
    return len(got), len(want), None


def run(r):
    import duckdb

    from goetl_spark.plans.dag import DAGExecutor, TaskStatus

    tables = gen.warehouse_tables(r.seed, str(r.workdir / "input"), N_ORDERS)
    r.record["input_digest"] = digest_files([p for p, _ in tables.values()])
    in_rows = sum(n for _, n in tables.values())
    in_bytes = sum(tree_bytes(p)[0] for p, _ in tables.values())
    p = gen.warehouse_params(r.seed)
    r.record["params"] = p
    executor = DAGExecutor()
    ops = []
    # op 0 is the cold first operation and ops 1-5 warm-ups; the timed
    # window of warm ops starts when op 5 ends
    t_start = e0 = None
    while t_start is None or not r.deadline_passed(t_start, len(ops) - WARMUP_OPS):
        i = len(ops)
        out = str(r.workdir / "out" / f"op{i:04d}")
        r.tracer.op = i
        t0 = time.perf_counter()
        with r.tracer.span("plans"):
            results = executor.execute(build_dag(r, tables, p, out))
        lat = time.perf_counter() - t0
        r.attempted += 1
        bad = [f"{k}: {v.metrics.error}" for k, v in results.items()
               if v.status != TaskStatus.SUCCESS]
        if bad:
            r.fail(f"op {i}: {bad[0]}")
        ops.append({"out": out, "lat": lat, "tasks": len(results),
                    "overhead_s": lat - sum(v.metrics.duration for v in results.values()),
                    "retries": sum(v.metrics.attempts - 1 for v in results.values())})
        if len(ops) == WARMUP_OPS:
            t_start, e0 = time.perf_counter(), time.time()
    wall = time.perf_counter() - t_start
    e1 = time.time()
    r.end_window()

    con = duckdb.connect()
    want = oracle(con, tables, p)
    for i, op in enumerate(ops):
        op["rows"], op["expected"], err = check(con, want, op["out"])
        op["bytes"], op["files"] = tree_bytes(op["out"])
        if err:
            r.fail(f"op {i}: {err}")
    con.close()

    warm = ops[WARMUP_OPS:]
    lat = [op["lat"] for op in warm]
    q_tail, beyond = tail(lat)
    r.record.update({
        "ops": len(ops), "lat": [round(op["lat"], 3) for op in ops],
        "rows_written": sum(op["rows"] for op in ops),
        "rows_expected": sum(op["expected"] for op in ops),
        "files_written": sum(op["files"] for op in ops), "input_rows_per_op": in_rows,
        "op_tail": {"quantile": TAIL_Q, "samples": len(lat), "beyond": beyond}})
    e2e = {
        "first_op_s": (ops[0]["lat"], "s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (q_tail, "s"),
        "rows_per_s": (in_rows * len(warm) / wall, "rows/s"),
        "write_amp": (sum(op["bytes"] for op in warm) / (in_bytes * len(warm)), "ratio"),
    }
    layers = {}
    if r.trace:
        n = len(warm)
        layers = layer_rollup(r.spark, r.tracer, e0, e1, n)
        layers.update({f"plans.{k}": sum(op[k] for op in warm) / n
                       for k in ("tasks", "overhead_s", "retries")})
        layers.update({
            "sources.scan_bytes": in_bytes,
            "sinks.write_s": layers["sinks.job_s"],
            "sinks.bytes_written": sum(op["bytes"] for op in warm) / n,
            "sinks.files_written": sum(op["files"] for op in warm) / n,
            "trace.op_p50_s": median(lat),
        })
    return e2e, layers
