"""``tpch_dag``: six models over generated TPC-H tables, run by
``ModelCollection.run`` in three layers.

* layer 1, three staging models run concurrently: lineitem → parquet
  partitioned by return flag, orders → parquet partitioned by priority,
  customer ⋈ nation → CSV;
* layer 2, two marts join the staged outputs: revenue per nation and
  year, and the top customers per market segment
  (``operators.relational.top_k_per_group``);
* layer 3, a report writes a ``json://`` document and reads it back.

Outputs are checked against a DuckDB replay of the same SQL on the
generated inputs, with exact decimal sums.
"""

from __future__ import annotations

import hashlib
import json
import os
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ayeaye_spark import AccessMode, Connect, Model
from ayeaye_spark.core.collection import ModelCollection
from ayeaye_spark.core.resolver import connector_resolver
from ayeaye_spark.operators import relational

from .common import JobGroupTagged, fresh_dir

DATA = "{perfbench_data}"
OUT = "{perfbench_out}"
STG_LINEITEM = f"parquet://{OUT}/stg_lineitem"
STG_ORDERS = f"parquet://{OUT}/stg_orders"
STG_CUSTOMER = f"csv://{OUT}/stg_customer"
MART_NATION = f"parquet://{OUT}/mart_nation_revenue"
MART_TOP = f"parquet://{OUT}/mart_top_customers"
REPORT = f"json://{OUT}/report.json;indent=2"
STG_CUSTOMER_SCHEMA = "c_custkey BIGINT, c_name STRING, c_mktsegment STRING, n_name STRING"
SHIP_CUTOFF = "1998-09-02"
TOP_K = 10

# TPC-H scale factor 0.05: 7.5k customers, 75k orders, ~300k line items
CUSTOMERS = 7_500
ORDERS = 75_000
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
           "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
           "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM",
           "RUSSIA", "UNITED KINGDOM", "UNITED STATES"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH_1992 = 8035        # days from 1970-01-01 to 1992-01-01
ORDER_DAYS = 2405        # orders until 1998-08-02
FLAG_CUTOFF = 9298       # 1995-06-17: R/A and F before, N and O after


class StageLineitem(JobGroupTagged, Model):
    lineitem = Connect(engine_url=f"parquet://{DATA}/lineitem.parquet")
    staged = Connect(engine_url=STG_LINEITEM, access=AccessMode.WRITE,
                     partition_by=["l_returnflag"])

    def build(self):
        li = self.lineitem.df.where(F.col("l_shipdate") <= F.lit(SHIP_CUTOFF).cast("date"))
        net = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
        self.staged.write(li.select("l_orderkey", "l_linenumber", "l_returnflag",
                                    "l_linestatus", "l_quantity", net.alias("l_net")))


class StageOrders(JobGroupTagged, Model):
    orders = Connect(engine_url=f"parquet://{DATA}/orders.parquet")
    staged = Connect(engine_url=STG_ORDERS, access=AccessMode.WRITE,
                     partition_by=["o_orderpriority"])

    def build(self):
        self.staged.write(self.orders.df.select(
            "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"),
            "o_orderpriority"))


class StageCustomer(JobGroupTagged, Model):
    customer = Connect(engine_url=f"parquet://{DATA}/customer.parquet")
    nation = Connect(engine_url=f"parquet://{DATA}/nation.parquet")
    staged = Connect(engine_url=STG_CUSTOMER, access=AccessMode.WRITE)

    def build(self):
        joined = self.customer.df.join(
            F.broadcast(self.nation.df), F.col("c_nationkey") == F.col("n_nationkey"))
        self.staged.write(joined.select("c_custkey", "c_name", "c_mktsegment", "n_name"))


def _net_by_order(lineitem, orders):
    return lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))


class MartNationRevenue(JobGroupTagged, Model):
    lineitem = Connect(engine_url=STG_LINEITEM)
    orders = Connect(engine_url=STG_ORDERS)
    customer = Connect(engine_url=STG_CUSTOMER, schema=STG_CUSTOMER_SCHEMA)
    mart = Connect(engine_url=MART_NATION, access=AccessMode.WRITE)

    def build(self):
        joined = _net_by_order(self.lineitem.df, self.orders.df).join(
            self.customer.df, F.col("o_custkey") == F.col("c_custkey"))
        self.mart.write(joined.groupBy("n_name", "o_year").agg(
            F.sum("l_net").alias("revenue"), F.count(F.lit(1)).alias("lines")))


class MartTopCustomers(JobGroupTagged, Model):
    lineitem = Connect(engine_url=STG_LINEITEM)
    orders = Connect(engine_url=STG_ORDERS)
    customer = Connect(engine_url=STG_CUSTOMER, schema=STG_CUSTOMER_SCHEMA)
    mart = Connect(engine_url=MART_TOP, access=AccessMode.WRITE)

    def build(self):
        revenue = _net_by_order(self.lineitem.df, self.orders.df).groupBy(
            F.col("o_custkey").alias("c_custkey")).agg(F.sum("l_net").alias("revenue"))
        ranked = relational.top_k_per_group(
            revenue.join(self.customer.df, "c_custkey"), ["c_mktsegment"], "revenue", TOP_K,
            tiebreak_cols=["c_custkey"])
        self.mart.write(ranked.select("c_mktsegment", "rank", "c_custkey", "c_name", "revenue"))


class Report(JobGroupTagged, Model):
    nation_revenue = Connect(engine_url=MART_NATION)
    top_customers = Connect(engine_url=MART_TOP)
    report = Connect(engine_url=REPORT, access=AccessMode.READWRITE)

    def build(self):
        by_nation = self.nation_revenue.df.groupBy("n_name").agg(
            F.sum("revenue").alias("revenue")).orderBy(F.desc("revenue"), "n_name").collect()
        leaders = self.top_customers.df.where(F.col("rank") == 1).orderBy(
            "c_mktsegment").collect()
        self.written = {
            "total_revenue": str(sum((r["revenue"] for r in by_nation), Decimal(0))),
            "nations": len(by_nation),
            "top_nations": [[r["n_name"], str(r["revenue"])] for r in by_nation[:5]],
            "segment_leaders": [[r["c_mktsegment"], r["c_custkey"], str(r["revenue"])]
                                for r in leaders],
        }
        self.report.data = self.written

    def post_build_check(self) -> bool:
        reread = Connect(engine_url=REPORT).handle(self.spark).data.as_native()
        if reread != self.written:
            self.log(f"report read back as {reread}, wrote {self.written}", "ERROR")
            return False
        return True


MODELS = [StageLineitem, StageOrders, StageCustomer, MartNationRevenue, MartTopCustomers, Report]


def decimal_array(unscaled: np.ndarray, precision: int, scale: int) -> pa.Array:
    """Non-negative unscaled int64 values → an Arrow decimal128 column
    (the 16-byte little-endian layout, without per-value Python objects)."""
    if unscaled.size and unscaled.min() < 0:
        raise ValueError("decimal_array takes non-negative values only")
    words = np.zeros((unscaled.size, 2), dtype="<i8")
    words[:, 0] = unscaled
    return pa.Array.from_buffers(pa.decimal128(precision, scale), unscaled.size,
                                 [None, pa.py_buffer(words.tobytes())])


def _generate(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(len(NATIONS), dtype=np.int64)),
        "n_name": NATIONS,
        "n_regionkey": pa.array(np.arange(len(NATIONS), dtype=np.int64) % 5),
    })
    custkeys = np.arange(1, CUSTOMERS + 1, dtype=np.int64)
    customer = pa.table({
        "c_custkey": custkeys,
        "c_name": [f"Customer#{k:09d}" for k in custkeys],
        "c_nationkey": rng.integers(0, len(NATIONS), CUSTOMERS, dtype=np.int64),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), CUSTOMERS)]),
        "c_acctbal": decimal_array(rng.integers(0, 1_000_000, CUSTOMERS), 12, 2),
    })
    orderkeys = np.arange(1, ORDERS + 1, dtype=np.int64)
    order_day = rng.integers(0, ORDER_DAYS, ORDERS).astype(np.int32) + EPOCH_1992
    orders = pa.table({
        "o_orderkey": orderkeys,
        "o_custkey": rng.integers(1, CUSTOMERS + 1, ORDERS, dtype=np.int64),
        "o_orderdate": pa.array(order_day, pa.date32()),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, ORDERS)]),
    })
    lines_per_order = rng.integers(1, 8, ORDERS)
    n = int(lines_per_order.sum())
    l_order = np.repeat(orderkeys, lines_per_order)
    starts = np.cumsum(lines_per_order) - lines_per_order
    l_number = np.arange(n) - np.repeat(starts, lines_per_order) + 1
    ship_day = np.repeat(order_day, lines_per_order) + rng.integers(1, 122, n).astype(np.int32)
    quantity = rng.integers(1, 51, n)
    price = rng.integers(90_000, 200_001, n)  # unit price in cents
    returned = rng.integers(0, 2, n)
    early = ship_day <= FLAG_CUTOFF
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_linenumber": l_number.astype(np.int32),
        "l_quantity": decimal_array(quantity * 100, 12, 2),
        "l_extendedprice": decimal_array(quantity * price, 12, 2),
        "l_discount": decimal_array(rng.integers(0, 11, n), 12, 2),
        "l_tax": decimal_array(rng.integers(0, 9, n), 12, 2),
        "l_returnflag": pa.array(np.where(early, np.where(returned == 1, "R", "A"), "N")),
        "l_linestatus": pa.array(np.where(early, "F", "O")),
        "l_shipdate": pa.array(ship_day, pa.date32()),
    })
    return {"nation": nation, "customer": customer, "orders": orders, "lineitem": lineitem}


REPLAY_NATION = f"""
    SELECT n_name, year(o_orderdate) AS o_year,
           SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS revenue,
           COUNT(*) AS lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE l_shipdate <= DATE '{SHIP_CUTOFF}'
    GROUP BY ALL
"""
REPLAY_TOP = f"""
    WITH rev AS (
        SELECT o_custkey AS c_custkey,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate <= DATE '{SHIP_CUTOFF}'
        GROUP BY ALL)
    SELECT * FROM (
        SELECT c_mktsegment,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY revenue DESC, c_custkey) AS rank,
               c_custkey, c_name, revenue
        FROM rev JOIN customer USING (c_custkey))
    WHERE rank <= {TOP_K}
"""


class TpchDag:
    name = "tpch_dag"
    # untimed iterations after the cold one: iterations keep speeding up
    # for about ten more while the JIT compiles (the first at ~1.7x the
    # plateau).  Timing that slope would tie the median to how fast it
    # falls, which differs from JVM to JVM.
    warmup = 8
    min_warm = 4
    model_classes = MODELS
    subtask_methods: dict = {}

    def __init__(self, work_dir: str, cores: int):
        self.data_dir = os.path.join(work_dir, "data")
        self.out_dir = os.path.join(work_dir, "out")
        self.collection = ModelCollection(MODELS)
        self.layers = [sorted(c.__name__ for c in layer) for layer in self.collection.run_order()]
        widest = max(len(layer) for layer in self.layers)
        if widest > cores:
            raise RuntimeError(f"tpch_dag runs {widest} models at once; it needs {widest} cores")

    def generate(self, seed: int) -> tuple[int, str]:
        fresh_dir(self.data_dir)
        digest = hashlib.sha256()
        rows = 0
        for name, table in _generate(seed).items():
            pq.write_table(table, os.path.join(self.data_dir, f"{name}.parquet"))
            rows += table.num_rows
            for col in table.columns:
                for buf in col.combine_chunks().buffers():
                    if buf is not None:
                        digest.update(buf)
        return rows, digest.hexdigest()

    def prepare(self) -> None:
        con = duckdb.connect()
        for name in ("nation", "customer", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.data_dir, name)}.parquet')")
        self.expected_nation = sorted(con.execute(REPLAY_NATION).fetchall())
        self.expected_top = sorted(con.execute(REPLAY_TOP).fetchall())
        con.close()

    def run_once(self, spark) -> tuple[int, int]:
        """One pipeline run through ``ModelCollection.run``: (go calls
        attempted, go calls failed)."""
        with connector_resolver.context(perfbench_data=self.data_dir, perfbench_out=self.out_dir):
            try:
                executed = self.collection.run(spark)
            except RuntimeError:
                return len(MODELS), 1
        return len(executed), 0

    def verify(self) -> list[str]:
        errors = []
        con = duckdb.connect()
        got_nation = sorted(con.execute(
            "SELECT n_name, o_year, revenue, lines FROM "
            f"read_parquet('{self.out_dir}/mart_nation_revenue/*.parquet')").fetchall())
        if got_nation != self.expected_nation:
            errors.append(f"mart_nation_revenue differs from the DuckDB replay "
                          f"({len(got_nation)} vs {len(self.expected_nation)} rows)")
        got_top = sorted(con.execute(
            "SELECT c_mktsegment, rank, c_custkey, c_name, revenue FROM "
            f"read_parquet('{self.out_dir}/mart_top_customers/*.parquet')").fetchall())
        if got_top != self.expected_top:
            errors.append(f"mart_top_customers differs from the DuckDB replay "
                          f"({len(got_top)} vs {len(self.expected_top)} rows)")
        con.close()
        with open(os.path.join(self.out_dir, "report.json")) as f:
            report = json.load(f)
        total = sum((r[2] for r in self.expected_nation), Decimal(0))
        if Decimal(report["total_revenue"]) != total:
            errors.append(f"report total {report['total_revenue']} != replay {total}")
        return errors
