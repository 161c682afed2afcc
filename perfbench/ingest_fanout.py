"""``ingest_fanout``: a ``PartitionedModel`` (``threads`` distribution)
whose subtasks each ingest one generated shard — CSV, TSV or gzip
NDJSON — with ``required_fields`` and a ``transform_map``, and write it
as parquet with a ``sort_by`` clustered layout.  ``partition_complete``
reads every output back through an id-range filter and writes the slice
as NDJSON; ``post_build_check`` reads that extract back and counts it.

The transform map holds one Column transform (amount → integer cents)
and one per-value Python callable (name normalisation), which runs as
an Arrow-batched Python UDF.  Outputs are checked against the generator
with a row count and an order-independent checksum.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.dataset as pads
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ayeaye_spark import AccessMode, Connect
from ayeaye_spark.core.model import PartitionedModel, PartitionOption
from ayeaye_spark.core.resolver import connector_resolver

from .common import JobGroupTagged, fresh_dir, tag_jobs

DATA = "{perfbench_data}"
OUT = "{perfbench_out}"
FORMATS = ["csv", "tsv", "ndjson"]
SHARDS = 8
ROWS_PER_SHARD = 15_000
REGIONS = ["north", "south", "east", "west", "central", "coast", "hills", "plains"]
FIRST = ["ada", "grace", "alan", "edsger", "barbara", "donald", "ken", "dennis", "leslie",
         "john", "frances", "niklaus"]
LAST = ["lovelace", "hopper", "turing", "dijkstra", "liskov", "knuth", "thompson",
        "ritchie", "lamport", "backus", "allen", "wirth"]
SCHEMA = "id BIGINT, name STRING, amount DECIMAL(12,2), region STRING, qty INT"
REQUIRED = ["id", "name", "amount", "region", "qty"]
RANGE_SHARE = 0.25  # the read-back filter keeps ids in the lowest quarter


def normalize_name(value):
    """Per-value transform: collapse whitespace, upper-case."""
    return None if value is None else " ".join(value.split()).upper()


TRANSFORMS = {
    "amount": lambda c: (c * 100).cast("long"),
    "name": normalize_name,
}


def cores() -> int:
    return int(os.environ["SPARK_GRAFT_CPUS"])


class IngestFanout(JobGroupTagged, PartitionedModel):
    distribution = "threads"
    extract = Connect(engine_url=f"ndjson://{OUT}/range_extract", access=AccessMode.READWRITE)

    shard_urls: list[str] = []
    range_hi = 0
    expected_range_rows = 0

    def partition_plea(self) -> PartitionOption:
        return PartitionOption(minimum=1, maximum=cores(), optimal=cores())

    def build(self) -> None:
        pass  # all the work is in the subtasks

    def partition_slice(self, partition_count: int):
        self.completed: list[int] = []
        return [("ingest_shard", {"shard": i}) for i in range(len(self.shard_urls))]

    def ingest_shard(self, shard: int) -> int:
        tag_jobs(self.spark, type(self).__name__)
        source = Connect(engine_url=self.shard_urls[shard], schema=SCHEMA,
                         required_fields=REQUIRED, transform_map=TRANSFORMS).handle(self.spark)
        df = source.df
        if not hasattr(source.connector, "transform_map"):
            # this connector takes no header contract or transform map:
            # apply the same ones here so every shard lands alike
            missing = [c for c in REQUIRED if c not in df.columns]
            if missing:
                raise ValueError(f"{self.shard_urls[shard]} lacks {missing}")
            df = df.withColumn("amount", TRANSFORMS["amount"](F.col("amount"))).withColumn(
                "name", F.udf(normalize_name, StringType(), useArrow=True)(F.col("name")))
        sink = Connect(engine_url=f"parquet://{OUT}/shards/shard_{shard:02d}",
                       access=AccessMode.WRITE, sort_by=(2, ["id"])).handle(self.spark)
        sink.write(df)
        return shard

    def partition_subtask_complete(self, subtask_method_name, subtask_kwargs,
                                   subtask_return_value) -> None:
        self.completed.append(subtask_return_value)

    def partition_complete(self) -> None:
        ingested = Connect(engine_url=f"parquet://{OUT}/shards/shard_*").handle(self.spark).df
        self.extract.write(ingested.where(F.col("id") < self.range_hi))

    def post_build_check(self) -> bool:
        if sorted(self.completed) != list(range(len(self.shard_urls))):
            self.log(f"subtasks completed: {sorted(self.completed)}", "ERROR")
            return False
        n = self.extract.df.count()
        if n != self.expected_range_rows:
            self.log(f"range extract holds {n} rows, expected {self.expected_range_rows}",
                     "ERROR")
            return False
        return True


def _checksum(ids: np.ndarray, amounts: np.ndarray, qty: np.ndarray, names, regions) -> str:
    """Order-independent: wrapping sums of per-row mixes."""
    with np.errstate(over="ignore"):
        mix = (ids.astype(np.uint64) * np.uint64(1_000_003)
               + amounts.astype(np.uint64) * np.uint64(7919) + qty.astype(np.uint64))
        numeric = int(mix.sum(dtype=np.uint64))
    text = sum(zlib.crc32(f"{n}|{r}".encode()) for n, r in zip(names, regions))
    return f"{numeric:x}-{text:x}"


class IngestFanoutWorkload:
    name = "ingest_fanout"
    # untimed iterations after the cold one: iterations keep speeding up
    # for about five more while the JIT compiles
    warmup = 5
    min_warm = 4
    model_classes = [IngestFanout]
    subtask_methods = {IngestFanout: "ingest_shard"}
    layers: list = []

    def __init__(self, work_dir: str, cores: int):
        self.data_dir = os.path.join(work_dir, "data")
        self.out_dir = os.path.join(work_dir, "out")

    def generate(self, seed: int) -> tuple[int, str]:
        fresh_dir(self.data_dir)
        rng = np.random.default_rng(seed)
        n = SHARDS * ROWS_PER_SHARD
        ids = rng.permutation(n).astype(np.int64)
        first = np.array(FIRST)[rng.integers(0, len(FIRST), n)]
        last = np.array(LAST)[rng.integers(0, len(LAST), n)]
        pad = np.array(["", " ", "  "])[rng.integers(0, 3, n)]
        upper = rng.integers(0, 2, n).astype(bool)
        raw_names = [f"{p}{f.title() if u else f}  {l}{p}"
                     for p, f, l, u in zip(pad, first, last, upper)]
        cents = rng.integers(0, 10_000_000, n)
        amounts = [f"{c // 100}.{c % 100:02d}" for c in cents]
        regions = np.array(REGIONS)[rng.integers(0, len(REGIONS), n)]
        qty = rng.integers(1, 100, n).astype(np.int32)

        urls = []
        for shard in range(SHARDS):
            fmt = FORMATS[shard % len(FORMATS)]
            sl = slice(shard * ROWS_PER_SHARD, (shard + 1) * ROWS_PER_SHARD)
            if fmt == "ndjson":
                path = os.path.join(self.data_dir, f"shard_{shard:02d}.json.gz")
                lines = "".join(
                    f'{{"id":{i},"name":{json.dumps(nm)},"amount":{a},'
                    f'"region":"{r}","qty":{q}}}\n'
                    for i, nm, a, r, q in zip(ids[sl].tolist(), raw_names[sl], amounts[sl],
                                              regions[sl].tolist(), qty[sl].tolist()))
                with gzip.open(path, "wt", compresslevel=1) as f:
                    f.write(lines)
            else:
                path = os.path.join(self.data_dir, f"shard_{shard:02d}.{fmt}")
                table = pa.table({"id": ids[sl], "name": raw_names[sl], "amount": amounts[sl],
                                  "region": regions[sl], "qty": qty[sl]})
                pacsv.write_csv(table, path, pacsv.WriteOptions(
                    delimiter="\t" if fmt == "tsv" else ","))
            urls.append(f"{fmt}://{path}")
        self.shard_urls = urls
        self.range_hi = int(n * RANGE_SHARE)
        self.expected_rows = n
        self.expected_range_rows = int((ids < self.range_hi).sum())
        names = [" ".join(x.split()).upper() for x in raw_names]
        self.expected_checksum = _checksum(ids, cents, qty, names, regions.tolist())
        return n, hashlib.sha256(self.expected_checksum.encode()).hexdigest()

    def prepare(self) -> None:
        IngestFanout.shard_urls = self.shard_urls
        IngestFanout.range_hi = self.range_hi
        IngestFanout.expected_range_rows = self.expected_range_rows

    def run_once(self, spark) -> tuple[int, int]:
        with connector_resolver.context(perfbench_data=self.data_dir, perfbench_out=self.out_dir):
            ok = IngestFanout().go(spark)
        return 1, 0 if ok else 1

    def verify(self) -> list[str]:
        table = pads.dataset(os.path.join(self.out_dir, "shards"), format="parquet").to_table()
        got = _checksum(table.column("id").to_numpy(), table.column("amount").to_numpy(),
                        table.column("qty").to_numpy(), table.column("name").to_pylist(),
                        table.column("region").to_pylist())
        errors = []
        if table.num_rows != self.expected_rows:
            errors.append(f"ingested {table.num_rows} rows, generated {self.expected_rows}")
        if got != self.expected_checksum:
            errors.append(f"checksum {got} != generator's {self.expected_checksum}")
        return errors
