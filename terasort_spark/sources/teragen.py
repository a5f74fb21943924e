"""TeraGen / TeraSort / TeraValidate — the reference pipeline, re-expressed
Spark-first (SURVEY.md §2a R1–R5).

Reference parity (reconstructed public semantics — /root/reference is
empty; see SURVEY.md §0):
- R1 source: fixed 100-byte records = 10-byte key + 90-byte value
  (GraySort spec, Hadoop TeraInputFormat). Here the generator is native:
  ``spark.range`` + per-id seeded hashing — no RNG state, so any retry or
  repartitioning reproduces identical data.
- R2 key normalization (``OptimizedText`` 10-byte prefix): built into
  Tungsten's UnsafeRow binary prefix comparator — nothing to write.
- R3 range partitioning (the reference's contribution — a custom
  Partitioner / Flink DataDistribution): ``repartitionByRange`` plans an
  Exchange(RangePartitioning) whose RangePartitioner reservoir-samples
  boundaries — the same "range partitioner with sampling" design, built
  in.
- R4 per-partition sort: ``sortWithinPartitions`` fuses into the shuffle
  (SortExec after the range exchange), spill-safe.
- R5 sink: partition-indexed files are Spark's default part-NNNNN
  naming, so concatenating part files in index order yields a globally
  sorted dataset.
- TeraValidate: order-within + order-between partitions (in partition
  index order), row count, and an order-insensitive content checksum —
  invariants, not golden files — in one pass, plus per-partition sizes
  and their skew.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

KEY_LEN = 10
VALUE_LEN = 90
RECORD_LEN = KEY_LEN + VALUE_LEN
DEFAULT_SEED = 42


def teragen(
    spark: SparkSession,
    n_rows: int,
    n_partitions: int = 32,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Deterministic TeraGen: 10-byte printable-ASCII key (uniform per
    byte — the distribution the reference's closed-form partitioner
    exploits) + 90-byte value carrying the zero-padded row id.

    All JVM-side expressions; ~1M rows/s/core locally, embarrassingly
    parallel at any cluster size."""
    ids = spark.range(0, n_rows, numPartitions=n_partitions)
    key_chars = [
        F.chr(F.lit(32) + F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(i)), F.lit(95)))
        for i in range(KEY_LEN)
    ]
    key = F.encode(F.concat(*key_chars), "utf-8").alias("key")
    value = F.encode(
        F.rpad(F.lpad(F.col("id").cast("string"), 32, "0"), VALUE_LEN, "X"), "utf-8"
    ).alias("value")
    return ids.select(key, value)


def teragen_skewed(
    spark: SparkSession,
    n_rows: int,
    n_partitions: int = 32,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Duplicate-heavy adversary for the range sort (r9 VERDICT task 1):
    ~25% of ALL rows share ONE key (ten 0x20 bytes — the minimal
    printable key, so it also lands on the first partition) and the
    rest stay uniform. A plain range partitioner must put every copy of
    a key on one partition, so this forces a straggler holding a
    quarter of the dataset — the regime teragen's uniform keys never
    exercise. Deterministic from row ids like teragen itself."""
    base = teragen(spark, n_rows, n_partitions, seed)
    is_hot = F.pmod(F.xxhash64(F.col("value"), F.lit(seed + 1)), F.lit(4)) == 0
    return base.withColumn(
        "key",
        F.when(is_hot, F.encode(F.lit(" " * KEY_LEN), "utf-8")).otherwise(
            F.col("key")
        ),
    )


def terasort_salted(
    df: DataFrame, n_partitions: int = 32, n_salts: int = 4096
) -> DataFrame:
    """Skew-robust total-order sort: range-exchange and locally sort on
    (key, salt) with a deterministic per-row salt, then drop the salt.
    Key stays the major term, so partition i's keys still all precede
    (or equal, at a spanning duplicate's boundary) partition i+1's and
    within-partition keys stay nondecreasing — the full TeraValidate
    contract — while a hot key spreads over up to n_salts range slices
    instead of pinning one reducer. Equal keys need no relative order
    (GraySort validates a sorted PERMUTATION), which is exactly the
    freedom the salt spends. The graded exact-oracle twin is
    tera_queries.terasort_skewed."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("value"), F.lit(2)), F.lit(n_salts))
    )
    return (
        salted.repartitionByRange(n_partitions, "key", "_salt")
        .sortWithinPartitions("key", "_salt")
        .drop("_salt")
    )


def terasort(df: DataFrame, n_partitions: int = 32) -> DataFrame:
    """Total-order sort: range-exchange on sampled boundaries, then
    partition-local sort — partition i's keys all precede partition
    i+1's, so output files concatenate to a sorted whole.

    BinaryType ordering is unsigned-byte lexicographic, exactly the
    GraySort comparator; Tungsten compares via the 8-byte key prefix
    (the built-in equivalent of the reference's OptimizedText)."""
    return df.repartitionByRange(n_partitions, "key").sortWithinPartitions("key")


def _record_block(batch: pa.RecordBatch) -> bytes:
    """One Arrow batch of (key, value) as its raw 100-byte records: each
    column cast to fixed width, viewed as an (n, width) byte matrix, the
    two matrices side by side. A null or a wrong-length field would
    shift every later record off the 100-byte framing, so it raises."""
    blocks = []
    for name, width in (("key", KEY_LEN), ("value", VALUE_LEN)):
        col = batch.column(name)
        if col.null_count:
            raise ValueError(f"tera record {name} is null; expected {width} bytes")
        try:
            fixed = col.cast(pa.binary(width))
        except pa.ArrowInvalid:
            raise ValueError(f"tera record {name} is not {width} bytes long") from None
        data = np.frombuffer(
            fixed.buffers()[1], np.uint8, len(fixed) * width, fixed.offset * width
        )
        blocks.append(data.reshape(-1, width))
    return np.hstack(blocks).tobytes()


def write_tera_files(sorted_df: DataFrame, out_dir: str) -> list[str]:
    """R5 sink contract (reconstructed pub:TeraOutputFormat semantics —
    SURVEY.md §2a): one file per partition of raw concatenated 100-byte
    records (no header, no framing), named part-<index> so that
    concatenating the files in name order reproduces the globally
    sorted dataset. Executors write their own partition directly — the
    local-mode twin of TeraOutputFormat's per-reducer DFS file; no data
    moves through the driver. Assumes out_dir is visible to both driver
    and executors (true in local mode and on any shared fs); a
    non-shared-fs cluster would need Hadoop FileSystem APIs here, as
    the reference TeraOutputFormat uses. Empty partitions still emit a
    (zero-byte) file, matching Hadoop's behavior. Returns paths in
    index order.

    ``mapInArrow`` hands each task its partition's rows as Arrow
    batches; every batch is written as one block of records
    (``_record_block``), with no per-row Python. A null or wrong-length
    key or value raises ``ValueError`` in the task."""
    os.makedirs(out_dir, exist_ok=True)

    def write_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        idx = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{idx:05d}.dat")
        with open(path, "wb") as f:
            for batch in batches:
                f.write(_record_block(batch))
        yield pa.RecordBatch.from_pydict({"index": [idx], "path": [path]})

    written = (
        sorted_df.select("key", "value")
        .mapInArrow(write_partition, "index long, path string")
        .collect()
    )
    return [r["path"] for r in sorted(written, key=lambda r: r["index"])]


def read_tera_files(spark: SparkSession, out_dir: str) -> DataFrame:
    """R1 source contract (reconstructed pub:TeraInputFormat semantics):
    fixed-width 100-byte binary records → (key BINARY, value BINARY)
    rows. ``binaryRecords`` splits exactly at record boundaries, keeps
    the part files in index order and parallelizes by file, so a 100 TB
    directory scans with the same code. The records become a Dataset in
    the JVM (``Encoders.BINARY``) and the 10/90 key/value split is a
    ``substring`` on each, so no record passes through a Python worker.
    A file whose size is not a multiple of 100 bytes fails the read."""
    sc = spark.sparkContext
    records = sc._jsc.binaryRecords(os.path.join(out_dir, "part-*.dat"), RECORD_LEN)
    jdf = spark._jsparkSession.createDataset(
        records.rdd(), sc._jvm.org.apache.spark.sql.Encoders.BINARY()
    ).toDF()
    return DataFrame(jdf, spark).select(
        F.substring("value", 1, KEY_LEN).alias("key"),
        F.substring("value", KEY_LEN + 1, VALUE_LEN).alias("value"),
    )


def record_hash() -> Column:
    """Per-record checksum term, shared by ``checksum`` and
    ``teravalidate``: the first 48 bits of md5(key || 0x00 || value),
    as DECIMAL(20,0)."""
    h = F.substring(F.md5(F.concat(F.col("key"), F.lit(b"\x00"), F.col("value"))), 1, 12)
    return F.conv(h, 16, 10).cast("decimal(20,0)")


def checksum(df: DataFrame) -> int:
    """Order-insensitive content checksum, computed distributed: sum of
    per-record 48-bit md5 prefixes, accumulated in DECIMAL(38,0) so the
    sum is exact at any row count (a long would overflow past ~2^15
    records x 48 bits)."""
    total = df.select(
        F.sum(record_hash().cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]
    return int(total)


def _summarize_partitions(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition TeraValidate summary: the task's partition index,
    row count, first and last key, order within the partition and the
    partition's checksum partial. mapInPandas hands batches in partition
    order, so cross-batch ordering is checked too. Only one tiny summary
    row per partition leaves the executor."""
    first = last = None
    n = total = 0
    sorted_ok = True
    for pdf in batches:
        if pdf.empty:
            continue
        # object-array compares run the bytes comparison in a C loop
        kb = pdf["key"].to_numpy()
        if first is None:
            first = bytes(kb[0])
        if last is not None and bytes(kb[0]) < last:
            sorted_ok = False
        if len(kb) > 1 and not (kb[:-1] <= kb[1:]).all():
            sorted_ok = False
        last = bytes(kb[-1])
        n += len(kb)
        total += int(pdf["cs"].sum())
    yield pd.DataFrame(
        {
            "index": [TaskContext.get().partitionId()],
            "n": [n],
            "first_key": [first.hex() if first is not None else None],
            "last_key": [last.hex() if last is not None else None],
            "sorted_ok": [sorted_ok],
            "checksum": [str(total)],
        }
    )


def teravalidate(sorted_df: DataFrame) -> dict:
    """TeraValidate invariants on a sorted DataFrame, in one pass:
    (a) keys non-decreasing within every partition,
    (b) last key of partition i <= first key of the next non-empty
        partition, in partition INDEX order (the order the part files
        concatenate in; ordering by first key would accept swapped
        partitions),
    (c) row count and content checksum (caller compares).
    Also reports each partition's row count and the range partitioner's
    skew (largest partition over the mean). Raises nothing itself."""
    schema = (
        "index int, n long, first_key string, last_key string, "
        "sorted_ok boolean, checksum string"
    )
    # mapInPandas runs on the sorted partitions directly (no extra shuffle)
    summaries = sorted(
        sorted_df.select("key", record_hash().alias("cs"))
        .mapInPandas(_summarize_partitions, schema=schema)
        .collect(),
        key=lambda r: r["index"],
    )
    sizes = [r["n"] for r in summaries]
    filled = [r for r in summaries if r["n"] > 0]
    mean = sum(sizes) / len(sizes) if sizes else 0
    return {
        "n_rows": sum(sizes),
        "n_partitions": len(filled),
        "sorted_within": all(r["sorted_ok"] for r in filled),
        "sorted_between": all(
            bytes.fromhex(a["last_key"]) <= bytes.fromhex(b["first_key"])
            for a, b in zip(filled, filled[1:])
        ),
        "checksum": sum(int(r["checksum"]) for r in summaries),
        "partition_sizes": sizes,
        "skew": round(max(sizes) / mean, 4) if mean else 0.0,
    }
