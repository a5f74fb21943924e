"""Output checks for the TeraSort workloads, made from outside the package.

A sorted output is correct when it holds exactly the input's records
(row count and an order-insensitive content checksum) and when the
concatenation of its partitions in partition-INDEX order is sorted. The
index order comes from the part-file names or from the task's partition
id; it is never re-derived from the keys, because sorting partition
summaries by their first key would accept two swapped partitions.

The checksum is the package's definition (``sources.teragen.checksum``)
recomputed here record by record: the sum of the first 48 bits of
``md5(key || 0x00 || value)``.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterable, Iterator
from dataclasses import dataclass

KEY_LEN = 10
RECORD_LEN = 100


def record_hash(key: bytes, value: bytes) -> int:
    return int(hashlib.md5(key + b"\x00" + value).hexdigest()[:12], 16)


@dataclass
class PartitionSummary:
    index: int
    n: int
    first: bytes | None
    last: bytes | None
    sorted_within: bool
    checksum: int


def summarize(index: int, records: Iterable[tuple[bytes, bytes]]) -> PartitionSummary:
    n = total = 0
    first = last = None
    ok = True
    for key, value in records:
        if last is not None and key < last:
            ok = False
        if first is None:
            first = key
        last = key
        n += 1
        total += record_hash(key, value)
    return PartitionSummary(index, n, first, last, ok, total)


def file_records(path: str) -> Iterator[tuple[bytes, bytes]]:
    with open(path, "rb") as f:
        data = f.read()
    if len(data) % RECORD_LEN:
        raise ValueError(f"{path}: {len(data)} bytes is not a whole number of records")
    for off in range(0, len(data), RECORD_LEN):
        yield data[off:off + KEY_LEN], data[off + KEY_LEN:off + RECORD_LEN]


def summarize_dir(path: str) -> list[PartitionSummary]:
    """One summary per ``part-NNNNN.dat`` file, indexed by its file name."""
    out = []
    for name in os.listdir(path):
        if name.startswith("part-") and name.endswith(".dat"):
            index = int(name[len("part-"):-len(".dat")])
            out.append(summarize(index, file_records(os.path.join(path, name))))
    return sorted(out, key=lambda s: s.index)


def arrow_partition_summary(batches):
    """``mapInArrow`` body: one summary row for the task's partition, with
    the partition index taken from the task context."""
    import pyarrow as pa
    from pyspark import TaskContext

    def records():
        for batch in batches:
            keys = batch.column("key").to_pylist()
            values = batch.column("value").to_pylist()
            yield from zip(keys, values)

    s = summarize(TaskContext.get().partitionId(), records())
    yield pa.RecordBatch.from_arrays(
        [pa.array([s.index], pa.int32()), pa.array([s.n], pa.int64()),
         pa.array([s.first], pa.binary()), pa.array([s.last], pa.binary()),
         pa.array([s.sorted_within], pa.bool_()), pa.array([str(s.checksum)], pa.string())],
        names=["index", "n", "first", "last", "sorted_within", "checksum"],
    )


ARROW_SUMMARY_SCHEMA = (
    "index int, n long, first binary, last binary, sorted_within boolean, checksum string"
)


def summarize_dataframe(df) -> list[PartitionSummary]:
    rows = df.mapInArrow(arrow_partition_summary, ARROW_SUMMARY_SCHEMA).collect()
    return sorted(
        (PartitionSummary(r["index"], r["n"],
                          bytes(r["first"]) if r["first"] is not None else None,
                          bytes(r["last"]) if r["last"] is not None else None,
                          r["sorted_within"], int(r["checksum"]))
         for r in rows),
        key=lambda s: s.index,
    )


def check_sorted_output(
    parts: list[PartitionSummary], rows: int, checksum: int
) -> list[str]:
    """Errors found in ``parts`` (ordered by partition index) against the
    expected row count and content checksum; empty when the output is a
    sorted permutation of the input."""
    errors = []
    n = sum(p.n for p in parts)
    if n != rows:
        errors.append(f"row count {n} != {rows}")
    got = sum(p.checksum for p in parts)
    if got != checksum:
        errors.append(f"content checksum {got} != input checksum {checksum}")
    for p in parts:
        if not p.sorted_within:
            errors.append(f"partition {p.index} is not sorted")
    filled = [p for p in parts if p.n]
    for a, b in zip(filled, filled[1:]):
        if a.last > b.first:
            errors.append(f"partition {a.index} ends after partition {b.index} starts")
    return errors


def partition_skew(parts: list[PartitionSummary]) -> float:
    """Largest partition's row count over the mean row count."""
    sizes = [p.n for p in parts]
    mean = sum(sizes) / len(sizes)
    return max(sizes) / mean if mean else 0.0
