"""TeraValidate-style invariant tests for the terasort module
(SURVEY.md §5b #4): order within partitions, order between partitions,
count and content preserved — invariants, not golden files."""

from __future__ import annotations

import os
import random

import pytest

from terasort_spark.sources.teragen import (
    KEY_LEN,
    RECORD_LEN,
    VALUE_LEN,
    checksum,
    read_tera_files,
    teragen,
    terasort,
    teravalidate,
    write_tera_files,
)

N = 200_000
PARTS = 16


def test_teragen_shape_and_determinism(spark):
    df = teragen(spark, 1000, n_partitions=4)
    rows = df.collect()
    assert len(rows) == 1000
    assert all(len(r["key"]) == KEY_LEN for r in rows)
    assert all(len(r["value"]) == VALUE_LEN for r in rows)
    assert all(all(0x20 <= b <= 0x7E for b in r["key"]) for r in rows)
    # regenerating with a different partitioning yields identical content
    again = sorted(bytes(r["key"]) for r in teragen(spark, 1000, n_partitions=7).collect())
    assert sorted(bytes(r["key"]) for r in rows) == again


def test_terasort_total_order_and_content(spark):
    gen = teragen(spark, N, n_partitions=PARTS)
    in_checksum = checksum(gen)
    out = terasort(gen, n_partitions=PARTS)
    report = teravalidate(out)
    assert report["n_rows"] == N
    assert report["sorted_within"], report
    assert report["sorted_between"], report
    assert checksum(out) == in_checksum  # permutation, nothing lost/changed
    assert report["checksum"] == in_checksum  # the same sum, in the one pass
    sizes = report["partition_sizes"]
    assert len(sizes) == PARTS and sum(sizes) == N
    assert report["skew"] == round(max(sizes) / (N / PARTS), 4) >= 1.0


def test_teravalidate_checks_partition_index_order(spark):
    """Two internally sorted partitions whose INDEX order is not sorted
    (first keys 0900 then 0100) must fail the between-partition check:
    the part files concatenate in index order, so re-ordering the
    partitions by first key would accept a swapped output."""
    rows = [(k.encode(), b"v") for k in ("0900", "0950", "0100", "0150", "0170")]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), "key binary, value binary"
    )
    report = teravalidate(df)
    assert report["sorted_within"], report
    assert report["sorted_between"] is False, report
    assert report["partition_sizes"] == [2, 3] and report["skew"] == 1.2


def test_terasort_plan_uses_range_exchange(spark):
    out = terasort(teragen(spark, 1000, n_partitions=4), n_partitions=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan

def test_tera_file_roundtrip(spark, tmp_path):
    """The reference's actual sink contract (VERDICT r1 gap #2): sorted
    100-byte records → fixed-width binary part files on disk → re-read
    via binaryRecords → TeraValidate holds ACROSS the file boundary and
    the content checksum survives the round trip."""
    n, parts = 50_000, 8
    gen = teragen(spark, n, n_partitions=4)
    in_checksum = checksum(gen)
    out_dir = str(tmp_path / "tera_out")
    paths = write_tera_files(terasort(gen, n_partitions=parts), out_dir)

    # file-level contract: one file per partition, raw 100-byte framing
    assert len(paths) == parts
    sizes = [os.path.getsize(p) for p in paths]
    assert all(s % RECORD_LEN == 0 for s in sizes)
    assert sum(sizes) == n * RECORD_LEN

    # concatenating files in name order must be globally sorted: check
    # boundary records of adjacent files (first/last 100 bytes each)
    prev_last = None
    for p in paths:
        if os.path.getsize(p) == 0:
            continue
        with open(p, "rb") as f:
            first = f.read(RECORD_LEN)[:10]
            f.seek(-RECORD_LEN, os.SEEK_END)
            last = f.read(RECORD_LEN)[:10]
        assert first <= last
        if prev_last is not None:
            assert prev_last <= first, (prev_last, first)
        prev_last = last

    # re-read distributed: count, checksum, and full TeraValidate again
    back = read_tera_files(spark, out_dir)
    assert back.count() == n
    assert checksum(back) == in_checksum
    report = teravalidate(back)
    assert report["n_rows"] == n
    assert report["sorted_within"] and report["sorted_between"], report


def test_terasort_query_correct_without_exchange_reuse(spark):
    """The declared `terasort` query's global index must NOT depend on
    Spark deduping the two canonically-identical range exchanges (r6
    VERDICT task 2): the offsets branch derives from the SAME
    localCheckpointed `tagged` RDD as the output branch, so turning
    exchange reuse (and AQE) OFF must still produce idx == the
    row_number a total sort would assign. If either branch ever
    re-sampled range boundaries independently, idx would misalign and
    this check fails."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from terasort_spark.sources.tera_queries import terasort_query

    saved = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.exchange.reuse", "spark.sql.adaptive.enabled")
    }
    try:
        spark.conf.set("spark.sql.exchange.reuse", "false")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        out = terasort_query(spark, sf_dir=None)
        expected = F.row_number().over(Window.orderBy("key", "id")) - 1
        bad = out.withColumn("want", expected.cast("long")).filter(
            F.col("idx") != F.col("want")
        )
        assert bad.count() == 0
        assert out.count() == 100_000
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_teragen_datasource_plugin(spark):
    """The custom Python DataSource (connector-plugin surface): reader
    plans its own id-range partitions, generates deterministically on
    executors, and feeds the standard terasort pipeline unchanged."""
    from pyspark.sql import functions as F

    from terasort_spark.sources.teragen_ds import TeraGenDataSource, _record

    spark.dataSource.register(TeraGenDataSource)
    df = (
        spark.read.format("teragen")
        .option("rows", 20_000)
        .option("partitions", 7)
        .load()
    )
    assert df.rdd.getNumPartitions() == 7
    assert df.count() == 20_000

    # deterministic at a DIFFERENT partition count: same multiset
    df2 = (
        spark.read.format("teragen")
        .option("rows", 20_000)
        .option("partitions", 3)
        .load()
    )
    assert checksum(df) == checksum(df2)

    # row shape matches the GraySort contract and the local generator
    row = df.filter(F.col("value") == "0".zfill(32).ljust(90, "X").encode()).first()
    assert row is not None and bytes(row.key) == _record(0, 42)[0]

    # the sort pipeline is source-agnostic
    v = teravalidate(terasort(df, n_partitions=5))
    assert v["n_rows"] == 20_000
    assert v["sorted_within"] and v["sorted_between"]


def test_tera_files_roundtrip_is_byte_exact(spark, tmp_path):
    """Arbitrary bytes, 0x00 and 0xFF included, survive the Arrow
    writer and the JVM-side reader: the part files, and the rows read
    back, are the sorted input byte for byte."""
    rng = random.Random(7)
    keys = {b"\x00" * KEY_LEN, b"\xff" * KEY_LEN, b"\x00\xff" * (KEY_LEN // 2)}
    while len(keys) < 1000:
        keys.add(rng.randbytes(KEY_LEN))
    records = [k + rng.randbytes(VALUE_LEN) for k in keys]
    df = spark.createDataFrame(
        [(r[:KEY_LEN], r[KEY_LEN:]) for r in records], "key binary, value binary"
    )
    out_dir = str(tmp_path / "bytes")
    paths = write_tera_files(terasort(df, 4), out_dir)

    expected = b"".join(sorted(records))
    assert len(paths) == 4
    on_disk = b""
    for p in paths:
        with open(p, "rb") as f:
            on_disk += f.read()
    assert on_disk == expected
    back = read_tera_files(spark, out_dir).collect()
    assert b"".join(bytes(r["key"]) + bytes(r["value"]) for r in back) == expected


def test_write_tera_files_keeps_empty_partitions(spark, tmp_path):
    """Every partition writes its part file, an empty one a zero-byte
    file, so the file count is the partition count."""
    paths = write_tera_files(teragen(spark, 3, 1).repartition(8), str(tmp_path / "e"))
    assert [os.path.basename(p) for p in paths] == [f"part-{i:05d}.dat" for i in range(8)]
    sizes = [os.path.getsize(p) for p in paths]
    assert sorted(sizes) == [0] * 5 + [RECORD_LEN] * 3, sizes


@pytest.mark.parametrize(
    "key,value,message",
    [
        (b"123456789", b"x" * VALUE_LEN, "key is not 10 bytes"),
        (b"1234567890", b"x" * (VALUE_LEN + 1), "value is not 90 bytes"),
        (None, b"x" * VALUE_LEN, "key is null"),
        (b"1234567890", None, "value is null"),
    ],
    ids=["short_key", "long_value", "null_key", "null_value"],
)
def test_write_tera_files_rejects_misframed_records(spark, tmp_path, key, value, message):
    """A record that is not exactly 10 + 90 bytes would shift every later
    record in its file off the 100-byte framing; the writer refuses it
    instead of writing it."""
    df = spark.createDataFrame([(key, value)], "key binary, value binary")
    with pytest.raises(Exception, match=f"ValueError: tera record {message}"):
        write_tera_files(df, str(tmp_path / "bad"))


def test_read_tera_files_rejects_partial_record(spark, tmp_path):
    """A part file whose size is not a multiple of 100 bytes holds a
    torn record: the read fails instead of dropping or padding it."""
    out_dir = tmp_path / "torn"
    out_dir.mkdir()
    (out_dir / "part-00000.dat").write_bytes(b"k" * (RECORD_LEN + RECORD_LEN // 2))
    with pytest.raises(Exception, match="EOFException"):
        read_tera_files(spark, str(out_dir)).count()


def test_read_tera_files_runs_without_python_worker(spark, tmp_path):
    """The reader builds its rows in the JVM: no PythonRDD in the
    lineage, so reading a directory starts no Python stage."""
    out_dir = str(tmp_path / "lineage")
    write_tera_files(teragen(spark, 100, 2), out_dir)
    df = read_tera_files(spark, out_dir)
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
    assert df.count() == 100
