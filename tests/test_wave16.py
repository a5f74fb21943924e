"""Round-12 wave: streaming Python DataSource (events_replay) and
transformWithState timers."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import scratch_dir
from terasort_spark.registry import queries
from terasort_spark.sources.replay_stream_ds import (
    EventsReplayStreamReader,
    _slice_rows,
    stage_sorted_events,
)

_Q = queries()


@pytest.fixture(scope="module")
def staged(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pyds") / "events_sorted.parquet")
    stage_sorted_events(spark, sf_dir, path)
    return path


def test_reader_offsets_partition_the_table_exactly(staged):
    """Offset bookkeeping: successive read() calls cover [0, n) in
    disjoint contiguous windows and stop advancing at the end."""
    import pyarrow.parquet as pq

    n = pq.ParquetFile(staged).metadata.num_rows
    r = EventsReplayStreamReader({"path": staged, "batchrows": "1000"})
    off = r.initialOffset()
    assert off == {"row": 0}
    seen = 0
    batches = 0
    while True:
        rows, nxt = r.read(off)
        rows = list(rows)
        if nxt == off:
            assert rows == []
            break
        assert nxt["row"] == min(off["row"] + 1000, n)
        assert len(rows) == nxt["row"] - off["row"]
        seen += len(rows)
        off = nxt
        batches += 1
        r.commit(off)
    assert seen == n
    assert batches == (n + 999) // 1000


def test_read_between_offsets_replays_identically(staged):
    """Failure-recovery contract: readBetweenOffsets(start, end) must
    return exactly the rows the original read() delivered."""
    r = EventsReplayStreamReader({"path": staged, "batchrows": "700"})
    first, nxt = r.read({"row": 0})
    replay = r.readBetweenOffsets({"row": 0}, nxt)
    assert list(first) == list(replay)
    mid, nxt2 = r.read(nxt)
    assert list(mid) == list(r.readBetweenOffsets(nxt, nxt2))


def test_slice_rows_rejects_unsorted_input(spark, sf_dir, tmp_path):
    """The event_id-sorted layout is asserted, not trusted."""
    bad = str(tmp_path / "unsorted.parquet")
    tmp = str(tmp_path / "tmp")
    (
        table(spark, sf_dir, "events")
        .orderBy(F.desc("event_id"))
        .limit(100)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.rename(os.path.join(tmp, part), bad)
    with pytest.raises(ValueError, match="sorted"):
        list(_slice_rows(bad, 0, 100))


def test_stream_source_pyds_runs_multiple_microbatches(spark, sf_dir):
    """The declared query must actually stream: the complete-mode fold
    over the custom source equals the batch GROUP BY (the oracle twin
    re-checks this at sf0.01), and the staged sorted file plus
    batchRows=n/3 forces >= 3 micro-batches through the source."""
    got = {
        r.event_type: (r.n_events, r.total_cents)
        for r in _Q["stream_source_pyds"](spark, sf_dir).collect()
    }
    exact = {
        r.event_type: (r.n, r.cents)
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("cents"),
        )
        .collect()
    }
    assert got == exact
    # the staged file is still around: prove the source sliced it in
    # thirds by replaying the offsets it would have used
    root = scratch_dir(spark, "pyds_replay")
    path = os.path.join(root, "events_sorted.parquet")
    import pyarrow.parquet as pq

    n = pq.ParquetFile(path).metadata.num_rows
    batch = max(1, (n + 2) // 3)
    assert (n + batch - 1) // batch >= 3 or n < 3


def test_tws_value_state_ttl_expires_and_persists(spark, sf_dir):
    """TTL state through the StateMessage codec (the TTLConfig wire
    field, previously unexercised): a 1 ms-TTL ValueState written every
    input batch must NEVER survive to the next batch's read (batches
    are >1 ms apart by construction), while a 1 h-TTL running count
    folds exactly — TTL expiry is per-variable, not per-key-blast.
    timeMode must be ProcessingTime (engine rejects TTL under NoTime —
    asserted too); with that mode the engine schedules continuous
    maintenance batches, so the run drains by row-coverage polling and
    an explicit stop, never processAllAvailable (same discipline as
    stream_tws_timer)."""
    import time

    import pandas as pd
    import pytest as _pytest
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from terasort_spark.operators.sessions import (
        _ROCKSDB_PROVIDER,
        _ensure_state_codec,
    )
    from terasort_spark.streaming.replay import read_stream, stage_chunks

    _ensure_state_codec(spark)
    src = table(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    exact = {
        r.user_id: r.n
        for r in src.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    expected_rows = sum(exact.values())
    replay_dir = scratch_dir(spark, "ttl_replay")
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3, src=src)
    for s in stagers:
        s()

    class TtlFold(StatefulProcessor):
        def init(self, handle):
            self._keep = handle.getValueState(
                "keep", "n bigint", ttlDurationMs=3600_000
            )
            self._tmp = handle.getValueState("tmp", "n bigint", ttlDurationMs=1)

        def handleInputRows(self, key, rows, timerValues):
            tmp_survived = self._tmp.exists()
            n = tuple(self._keep.get())[0] if self._keep.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._keep.update((n,))
            self._tmp.update((n,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "tmp_survived": [bool(tmp_survived)],
                }
            )

        def close(self):
            pass

    def build(time_mode):
        return (
            read_stream(spark, replay_dir)
            .groupBy("user_id")
            .transformWithStateInPandas(
                TtlFold(),
                outputStructType=(
                    "user_id bigint, n_events bigint, tmp_survived boolean"
                ),
                outputMode="Update",
                timeMode=time_mode,
            )
        )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, _ROCKSDB_PROVIDER)
    try:
        q = (
            build("ProcessingTime")
            .writeStream.format("memory")
            .queryName("ttl_sink")
            .outputMode("update")
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 300
            while time.time() < deadline:
                covered = (
                    spark.table("ttl_sink")
                    .groupBy("user_id")
                    .agg(F.max("n_events").alias("mx"))
                    .agg(F.sum("mx").alias("s"))
                    .collect()[0]
                    .s
                ) or 0
                if covered >= expected_rows:
                    break
                time.sleep(1.0)
        finally:
            q.stop()
            q.awaitTermination()
        rows = spark.table("ttl_sink").collect()
        # engine contract: TTL is a ProcessingTime-only feature (must
        # run under the SAME RocksDB provider so the time-mode check —
        # not the HDFS multi-column-family limit — is what fires)
        with _pytest.raises(Exception, match="TIME_MODE|TTL|NoTime"):
            q2 = (
                build("None")
                .writeStream.format("memory")
                .queryName("ttl_sink_bad")
                .outputMode("update")
                .start()
            )
            try:
                q2.processAllAvailable()
            finally:
                q2.stop()
                q2.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert rows
    assert not any(r.tmp_survived for r in rows), rows
    mx = {}
    for r in rows:
        mx[r.user_id] = max(mx.get(r.user_id, 0), r.n_events)
    assert mx == exact


def test_dist_reader_plans_partitions_and_covers_rows(staged):
    """The partition-planning reader (events_replay_dist): latestOffset
    advances by batchRows per call and saturates at the table end;
    partitions() splits each window into <= numPartitions contiguous
    disjoint RowRanges; reading every partition of every batch yields
    each row exactly once."""
    from terasort_spark.sources.replay_stream_ds import (
        EventsReplayDistStreamReader,
    )

    import pyarrow.parquet as pq

    n = pq.ParquetFile(staged).metadata.num_rows
    r = EventsReplayDistStreamReader(
        {"path": staged, "batchrows": "900", "numpartitions": "4"}
    )
    off = r.initialOffset()
    seen = 0
    while True:
        nxt = r.latestOffset()
        if nxt == off:
            break
        parts = r.partitions(off, nxt)
        assert 1 <= len(parts) <= 4
        bounds = [(p.start, p.end) for p in parts]
        assert bounds[0][0] == off["row"] and bounds[-1][1] == nxt["row"]
        for (a, b), (c, _) in zip(bounds, bounds[1:]):
            assert b == c  # contiguous, disjoint
        for p in parts:
            rows = list(r.read(p))
            assert len(rows) == p.end - p.start
            seen += len(rows)
        r.commit(nxt)
        off = nxt
    assert seen == n


def test_tws_delete_if_exists_resets_state_mid_stream(spark, sf_dir):
    """handle.deleteIfExists through the codec (the last unexercised
    StatefulProcessorCall wire method; the engine only permits it in
    init(), handle state CREATED — calling it during processing raises
    INVALID_HANDLE_STATE, verified while building this test): init
    drops the `cnt` variable every micro-batch, so the counter shows
    PER-BATCH counts, while the sibling `seq` variable — untouched —
    keeps its cross-batch fold. Together: deleteIfExists removed
    exactly the named variable, each batch, and nothing else."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from terasort_spark.operators.sessions import (
        _ROCKSDB_PROVIDER,
        _ensure_state_codec,
    )
    from terasort_spark.streaming.replay import (
        read_stream,
        run_to_memory,
        stage_chunks,
    )

    _ensure_state_codec(spark)
    src = table(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    exact = {
        r.user_id: r.n
        for r in src.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    replay_dir = scratch_dir(spark, "dix_replay")
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3, src=src)

    class PerBatchCounter(StatefulProcessor):
        def init(self, handle):
            handle.deleteIfExists("cnt")
            self._s = handle.getValueState("cnt", "n bigint")
            self._seq = handle.getValueState("seq", "i bigint")

        def handleInputRows(self, key, rows, timerValues):
            n = tuple(self._s.get())[0] if self._s.exists() else 0
            i = (tuple(self._seq.get())[0] if self._seq.exists() else 0) + 1
            for pdf in rows:
                n += len(pdf)
            self._s.update((n,))
            self._seq.update((i,))
            yield pd.DataFrame(
                {"user_id": [key[0]], "i": [i], "n": [n]}
            )

        def close(self):
            pass

    folded = (
        read_stream(spark, replay_dir)
        .groupBy("user_id")
        .transformWithStateInPandas(
            PerBatchCounter(),
            outputStructType="user_id bigint, i bigint, n bigint",
            outputMode="Update",
            timeMode="None",
        )
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, _ROCKSDB_PROVIDER)
    try:
        got = run_to_memory(folded, "dix_sink", "update", stagers, spark)
        rows = got.collect()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    per_user = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.i)):
        per_user.setdefault(r.user_id, []).append(r)
    assert set(per_user) == set(exact)
    for uid, seq in per_user.items():
        # seq (never dropped) folds across batches: 1..k
        assert [r.i for r in seq] == list(range(1, len(seq) + 1)), seq
        # cnt (dropped each init) is per-batch only: the emissions sum
        # to the user's total but no single emission reaches it
        assert sum(r.n for r in seq) == exact[uid], (uid, seq)
        assert len(seq) >= 2 and max(r.n for r in seq) < exact[uid], seq
