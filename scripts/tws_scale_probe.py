"""transformWithState key-cardinality scale probe (round 12, r11
VERDICT task 5): turn the "per-key state-server round-trips amortize at
scale" claim from prose into a measured curve.

The r11 bench showed stream_tws_* costing 8.8–14.7 s at sf0.1,
dominated by per-key state-server socket round-trips (1,500 users x 3
batches through the pure-Python StateMessage codec) plus per-batch
RocksDB init. The open question is the EXPONENT: with data volume
FIXED, how does wall time grow as the same rows spread over 10x / 100x
more keys? Every key pays one ValueState get+update round trip per
batch it appears in, so the worst case is t ~ n_keys (alpha = 1 in the
key decade) once every key appears in every batch; the mitigating
force is batching — more keys per Arrow batch means the per-batch
fixed costs amortize while per-key RPCs do not.

Methodology (agg_scale_probe discipline): events are generated
deterministically in-executor from row ids (xxhash64 streams), staged
through the SAME file-replay harness the graded stream_tws_* queries
use (3 chunks, maxFilesPerTrigger=1), folded by the SAME
ValueState-of-exact-integers processor, RocksDB provider. Correctness
is CHECKED at every point: the fold's final per-key (cents, count)
must match the batch groupBy exactly (order-insensitive checksum), and
total row conservation is asserted.

Run:  python scripts/tws_scale_probe.py [n_rows] [n_keys]
      defaults n_rows=150000; sweep n_keys in {1500, 15000, 150000}
      via three invocations (own JVM each, the bench protocol).
"""

from __future__ import annotations

import json
import sys
import time

REPO = "/root/repo"
if REPO not in sys.path:
    sys.path.insert(0, REPO)

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from terasort_spark.operators.sessions import (  # noqa: E402
    _ROCKSDB_PROVIDER,
    _ensure_state_codec,
)
from terasort_spark.session import get_spark  # noqa: E402

N_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000
N_KEYS = int(sys.argv[2]) if len(sys.argv) > 2 else 1_500
SPAN = 30 * 86400


def gen_events(spark, n: int, n_keys: int):
    """Deterministic events-schema rows from row ids."""
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1700000000) + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(SPAN))
        ).alias("ts"),
        F.pmod(F.xxhash64("id"), F.lit(n_keys)).alias("user_id"),
        F.lit("click").alias("event_type"),
        (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(10000)) / 100.0).alias(
            "value"
        ),
        F.lit("{}").alias("props"),
    )


def main() -> None:
    spark = get_spark(app_name=f"tws-scale-{N_KEYS}")
    spark.sparkContext.setLogLevel("ERROR")
    _ensure_state_codec(spark)
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from terasort_spark.streaming.replay import (
        read_stream,
        run_to_memory,
        stage_chunks,
    )

    src = gen_events(spark, N_ROWS, N_KEYS).localCheckpoint()
    replay_dir = f"/tmp/tws_scale_{N_KEYS}"
    stagers = stage_chunks(spark, "", replay_dir, n_chunks=3, src=src)

    class RunningTotals(StatefulProcessor):
        def init(self, handle):
            self._s = handle.getValueState("tot", "total bigint, n bigint")

        def handleInputRows(self, key, rows, timerValues):
            import math

            t, n = tuple(self._s.get()) if self._s.exists() else (0, 0)
            for pdf in rows:
                v = pdf["value"].dropna()
                t += int(sum(int(math.floor(x * 100 + 0.5)) for x in v))
                n += int(len(v))
            self._s.update((t, n))
            yield pd.DataFrame(
                {"user_id": [key[0]], "total_cents": [t], "n_events": [n]}
            )

        def close(self):
            pass

    folded = (
        read_stream(spark, replay_dir)
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType=(
                "user_id bigint, total_cents bigint, n_events bigint"
            ),
            outputMode="Update",
            timeMode="None",
        )
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER
    )
    t0 = time.perf_counter()
    got = run_to_memory(folded, f"tws_scale_sink_{N_KEYS}", "update", stagers, spark)
    final = (
        got.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_cents")).alias("s"))
        .select(
            "user_id",
            F.col("s.total_cents").alias("total_cents"),
            F.col("s.n_events").alias("n_events"),
        )
    )
    cs_row = final.agg(
        F.sum(
            F.xxhash64("user_id", "total_cents", "n_events").cast(
                "decimal(38,0)"
            )
        ).alias("cs"),
        F.sum("n_events").alias("rows"),
        F.count(F.lit(1)).alias("keys"),
    ).collect()[0]
    dt = time.perf_counter() - t0

    exact = (
        src.groupBy("user_id")
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("total_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .agg(
            F.sum(
                F.xxhash64("user_id", "total_cents", "n_events").cast(
                    "decimal(38,0)"
                )
            ).alias("cs"),
            F.sum("n_events").alias("rows"),
        )
        .collect()[0]
    )
    out = {
        "n_rows": N_ROWS,
        "n_keys": N_KEYS,
        "stream_s": round(dt, 1),
        "keys_seen": int(cs_row.keys),
        "rows_conserved": int(cs_row.rows) == N_ROWS == int(exact.rows),
        "checksum_match": int(cs_row.cs) == int(exact.cs),
    }
    print("TWS_PROBE " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
