"""Round-11 wave: the StateMessage pure-Python codec and the
transformWithState graded family. The stream-vs-batch hash parity is
driver-graded; these tests pin what the hash cannot see — the codec's
wire-format conformance (including the multi-fetch pagination flag the
small graded states never trigger) and the finder's do-no-harm rule."""

from __future__ import annotations

import importlib.util

import terasort_spark.streaming.state_message_shim as sm
from terasort_spark.registry import queries

_Q = queries()


def test_codec_emits_empty_oneof_tags():
    """proto3 oneof selection rides on the TAG being present even for
    empty messages: ValueStateCall(get=Get()) must emit field 3 with
    length 0, or the JVM server cannot tell get from exists."""
    call = sm.ValueStateCall(stateName="tot", get=sm.Get())
    enc = sm.StateRequest(
        stateVariableRequest=sm.StateVariableRequest(valueStateCall=call)
    ).SerializeToString()
    # StateRequest.stateVariableRequest = field 3 -> tag 0x1a
    assert enc[0] == 0x1A
    # inner ValueStateCall carries stateName (field 1) AND the empty
    # get (field 3, tag 0x1a, length 0)
    assert b"\x1a\x00" in enc
    assert b"tot" in enc


def test_codec_scalar_zero_defaults_skipped():
    """proto3 scalars at their zero value must NOT serialize (the JVM
    reads the same default); explicit False/0/'' are wire-identical."""
    assert sm.SetHandleState(state=sm.PRE_INIT).SerializeToString() == b""
    assert sm.ListStatePut(value=[], fetchWithArrow=False).SerializeToString() == b""
    assert sm.StateRequest(version=0).SerializeToString() == b""


def test_codec_autovivified_submessage():
    """`cmd.ttl.durationMs = 5000` (the bundled client's idiom) must
    mark ttl present and round-trip the varint."""
    cmd = sm.StateCallCommand()
    cmd.stateName = "tot"
    cmd.ttl.durationMs = 5000
    enc = cmd.SerializeToString()
    back = sm.StateCallCommand()
    back.ParseFromString(enc)
    assert back.stateName == "tot"
    assert back.ttl.durationMs == 5000


def test_codec_parses_paginated_list_response():
    """The requireNextFetch pagination flag and repeated bytes values —
    the path a >1-fetch ListStateGet exercises on big state — decode
    exactly, including across multiple frames."""
    frames = []
    for vals, more in (([b"a" * 10, b"b"], True), ([b"final"], False)):
        m = sm.StateResponseWithListGet()
        enc = b""
        for v in vals:
            enc += bytes([0x1A, len(v)]) + v
        if more:
            enc += bytes([0x20, 0x01])
        m.ParseFromString(enc)
        frames.append(m)
    assert frames[0].value == [b"a" * 10, b"b"]
    assert frames[0].requireNextFetch is True
    assert frames[1].value == [b"final"]
    assert frames[1].requireNextFetch is False
    assert frames[1].statusCode == 0 and frames[1].errorMessage == ""


def test_codec_parses_map_iterator_and_negative_long():
    """Repeated sub-messages (map iterator pages) and sign-extended
    int64 decode (a negative watermark in StateResponseWithLongTypeVal
    arrives as a 10-byte varint)."""
    kv1 = sm.KeyAndValuePair(key=b"k1", value=b"v1").SerializeToString()
    kv2 = sm.KeyAndValuePair(key=b"k2", value=b"v2").SerializeToString()
    raw = bytes([0x1A, len(kv1)]) + kv1 + bytes([0x1A, len(kv2)]) + kv2
    m = sm.StateResponseWithMapIterator()
    m.ParseFromString(raw)
    assert [(p.key, p.value) for p in m.kvPair] == [
        (b"k1", b"v1"),
        (b"k2", b"v2"),
    ]
    lt = sm.StateResponseWithLongTypeVal()
    neg = sm.StateResponseWithLongTypeVal(value=-1).SerializeToString()
    lt.ParseFromString(neg)
    assert lt.value == -1


def test_codec_skips_unknown_fields():
    """Forward compatibility: an unknown varint and an unknown
    length-delimited field must be skipped, known fields still land."""
    known = sm.StateResponse(statusCode=7).SerializeToString()
    unknown = bytes([0xF8, 0x01, 0x2A]) + bytes([0xFA, 0x01, 0x02]) + b"zz"
    m = sm.StateResponse()
    m.ParseFromString(unknown + known)
    assert m.statusCode == 7


def test_finder_defers_to_real_protobuf():
    """usercustomize's guard: the finder registers ONLY when the actual
    protobuf runtime module is missing — an empty `google` namespace
    package (spark-core.jar on the worker PYTHONPATH) must not count
    as protobuf being installed."""
    import usercustomize

    have = usercustomize._have_real_protobuf()
    # in this container there is no real protobuf, so the finder must
    # be registered and must resolve the pb2 module to the shim
    if not have:
        spec = importlib.util.find_spec(
            "pyspark.sql.streaming.proto.StateMessage_pb2"
        )
        assert spec is not None
        assert spec.origin and spec.origin.endswith("state_message_shim.py")


def test_hll_registers_merge_associatively(spark, sf_dir):
    """The 100 TB contract of agg_hll_exact: per-partition register
    maxes MERGE (elementwise max) into exactly the registers of the
    single-pass sketch, so the sketch distributes with one m-sized row
    per executor."""
    from pyspark.sql import functions as F

    from terasort_spark.catalog import table
    from terasort_spark.operators.aggregates import _HLL_M, _HLL_P, _HLL_WBITS

    o = table(spark, sf_dir, "orders")

    def regs(df):
        h = F.conv(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        w = F.shiftright(h, _HLL_P)
        rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
            F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
        )
        return {
            r["b"]: r["mx"]
            for r in df.select(
                F.pmod(h, F.lit(_HLL_M)).alias("b"), rho.alias("rho")
            )
            .groupBy("b")
            .agg(F.max("rho").alias("mx"))
            .collect()
        }

    full = regs(o)
    a = regs(o.filter(F.col("o_orderkey") % 2 == 0))
    b = regs(o.filter(F.col("o_orderkey") % 2 == 1))
    merged = {k: max(a.get(k, 0), b.get(k, 0)) for k in set(a) | set(b)}
    assert merged == full


def test_recursive_cte_depth_closed_form(spark, sf_dir):
    """The recursion's fixpoint is independently checkable: walking
    n -> n div 2 to 1 takes exactly floor(log2(n)) steps, and the
    path sum telescopes to sum of n div 2^i."""
    rows = _Q["sql_recursive_cte"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        n = r["node"]
        want_d = max(n.bit_length() - 1, 0)  # nodes 0 and 1 are roots
        want_sum, cur = n, n
        while cur > 1:
            cur //= 2
            want_sum += cur
        assert r["depth"] == want_d, (n, r["depth"], want_d)
        assert r["path_sum"] == want_sum
