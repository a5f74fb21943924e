"""Round-10 third wave: WordPiece greedy segmentation, integer boosted
stumps, VACUUM dry-run audit, EXCEPT ALL. Oracle parity is
driver-graded; these tests pin what the hash compare cannot see — the
greedy longest-match invariant itself, the boosting weak-learner
guarantee, the checkpoint's no-data-loss contract, and bag-difference
multiplicities recomputed independently."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators.llm_text import (
    WP_MAXLEN,
    WP_PIECE_LEN,
    _wp_encode,
    _wp_inventory,
)
from terasort_spark.operators.scans import _VACUUM_BASE
from terasort_spark.operators.tokenizer import _word_counts
from terasort_spark.registry import queries

_Q = queries()


# ---------------------------------------------------------------------------
# text_wordpiece


def test_wordpiece_greedy_invariant(spark, sf_dir):
    """Every emitted piece must be (a) in the inventory with the right
    class, (b) the LONGEST inventory match at its position, and the
    de-marked concatenation must rebuild the word exactly."""
    wc = [(r["w"], int(r["n"])) for r in _word_counts(spark, sf_dir).collect()]
    v12 = [(w, n) for w, n in wc if len(w) <= WP_MAXLEN]
    kept = _wp_inventory(v12)
    rows = _Q["text_wordpiece"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        pieces = r["seg"].split(" ")
        assert len(pieces) == r["n_pieces"]
        pos = 0
        for i, p in enumerate(pieces):
            is_cont = p.startswith("##")
            txt = p[2:] if is_cont else p
            assert is_cont == (pos > 0)
            assert (txt, is_cont) in kept
            # longest-match: no longer inventory piece matches here
            for ln in range(len(txt) + 1, WP_PIECE_LEN + 1):
                cand = r["w"][pos : pos + ln]
                if len(cand) == ln:
                    assert (cand, pos > 0) not in kept
            pos += len(txt)
        assert pos == len(r["w"])


def test_wordpiece_unit_rule():
    """Greedy longest-match on a hand-built inventory, including the
    classic WordPiece case where greedy differs from the optimal
    (fewest-pieces) segmentation."""
    kept = {
        ("u", False), ("un", False), ("una", False),
        ("f", True), ("fo", True), ("old", True), ("l", True),
        ("d", True), ("o", True), ("a", True), ("n", True), ("e", True),
    }
    # greedy takes 'una' (longest initial), which strands '##old':
    # una ##fo ##l ##d — the classic greedy-vs-optimal divergence
    assert _wp_encode("unafold", kept) == ["una", "##fo", "##l", "##d"]
    # single-char fallback path
    assert _wp_encode("un", kept) == ["un"]
    assert _wp_encode("ufe", kept) == ["u", "##f", "##e"]


# ---------------------------------------------------------------------------
# ml_adaboost


def test_adaboost_weak_learner_and_replay(spark, sf_dir):
    """The best stump under both polarities can never be worse than
    coin-flip on the weighted distribution (err(pol=+1) + err(pol=-1)
    = total weight, so the min is <= half), and round 1 must equal a
    brute-force unweighted stump search over the raw table."""
    rows = _Q["ml_adaboost"](spark, sf_dir).collect()
    assert [r["round"] for r in rows] == [1, 2, 3]
    for r in rows:
        assert 2 * r["err_w"] <= r["total_w"]
        assert 0.0 < r["acc"] <= 1.0

    d = [
        (int(x), lab == "en")
        for x, lab in table(spark, sf_dir, "documents")
        .select("n_chars", "lang")
        .collect()
    ]
    xs = sorted({x for x, _ in d})
    best = None
    for thr in xs[:-1]:
        for pol in (1, -1):
            err = sum(
                1
                for x, y in d
                if ((pol == 1 and x <= thr) or (pol == -1 and x > thr)) != y
            )
            key = (err, thr, pol)
            if best is None or key < best:
                best = key
    err, thr, pol = best
    r1 = rows[0]
    assert (r1["err_w"], r1["threshold"], r1["polarity"]) == (err, thr, pol)
    # round-1 weights are unit: total weight == corpus size
    assert r1["total_w"] == len(d)


# ---------------------------------------------------------------------------
# scan_vacuum


def test_vacuum_checkpoint_contract(spark, sf_dir):
    """Liveness is bounded by size, the checkpoint segment is fully
    live (no data loss), and exactly the pre-checkpoint segments are
    flagged removable."""
    rows = {r["v"]: r for r in _Q["scan_vacuum"](spark, sf_dir).collect()}
    assert sorted(rows) == list(range(_VACUUM_BASE + 1))
    for v, r in rows.items():
        assert 0 <= r["n_live"] <= r["n_rows"]
        assert r["removable"] == (v < _VACUUM_BASE)
    base = rows[_VACUUM_BASE]
    assert base["n_live"] == base["n_rows"]
    # tombstone segment contributes no live rows
    assert rows[2]["n_live"] == 0
    # updated keys exist, so the v0 segment is not fully live
    assert rows[0]["n_live"] < rows[0]["n_rows"]


# ---------------------------------------------------------------------------
# set_except_all


def test_except_all_multiplicities(spark, sf_dir):
    got = Counter(
        r["nationkey"] for r in _Q["set_except_all"](spark, sf_dir).collect()
    )
    c = Counter(
        r["c_nationkey"]
        for r in table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 1000)
        .collect()
    )
    s = Counter(
        r["s_nationkey"] for r in table(spark, sf_dir, "supplier").collect()
    )
    want = Counter({k: c[k] - s[k] for k in c if c[k] - s[k] > 0})
    assert got == want
