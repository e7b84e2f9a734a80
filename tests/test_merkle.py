"""Merkle range-digest reconcile (operators/merkle.py).

Pins: (1) the drill's key set equals window-free ``classify``'s
non-CONSISTENT keys on the standard defect pair; (2) identical replicas
produce an empty tree diff and an empty drill with zero rows scanned
past the bucket filter; (3) the xor digest fold is mergeable (partial
aggregation is exact, the 100 TB map-side-combine claim); (4) sparse
divergence prunes — the drill's bucket filter admits only the dirty
fraction; (5) parameter validation.
"""

import pytest
from pyspark.sql import functions as F

from mvrepair.operators import reconcile
from mvrepair.operators.merkle import (
    TOKEN_BITS,
    merkle_diff,
    merkle_repair_keys,
    range_digests,
    with_token_digest,
)
from mvrepair.plans import mv_pair as P

KEYS = ["o_custkey", "o_orderkey"]
VALS = ["o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
DEPTH = 8


def _render(df):
    import __spark_entry__ as e

    return e._merkle_render(df)


def test_drill_matches_window_free_classify(spark, sf_dir):
    base, mv = P.base_df(spark, sf_dir), P.mv_df(spark, sf_dir)
    got = {
        (int(r.o_custkey), int(r.o_orderkey), r.status)
        for r in merkle_repair_keys(
            _render(base), _render(mv), KEYS, VALS, DEPTH
        ).collect()
    }
    wide = reconcile.classify(base, mv, P.spec(), window=None)
    want = {
        (r.o_custkey, r.o_orderkey, r.problem)
        for r in wide.filter(F.col("problem") != "CONSISTENT").collect()
    }
    assert got == want and got, "merkle drill must equal full classify"


def test_identical_replicas_empty_diff(spark, sf_dir):
    base = _render(P.base_df(spark, sf_dir))
    assert merkle_diff(base, base, KEYS, VALS, DEPTH).count() == 0
    assert merkle_repair_keys(base, base, KEYS, VALS, DEPTH).count() == 0


def test_xor_fold_is_mergeable(spark, sf_dir):
    """range_digests(a ∪ b) == xor/sum-combine of range_digests(a),
    range_digests(b) when a and b are disjoint — partial aggregation
    (map-side combine) is exact for the (count, xor) pair."""
    base = _render(P.base_df(spark, sf_dir))
    even = base.filter(F.col("o_orderkey").cast("bigint") % 2 == 0)
    odd = base.filter(F.col("o_orderkey").cast("bigint") % 2 == 1)
    whole = {
        r.bucket: (r.n_rows, r.xor_digest)
        for r in range_digests(base, KEYS, VALS, DEPTH).collect()
    }
    parts = {}
    for side in (even, odd):
        for r in range_digests(side, KEYS, VALS, DEPTH).collect():
            n, d = parts.get(r.bucket, (0, 0))
            parts[r.bucket] = (n + r.n_rows, d ^ r.xor_digest)
    assert parts == whole


def test_sparse_divergence_prunes(spark, sf_dir):
    """One perturbed key out of the whole table → exactly one dirty
    bucket, and the drill admits only that bucket's rows."""
    base = _render(P.base_df(spark, sf_dir))
    key = F.col("o_orderkey").cast("bigint")
    mv = base.withColumn(
        "o_orderstatus",
        F.when(key == 7, F.lit("X")).otherwise(F.col("o_orderstatus")),
    )
    diff = merkle_diff(base, mv, KEYS, VALS, DEPTH).collect()
    assert len(diff) == 1
    # one value perturbed: counts match, digests differ
    assert diff[0].base_rows == diff[0].mv_rows
    assert diff[0].base_digest != diff[0].mv_digest
    keys = merkle_repair_keys(base, mv, KEYS, VALS, DEPTH).collect()
    assert [(r.o_orderkey, r.status) for r in keys] == [("7", "INCONSISTENT")]
    # the bucket filter bounds the drilled row count by the dirty
    # bucket's population — orders of magnitude below the table
    rows = with_token_digest(base, KEYS, VALS).withColumn(
        "bucket", F.shiftright("token", TOKEN_BITS - DEPTH)
    )
    dirty_rows = rows.filter(F.col("bucket") == diff[0].bucket).count()
    total = rows.count()
    assert dirty_rows * 10 < total, (
        f"drill scanned {dirty_rows} of {total}: bucket filter not sparse"
    )


def test_degenerate_divergence_skips_pruning(spark, sf_dir):
    """Near-total divergence (every row perturbed → every bucket dirty)
    takes the round-11 escape: the drill runs the FULL scan instead of
    a prune that would keep everything anyway (at depth 15+ the dirty
    collect is a 32k-row IN-list for nothing).  Pins (a) the escape
    branch is actually taken — no bucket filter / bucket semi-join in
    the plan — and (b) the result still equals window-free classify."""
    base = _render(P.base_df(spark, sf_dir))
    mv = base.withColumn(
        "o_orderstatus", F.concat(F.lit("z"), F.col("o_orderstatus"))
    )
    out = merkle_repair_keys(base, mv, KEYS, VALS, DEPTH)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # pruned plans carry the dirty-id filter as `bucket#N IN (...)` (or
    # INSET past 10 ids); the escape has no bucket predicate at all
    import re as _re

    assert "INSET" not in plan and not _re.search(
        r"bucket#\d+L? IN \(", plan
    ), "degenerate divergence must skip the bucket IN-filter"
    got = {(r.o_custkey, r.o_orderkey, r.status) for r in out.collect()}
    # every key differs, all INCONSISTENT
    n = base.count()
    assert len(got) == n
    assert {s for _, _, s in got} == {"INCONSISTENT"}
    # and the escape is equivalent to the pruned plan's semantics:
    # forcing pruning (degenerate_frac=1.1 never escapes) agrees
    pruned = {
        (r.o_custkey, r.o_orderkey, r.status)
        for r in merkle_repair_keys(
            base, mv, KEYS, VALS, DEPTH, degenerate_frac=1.1
        ).collect()
    }
    assert pruned == got


def test_missing_side_statuses(spark, sf_dir):
    base = _render(P.base_df(spark, sf_dir)).limit(200)
    key = F.col("o_orderkey").cast("bigint")
    mv = base.filter(key % 7 != 0).unionByName(
        base.filter(key % 11 == 3).withColumn(
            "o_orderkey", (key + 900000).cast("string")
        )
    )
    got = merkle_repair_keys(base, mv, KEYS, VALS, DEPTH)
    by_status = {
        r["status"]: r["n"]
        for r in got.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    want_missing_mv = base.filter(key % 7 == 0).count()
    want_missing_base = base.filter(key % 11 == 3).count()
    assert by_status.get("MISSING_IN_MV_TABLE", 0) == want_missing_mv
    assert by_status.get("MISSING_IN_BASE_TABLE", 0) == want_missing_base
    assert "INCONSISTENT" not in by_status


def test_depth_validation(spark, sf_dir):
    base = _render(P.base_df(spark, sf_dir))
    with pytest.raises(ValueError):
        range_digests(base, KEYS, VALS, 0)
    with pytest.raises(ValueError):
        range_digests(base, KEYS, VALS, 21)


def test_streaming_digests_fold_incrementally(spark, tmp_path):
    """Multi-microbatch streaming fold == batch range_digests: each
    microbatch updates per-bucket (count, xor) state rather than
    recomputing — xor/count being commutative monoids is the whole
    claim, so force >1 microbatch with maxFilesPerTrigger=1."""
    from pyspark.sql import functions as F

    from mvrepair.streaming.incremental import streaming_range_digests

    src = str(tmp_path / "rows")
    df = spark.range(2000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        F.concat(F.lit("v"), (F.col("id") % 37)).alias("v"),
    )
    df.repartition(4).write.parquet(src)
    assert len(spark.read.parquet(src).inputFiles()) > 1

    stream = (
        spark.readStream.schema("k string, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_range_digests(stream, ["k"], ["v"], depth=6)
    q = (
        out.writeStream.format("memory")
        .queryName("__merkle_fold_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress is not None  # stream actually ran
    got = {
        r.bucket: (r.n_rows, r.xor_digest)
        for r in spark.table("__merkle_fold_test").collect()
    }
    want = {
        r.bucket: (r.n_rows, r.xor_digest)
        for r in range_digests(
            spark.read.parquet(src), ["k"], ["v"], 6
        ).collect()
    }
    assert got == want and len(got) > 1


def test_quorum_majority_and_no_quorum(spark):
    """Hand-built 3-replica fixture: (a) a value defect on one replica
    is OUTVOTED 2-1 with the winner being the agreeing digest; (b) a
    missing row is an insert repair (absence sentinel loses 2-1);
    (c) three-way disagreement is NO_QUORUM; (d) agreeing keys emit
    nothing."""
    from mvrepair.operators.merkle import merkle_quorum, with_token_digest

    def rep(rows):
        return spark.createDataFrame(rows, "k string, v string")

    r1 = rep([("a", "1"), ("b", "2"), ("c", "3"), ("d", "4")])
    r2 = rep([("a", "1"), ("b", "X"), ("c", "3"), ("d", "5")])
    r3 = rep([("a", "1"), ("b", "2"), ("d", "6")])  # c missing
    out = merkle_quorum([r1, r2, r3], ["k"], ["v"], depth=6)
    rows = {(r.k, r.replica): r for r in out.collect()}

    assert set(rows) == {("b", 2), ("c", 3), ("d", 1), ("d", 2), ("d", 3)}
    assert rows[("b", 2)].status == "QUORUM_OUTVOTED"
    assert rows[("b", 2)].winner_votes == 2
    good_b = with_token_digest(
        r1.filter("k = 'b'"), ["k"], ["v"]
    ).collect()[0].digest
    assert rows[("b", 2)].winner_digest == good_b
    assert rows[("c", 3)].status == "QUORUM_OUTVOTED"
    assert rows[("c", 3)].replica_digest == -1  # missing -> insert repair
    for i in (1, 2, 3):
        assert rows[("d", i)].status == "NO_QUORUM"


def test_quorum_identical_replicas_empty(spark, sf_dir):
    import __spark_entry__ as e

    base = e._merkle_render(P.base_df(spark, sf_dir))
    out = merkle_quorum_safe = __import__(
        "mvrepair.operators.merkle", fromlist=["merkle_quorum"]
    ).merkle_quorum([base, base, base], KEYS, VALS, DEPTH)
    assert out.count() == 0


def test_quorum_validation(spark):
    import pytest as _pytest

    from mvrepair.operators.merkle import merkle_quorum

    df = spark.createDataFrame([("a", "1")], "k string, v string")
    with _pytest.raises(ValueError):
        merkle_quorum([df], ["k"], ["v"], 6)


def test_refresh_digests_equals_rebuild(spark, sf_dir):
    """XOR self-inverse: folding insert/delete deltas into stored
    digests equals rebuilding from the final row set, for several
    delta splits — including one that empties buckets entirely."""
    from mvrepair.operators.merkle import range_digests, refresh_range_digests

    base = _render(P.base_df(spark, sf_dir))
    k = F.col("o_orderkey").cast("bigint")
    for ins_pred, del_pred in [
        (k % 13 == 2, k % 17 == 5),
        (k % 2 == 0, k % 3 == 0),  # heavy churn
    ]:
        s0 = base.filter(~ins_pred)
        stored = range_digests(s0, KEYS, VALS, DEPTH)
        got = {
            tuple(r)
            for r in refresh_range_digests(
                stored,
                base.filter(ins_pred),
                s0.filter(del_pred),
                KEYS,
                VALS,
                DEPTH,
            ).collect()
        }
        final = base.filter(ins_pred | ~del_pred)
        want = {
            tuple(r) for r in range_digests(final, KEYS, VALS, DEPTH).collect()
        }
        assert got == want and got


def test_refresh_digests_emptied_bucket_drops(spark):
    from mvrepair.operators.merkle import range_digests, refresh_range_digests

    df = spark.createDataFrame(
        [("a", "1"), ("b", "2")], "k string, v string"
    )
    stored = range_digests(df, ["k"], ["v"], 6)
    empty = df.filter(F.lit(False))
    out = refresh_range_digests(stored, empty, df, ["k"], ["v"], 6)
    assert out.count() == 0  # deleting everything empties the tree


def test_choose_depth_sizing_rule():
    from mvrepair.operators.merkle import choose_depth

    assert choose_depth(0) == 1
    assert choose_depth(1) == 2  # 4 buckets for 1 expected key
    assert choose_depth(64) == 8  # 256 buckets for 64 keys
    assert choose_depth(10**9) == 20  # clamped: tree stays exchangeable
    # the measured saturation case: 4.4k dirty keys need depth > 10
    assert choose_depth(4400) > 10
    import pytest

    with pytest.raises(ValueError):
        choose_depth(-1)
    with pytest.raises(ValueError):
        choose_depth(5, headroom=0)


def test_choose_depth_lands_in_measured_band():
    """Pins choose_depth against the round-11 depth sweep at 30x sf0.1
    (PERF.md, "Merkle depth sensitivity"): the rule's
    pick must land inside the measured fastest wall-time band AND keep
    the tree clear of the degenerate escape at every swept divergence.
    Constants below are the sweep's measurements."""
    from mvrepair.operators.merkle import choose_depth

    # 0.1% divergence, 4,500 dirty keys: post-IN-list-fix wall times
    # were flat-fastest across depths 12..16 (3.52-3.93 s vs 4.31 at
    # the escape); drilled rows fall 4.5M -> 303k over the same band
    assert 12 <= choose_depth(4500) <= 16
    # the rule's picks keep dirty buckets clear of the 50% degenerate
    # escape at every swept divergence (dirty keys <= n_dirty, so
    # dirty/capacity <= n_dirty / 2^depth)
    for n_dirty in (4500, 45000, 450000):
        depth = choose_depth(n_dirty)
        assert n_dirty / (1 << depth) <= 0.5, (n_dirty, depth)
    # and never wastes capacity: one step shallower would saturate
    # past ~86% on the unclamped picks (headroom 4 means dirty keys
    # occupy <= 1/4 of buckets at the pick, <= 1/2 one step down)
    assert choose_depth(4500) == 15
    assert choose_depth(45000) == 18
    assert choose_depth(450000) == 20  # the [1, 20] clamp
