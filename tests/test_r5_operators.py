"""Round-5 operators: Bloom build/probe, segment dedup, leakage-safe
splits, SemDeDup cells, SCD-2 compaction, rolling features, salted
replicated join."""

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.functions.bloom import bloom_build, bloom_probe
from kafka_sink_azure_kusto_spark.functions.corpus import (
    contamination_overlap_bloom,
    segment_dedup,
)
from kafka_sink_azure_kusto_spark.functions.dedup import (
    leakage_safe_split,
    semantic_dedup_cells,
)
from kafka_sink_azure_kusto_spark.operators.skew import salted_replicated_join
from kafka_sink_azure_kusto_spark.operators.timeline import (
    rolling_features,
    scd2_compact,
)


# ------------------------------------------------------------------- bloom
def test_bloom_no_false_negatives(spark):
    keys = spark.createDataFrame([(f"key-{i}",) for i in range(200)], ["k"])
    bm = bloom_build(keys, "k", num_bits=1 << 12, num_hashes=3)
    probed = bloom_probe(keys, bm, "k", num_bits=1 << 12, num_hashes=3)
    assert probed.filter(~F.col("bloom_maybe")).count() == 0


def test_bloom_rejects_most_absent_keys(spark):
    keys = spark.createDataFrame([(f"key-{i}",) for i in range(100)], ["k"])
    bm = bloom_build(keys, "k", num_bits=1 << 14, num_hashes=3)
    absent = spark.createDataFrame([(f"other-{i}",) for i in range(500)], ["k"])
    probed = bloom_probe(absent, bm, "k", num_bits=1 << 14, num_hashes=3)
    fp = probed.filter(F.col("bloom_maybe")).count()
    # 100 keys in 2^14 bits with k=3 → FP rate well under 1%; allow slack
    assert fp < 25


def test_bloom_bitmap_is_compact(spark):
    keys = spark.createDataFrame([(f"key-{i}",) for i in range(1000)], ["k"])
    bm = bloom_build(keys, "k", num_bits=1 << 12, num_hashes=3)
    assert bm.count() <= (1 << 12) // 64


def test_bloom_build_rejects_bad_num_bits(spark):
    keys = spark.createDataFrame([("a",)], ["k"])
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_build(keys, "k", num_bits=100)


def test_contamination_bloom_matches_exact(spark):
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon"),
            (1, "alpha beta gamma delta zeta"),
            (2, "one two three four five"),
        ],
        ["doc_id", "text"],
    )
    bench = docs.filter(F.col("doc_id") == 0)
    out = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in contamination_overlap_bloom(
            docs, bench, n=4, num_bits=1 << 10
        ).collect()
    }
    # doc0 shares both its 4-grams with itself; doc1 shares "alpha beta
    # gamma delta"; doc2 shares nothing
    assert out[0] == (2, 1)
    assert out[1] == (1, 1)
    assert out[2] == (0, 0)


# ---------------------------------------------------------- segment dedup
def test_segment_dedup_drops_repeated_segment(spark):
    boiler = "nav home about contact login search help terms"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (0, boiler + " unique content zero only here now yes ok"),
            (1, boiler + " other words one two three four five six"),
            (2, "fully original text with no repeats at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in segment_dedup(docs, seg_tokens=8).collect()}
    assert out[0]["clean_text"] == "unique content zero only here now yes ok"
    assert out[0]["n_segments"] == 2 and out[0]["n_dropped"] == 1
    assert out[1]["clean_text"].startswith("other words")
    assert out[2]["n_dropped"] == 0
    assert out[2]["clean_text"] == "fully original text with no repeats at all"


def test_segment_dedup_doc_fully_boilerplate_vanishes(spark):
    b = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(0, b), (1, b), (2, "x y z only once here")], ["doc_id", "text"]
    )
    out = segment_dedup(docs, seg_tokens=8).collect()
    ids = {r["doc_id"] for r in out}
    assert ids == {2}


def test_segment_dedup_preserves_order(spark):
    # repeated middle segment must be cut out, outer order preserved
    rep = "r1 r2 r3 r4 r5 r6 r7 r8"
    docs = spark.createDataFrame(
        [
            (0, "s1 s2 s3 s4 s5 s6 s7 s8 " + rep + " t1 t2 t3 t4 t5 t6 t7 t8"),
            (1, rep),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in segment_dedup(docs, seg_tokens=8).collect()}
    assert out[0]["clean_text"] == "s1 s2 s3 s4 s5 s6 s7 s8 t1 t2 t3 t4 t5 t6 t7 t8"


# ------------------------------------------------------ leakage-safe split
def test_leakage_safe_split_cluster_members_share_split(spark):
    nodes = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], ["left_id", "right_id"]
    )
    out = leakage_safe_split(nodes, edges, salt="t")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[0]["split"] == rows[1]["split"] == rows[2]["split"]
    assert rows[5]["split"] == rows[6]["split"]
    assert rows[0]["cluster_id"] == rows[2]["cluster_id"] == 0
    assert {r["split"] for r in rows.values()} <= {"train", "val", "test"}


def test_leakage_safe_split_bad_fractions_raise(spark):
    nodes = spark.createDataFrame([(0,)], ["doc_id"])
    edges = spark.createDataFrame([], "left_id long, right_id long")
    with pytest.raises(ValueError, match="sum to 1"):
        leakage_safe_split(nodes, edges, fractions=[("train", 0.5), ("val", 0.1)])


# ------------------------------------------------------- semantic dedup
def test_semantic_dedup_cells_drops_within_cell_only(spark):
    rows = [
        # cell 0: v0 and v1 identical (cos 1.0) → v1 dropped; v2 orthogonal
        (0, 0, [1.0, 0.0]),
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.0, 1.0]),
        # cell 1: identical to v0 but in ANOTHER cell → kept (within-cell rule)
        (3, 1, [1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = {r["vec_id"]: r["is_kept"] for r in semantic_dedup_cells(emb, threshold=0.9).collect()}
    assert out == {0: 1, 1: 0, 2: 1, 3: 1}


def test_semantic_dedup_cell_cap_keeps_null_cell_rows(spark):
    """ADVICE r6 #1: with cell_member_cap set, rows whose cell label is
    NULL must still come back (one row per input vector) with
    is_kept=1, exactly as the uncapped path returns them."""
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [1.0, 0.0]),
        (2, None, [1.0, 0.0]),  # NULL cell — must not vanish
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    for cap in (None, 2):
        out = {
            r["vec_id"]: r["is_kept"]
            for r in semantic_dedup_cells(
                emb, threshold=0.9, cell_member_cap=cap
            ).collect()
        }
        assert out == {0: 1, 1: 0, 2: 1}, f"cap={cap}: {out}"


def test_semantic_dedup_one_pass_overdrops_documented(spark):
    # chain a~b, b~c, a!~c: one-pass drops BOTH b and c (b shadows c even
    # though b itself is dropped) — the documented conservative behavior
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [0.9, 0.4359]),  # cos(v0,v1) ≈ 0.9
        (2, 0, [0.62, 0.7846]),  # cos(v1,v2) ≈ 0.9, cos(v0,v2) ≈ 0.62
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = {r["vec_id"]: r["is_kept"] for r in semantic_dedup_cells(emb, threshold=0.85).collect()}
    assert out == {0: 1, 1: 0, 2: 0}


def test_semantic_dedup_cell_member_cap_bounds_pairs(spark):
    """The cap sub-splits an oversized cell: comparisons stay within
    (cell, subcell), so some within-cell duplicates are MISSED
    (documented under-drop) but the quadratic is bounded; uncapped, all
    identical vectors but the first are dropped."""
    # one mega-cell of 12 identical vectors
    rows = [(i, 0, [1.0, 0.0]) for i in range(12)]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    uncapped = {
        r["vec_id"]: r["is_kept"]
        for r in semantic_dedup_cells(emb, threshold=0.9).collect()
    }
    assert sum(uncapped.values()) == 1  # only the smallest id survives

    capped = {
        r["vec_id"]: r["is_kept"]
        for r in semantic_dedup_cells(
            emb, threshold=0.9, cell_member_cap=4
        ).collect()
    }
    # ceil(12/4)=3 subcells → exactly one survivor PER NON-EMPTY SUBCELL
    survivors = sum(capped.values())
    assert 1 <= survivors <= 3
    assert len(capped) == 12  # every vector still classified
    # determinism: same result on a second run (pure function of ids)
    again = {
        r["vec_id"]: r["is_kept"]
        for r in semantic_dedup_cells(
            emb, threshold=0.9, cell_member_cap=4
        ).collect()
    }
    assert capped == again


def test_semantic_dedup_cap_noop_on_small_cells(spark):
    # cap larger than every cell → identical to the uncapped result
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [1.0, 0.0]),
        (2, 1, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    base = {
        r["vec_id"]: r["is_kept"]
        for r in semantic_dedup_cells(emb, threshold=0.9).collect()
    }
    capped = {
        r["vec_id"]: r["is_kept"]
        for r in semantic_dedup_cells(emb, threshold=0.9, cell_member_cap=10).collect()
    }
    assert base == capped == {0: 1, 1: 0, 2: 1}


# ------------------------------------------------------------------ SCD-2
def _ts(s):
    return datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=s)


def test_scd2_compact_runs_and_intervals(spark):
    rows = [
        Row(user_id=1, event_id=1, ts=_ts(0), event_type="view"),
        Row(user_id=1, event_id=2, ts=_ts(10), event_type="view"),
        Row(user_id=1, event_id=3, ts=_ts(20), event_type="click"),
        Row(user_id=1, event_id=4, ts=_ts(30), event_type="view"),
        Row(user_id=2, event_id=5, ts=_ts(5), event_type="purchase"),
    ]
    df = spark.createDataFrame(rows)
    out = scd2_compact(df).orderBy("user_id", "run_id").collect()
    u1 = [r for r in out if r["user_id"] == 1]
    assert [r["state"] for r in u1] == ["view", "click", "view"]
    assert [r["n_events"] for r in u1] == [2, 1, 1]
    assert u1[0]["valid_from"] == _ts(0) and u1[0]["valid_to"] == _ts(20)
    assert u1[1]["valid_to"] == _ts(30)
    assert u1[2]["valid_to"] is None and u1[2]["is_current"] == 1
    u2 = [r for r in out if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["is_current"] == 1


def test_scd2_compact_ts_tie_broken_by_event_id(spark):
    rows = [
        Row(user_id=1, event_id=2, ts=_ts(0), event_type="b"),
        Row(user_id=1, event_id=1, ts=_ts(0), event_type="a"),
    ]
    out = scd2_compact(spark.createDataFrame(rows)).orderBy("run_id").collect()
    assert [r["state"] for r in out] == ["a", "b"]


# -------------------------------------------------------- rolling features
def test_rolling_features_values(spark):
    rows = [
        Row(user_id=1, event_id=i, ts=_ts(i * 10), value=float(i)) for i in range(1, 8)
    ]
    out = (
        rolling_features(spark.createDataFrame(rows), window_rows=3)
        .orderBy("seq")
        .collect()
    )
    assert [r["seq"] for r in out] == list(range(1, 8))
    # trailing-3 means of 1..7
    assert out[0]["moving_avg"] == 1.0
    assert out[1]["moving_avg"] == 1.5
    assert out[4]["moving_avg"] == 4.0  # mean(3,4,5)
    assert out[1]["delta_prev"] == 1.0
    assert out[0]["delta_prev"] is None
    assert out[0]["micros_since_prev"] is None
    assert out[1]["micros_since_prev"] == 10_000_000


# ------------------------------------------------------------ salted join
def test_salted_replicated_join_matches_plain_join(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    salted = salted_replicated_join(
        orders, customer, "o_custkey", "c_custkey", salt_buckets=4
    )
    plain = orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
    assert salted.count() == plain.count()
    s = salted.groupBy("c_mktsegment").count().orderBy("c_mktsegment").collect()
    p = plain.groupBy("c_mktsegment").count().orderBy("c_mktsegment").collect()
    assert s == p


def test_salted_replicated_join_left_outer(spark):
    fact = spark.createDataFrame([(1, "a"), (2, "b"), (99, "c")], ["k", "fv"])
    dim = spark.createDataFrame([(1, "x"), (2, "y")], ["dk", "dv"])
    out = salted_replicated_join(fact, dim, "k", "dk", salt_buckets=3, how="left")
    rows = {r["k"]: r["dv"] for r in out.collect()}
    assert rows == {1: "x", 2: "y", 99: None}


# -------------------------------------------------------- percentile gate
def test_percentile_gate_keeps_top_fraction(spark):
    from kafka_sink_azure_kusto_spark.functions.sampling import percentile_gate

    rows = [(i, "a", float(100 - i)) for i in range(10)] + [
        (100 + i, "b", float(i)) for i in range(4)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "score"])
    out = percentile_gate(df, "score", "source", keep_frac=0.3)
    kept_a = sorted(
        r["doc_id"] for r in out.filter("source='a' and kept=1").collect()
    )
    # group a: 10 rows, ranks 0..9 → pct_rank i/9 ≤ 0.3 for i=0,1,2 →
    # the 3 highest scores = doc_ids 0,1,2
    assert kept_a == [0, 1, 2]
    kept_b = sorted(
        r["doc_id"] for r in out.filter("source='b' and kept=1").collect()
    )
    # group b: 4 rows → pct_rank ≤ 0.3 keeps ranks 0 (0.0) only (1/3 > 0.3)
    assert kept_b == [103]
    assert out.count() == 14  # flag, don't filter


def test_percentile_gate_tie_broken_by_id(spark):
    from kafka_sink_azure_kusto_spark.functions.sampling import percentile_gate

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 1.0)], ["doc_id", "source", "score"]
    )
    out = {r["doc_id"]: r["pct_rank"] for r in
           percentile_gate(df, "score", "source", 0.5).collect()}
    assert out[1] == 0.0 and out[2] == 1.0


# ------------------------------------------------------ incremental dedup
def test_incremental_exact_dedup_statuses(spark):
    from kafka_sink_azure_kusto_spark.functions.dedup import incremental_exact_dedup

    history = spark.createDataFrame([(0, "old text")], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [
            (10, "old text"),      # in history
            (11, "fresh one"),     # unique
            (12, "fresh two"),     # unique, dup'd below
            (13, "fresh two"),     # dup within batch
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["status"] for r in
           incremental_exact_dedup(batch, history).collect()}
    assert out == {
        10: "dup_of_history",
        11: "unique",
        12: "unique",
        13: "dup_in_batch",
    }


def test_incremental_dedup_history_wins_over_batch(spark):
    from kafka_sink_azure_kusto_spark.functions.dedup import incremental_exact_dedup

    history = spark.createDataFrame([(0, "t")], ["doc_id", "text"])
    batch = spark.createDataFrame([(1, "t"), (2, "t")], ["doc_id", "text"])
    out = {r["doc_id"]: r["status"] for r in
           incremental_exact_dedup(batch, history).collect()}
    # both match history — history classification wins even for the
    # second in-batch copy
    assert out == {1: "dup_of_history", 2: "dup_of_history"}


def test_incremental_neardup_against_signature_store(spark):
    """r6: near-dup triage joins the persisted banded-signature store —
    no history text — and applies history-wins / smaller-id-shadows."""
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        banded_signatures,
        incremental_neardup_dedup,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    history = spark.createDataFrame(
        [(0, base), (1, "totally different words entirely here now yes")],
        ["doc_id", "text"],
    )
    store = banded_signatures(history, "text", "doc_id", 16, 4, 3)
    batch = spark.createDataFrame(
        [
            # last word swapped — shares 5/6 shingles with history doc 0
            # (deterministic md5 minhash: est-jaccard lands above 0.5)
            (10, "alpha beta gamma delta epsilon zeta eta iota"),
            (11, "unrelated fresh content nobody wrote before at all"),
            (12, "brand new text shared by two batch docs exactly"),
            (13, "brand new text shared by two batch docs exactly"),
            (14, "xy"),                  # < k tokens → no signature
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["status"]
        for r in incremental_neardup_dedup(batch, store).collect()
    }
    assert out == {
        10: "neardup_of_history",
        11: "unique",
        12: "unique",             # smallest id keeps
        13: "neardup_in_batch",   # shadowed by 12
        14: "unique",             # structurally unsigned
    }


def test_incremental_neardup_store_family_mismatch_raises(spark):
    """ADVICE r6 #2: a store persisted with the other signature family
    (hex vs compact) must raise, not silently return all-'unique'
    (array_intersect across string/long families finds zero overlap)."""
    import pytest

    from kafka_sink_azure_kusto_spark.functions.dedup import (
        banded_signatures,
        incremental_neardup_dedup,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    hex_store = banded_signatures(docs, "text", "doc_id", 16, 4, 3)
    with pytest.raises(TypeError, match="compact=True"):
        incremental_neardup_dedup(docs, hex_store, compact=True)
    compact_store = banded_signatures(docs, "text", "doc_id", 16, 4, 3, compact=True)
    with pytest.raises(TypeError, match="compact=False"):
        incremental_neardup_dedup(docs, compact_store, compact=False)


def test_incremental_neardup_history_band_cap_drops_hot_buckets(spark):
    """VERDICT r6 #5: with the history cap, a batch doc whose ONLY
    history neighbors sit in a hot (over-cap) store bucket is no
    longer flagged 'neardup_of_history'."""
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        banded_signatures,
        incremental_neardup_dedup,
    )

    tmpl = "alpha beta gamma delta epsilon zeta eta theta"
    # template ingested twice under different ids → all its buckets hot
    history = spark.createDataFrame(
        [(0, tmpl), (1, tmpl), (2, "totally different words entirely here now")],
        ["doc_id", "text"],
    )
    store = banded_signatures(history, "text", "doc_id", 16, 4, 3)
    batch = spark.createDataFrame([(10, tmpl)], ["doc_id", "text"])
    uncapped = incremental_neardup_dedup(batch, store).collect()[0]["status"]
    capped = incremental_neardup_dedup(
        batch, store, history_band_member_cap=1
    ).collect()[0]["status"]
    assert uncapped == "neardup_of_history"
    assert capped == "unique"


# ------------------------------------------------------------------ funnel
def test_funnel_ordering_constraint(spark):
    from kafka_sink_azure_kusto_spark.operators.timeline import funnel_stages

    rows = [
        # user 1: full ordered funnel
        Row(user_id=1, event_id=1, ts=_ts(0), event_type="view"),
        Row(user_id=1, event_id=2, ts=_ts(10), event_type="click"),
        Row(user_id=1, event_id=3, ts=_ts(20), event_type="purchase"),
        # user 2: click BEFORE any view → stage stops at 1
        Row(user_id=2, event_id=4, ts=_ts(0), event_type="click"),
        Row(user_id=2, event_id=5, ts=_ts(10), event_type="view"),
        # user 3: purchase without click → stage 1
        Row(user_id=3, event_id=6, ts=_ts(0), event_type="view"),
        Row(user_id=3, event_id=7, ts=_ts(10), event_type="purchase"),
        # user 4: never viewed → stage 0
        Row(user_id=4, event_id=8, ts=_ts(0), event_type="purchase"),
    ]
    out = {r["user_id"]: r for r in funnel_stages(spark.createDataFrame(rows)).collect()}
    assert out[1]["funnel_stage"] == 3
    assert out[2]["funnel_stage"] == 1 and out[2]["ts_click"] is None
    assert out[3]["funnel_stage"] == 1 and out[3]["ts_purchase"] is None
    assert out[4]["funnel_stage"] == 0 and out[4]["ts_view"] is None


def test_funnel_strictly_after_semantics(spark):
    from kafka_sink_azure_kusto_spark.operators.timeline import funnel_stages

    rows = [
        # click at the SAME instant as the first view does not count;
        # a later click does
        Row(user_id=1, event_id=1, ts=_ts(5), event_type="view"),
        Row(user_id=1, event_id=2, ts=_ts(5), event_type="click"),
        Row(user_id=1, event_id=3, ts=_ts(9), event_type="click"),
    ]
    out = funnel_stages(spark.createDataFrame(rows)).collect()[0]
    assert out["funnel_stage"] == 2
    assert out["ts_click"] == _ts(9)


# ------------------------------------------------------------------ layout
def test_zorder_key_interleaves_bits(spark):
    from kafka_sink_azure_kusto_spark.operators.layout import zorder_key

    df = spark.createDataFrame([(0b101, 0b011)], ["x", "y"])
    out = zorder_key(df, ["x", "y"], bits=3).collect()[0]
    # x bits at even positions, y bits at odd:
    # x=101 -> bits 0,2,4 = 1,0,1 ; y=011 -> bits 1,3,5 = 1,1,0
    # zkey (b5..b0) = 0,1,1,0,1,1 = 0b011011
    assert out["zkey"] == 0b011011


def test_zorder_key_locality(spark):
    from kafka_sink_azure_kusto_spark.operators.layout import zorder_key

    rows = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = {(r["x"], r["y"]): r["zkey"] for r in zorder_key(df, ["x", "y"], bits=3).collect()}
    # quadrant property: all of [0,4)x[0,4) sorts before any of [4,8)x[4,8)
    assert max(got[(x, y)] for x in range(4) for y in range(4)) < min(
        got[(x, y)] for x in range(4, 8) for y in range(4, 8)
    )


def test_zorder_key_rejects_too_wide(spark):
    from kafka_sink_azure_kusto_spark.operators.layout import zorder_key

    df = spark.createDataFrame([(1, 1)], ["x", "y"])
    with pytest.raises(ValueError, match="exceeds 63"):
        zorder_key(df, ["x", "y"], bits=32)


# --------------------------------------------------------------- gap fill
def test_calendar_fill_zero_rows_for_missing_hours(spark):
    from kafka_sink_azure_kusto_spark.operators.timeline import calendar_fill

    rows = [
        Row(event_type="a", ts=_ts(0), value=1.0),
        Row(event_type="a", ts=_ts(3 * 3600), value=2.0),  # hours 1,2 missing
        Row(event_type="b", ts=_ts(3600), value=5.0),
    ]
    out = calendar_fill(spark.createDataFrame(rows))
    # span = hours 0..3, two groups -> 8 dense rows
    assert out.count() == 8
    a = {r["bucket_start"].hour: (r["n"], r["total_value"]) for r in
         out.filter("event_type='a'").collect()}
    assert a[0] == (1, 1.0) and a[1] == (0, 0.0) and a[2] == (0, 0.0)
    assert a[3] == (1, 2.0)
    b = {r["bucket_start"].hour: r["n"] for r in out.filter("event_type='b'").collect()}
    assert b == {0: 0, 1: 1, 2: 0, 3: 0}


# ------------------------------------------------------------------ kmeans
def test_kmeans_lloyd_step_assignment_and_means(spark):
    from kafka_sink_azure_kusto_spark.functions.similarity import kmeans_lloyd_step

    rows = [
        (0, [1.0, 0.0]),   # seed cell 0
        (1, [0.0, 1.0]),   # seed cell 1
        (2, [0.9, 0.1]),   # → cell 0
        (3, [0.1, 0.9]),   # → cell 1
        (4, [0.8, 0.2]),   # → cell 0
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {(r["cell"], r["dim"]): r for r in kmeans_lloyd_step(emb, k=2).collect()}
    assert out[(0, 0)]["n_members"] == 3 and out[(1, 0)]["n_members"] == 2
    assert out[(0, 0)]["mean_x"] == 0.9  # (1.0+0.9+0.8)/3
    assert out[(1, 1)]["mean_x"] == 0.95  # (1.0+0.9)/2


def test_kmeans_lloyd_step_tie_breaks_to_smaller_cell(spark):
    from kafka_sink_azure_kusto_spark.functions.similarity import kmeans_lloyd_step

    # identical seeds → every vector ties; all must land in cell 0
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.5, 0.5])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = kmeans_lloyd_step(emb, k=2).collect()
    cells = {r["cell"] for r in out}
    assert cells == {0}


# ---------------------------------------------------------------- bigram LM
def test_bigram_lm_conditional_probability(spark, sf_dir):
    import math

    from kafka_sink_azure_kusto_spark.plans.registry_r5 import text_bigram_lm_score

    out = text_bigram_lm_score(spark, sf_dir)
    row = out.filter("doc_id = 0").collect()[0]
    assert row["n_bigrams"] > 0
    # logprob of a conditional ≤ 0 always
    assert row["mean_bigram_logprob"] <= 0.0
    assert math.isfinite(row["mean_bigram_logprob"])


# --------------------------------------------------------------- z-scores
def test_series_zscores_flags_spike_and_silence(spark):
    from kafka_sink_azure_kusto_spark.operators.timeline import series_zscores

    rows = []
    # type 'a': 1 event/hour for hours 0..9 except a 10-event spike at
    # hour 5 and silence at hour 7
    eid = 0
    for h in range(10):
        n = 10 if h == 5 else (0 if h == 7 else 1)
        for _ in range(n):
            rows.append(Row(event_type="a", ts=_ts(h * 3600), value=1.0, event_id=eid))
            eid += 1
    out = {r["bucket_start"].hour: r for r in
           series_zscores(spark.createDataFrame(rows)).collect()}
    assert out[5]["zscore"] > 2.0       # the spike
    assert out[7]["zscore"] < 0         # the silent hour exists and is below mean
    assert out[7]["n"] == 0
    assert abs(out[0]["zscore"]) < 1.0  # normal hour


def test_series_zscores_drops_degenerate_groups(spark):
    from kafka_sink_azure_kusto_spark.operators.timeline import series_zscores

    # constant series → zero variance → dropped, no ±inf rows
    rows = [Row(event_type="c", ts=_ts(h * 3600), value=1.0, event_id=h)
            for h in range(5)]
    out = series_zscores(spark.createDataFrame(rows)).collect()
    assert out == []


# ---------------------------------------------------------------- cohorts
def test_retention_cohorts_triangle(spark):
    import datetime as dt

    from kafka_sink_azure_kusto_spark.operators.timeline import retention_cohorts

    def m(month, day=1):
        return dt.datetime(2026, month, day)

    rows = [
        # user 1: first in Jan, returns in Feb and Apr
        Row(user_id=1, ts=m(1)), Row(user_id=1, ts=m(2)), Row(user_id=1, ts=m(4)),
        # user 2: first in Jan only
        Row(user_id=2, ts=m(1, 15)),
        # user 3: first in Feb, returns in Mar
        Row(user_id=3, ts=m(2)), Row(user_id=3, ts=m(3)),
    ]
    out = {(r["cohort_month"].month, r["month_offset"]): r["n_users"]
           for r in retention_cohorts(spark.createDataFrame(rows)).collect()}
    assert out[(1, 0)] == 2  # Jan cohort: both active in month 0
    assert out[(1, 1)] == 1  # only user 1 returned in Feb
    assert out[(1, 3)] == 1  # user 1 in Apr
    assert out[(2, 0)] == 1 and out[(2, 1)] == 1  # Feb cohort = user 3
    assert (1, 2) not in out  # nobody from Jan active in Mar


# ---------------------------------------------------------- edit distance
def test_blocked_editdistance_finds_prefix_sharing_neardups(spark):
    from kafka_sink_azure_kusto_spark.functions.dedup import blocked_editdistance_pairs

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),   # 1 edit word
            (2, "the quick brown fox sleeps all day long"),        # same prefix, far
            (3, "completely different text here with no overlap"),
        ],
        ["doc_id", "text"],
    )
    out = {(r["left_id"], r["right_id"]): r["edit_distance"]
           for r in blocked_editdistance_pairs(docs, block_tokens=4, max_distance=5).collect()}
    assert (0, 1) in out and out[(0, 1)] == 3  # dog→cat
    assert (0, 2) not in out                   # same block, distance > 5
    assert all(3 not in pair for pair in out)  # different block never compared


def test_blocked_editdistance_misses_prefix_edits_documented(spark):
    from kafka_sink_azure_kusto_spark.functions.dedup import blocked_editdistance_pairs

    # duplicate pair whose ONLY edit is in the blocking prefix → missed
    # (the documented trade-off; run multiple block keys for recall)
    docs = spark.createDataFrame(
        [(0, "aaa bbb ccc ddd eee"), (1, "aaX bbb ccc ddd eee")],
        ["doc_id", "text"],
    )
    assert blocked_editdistance_pairs(docs, block_tokens=4, max_distance=5).count() == 0


# ----------------------------------------------------------------- profile
def test_profile_table_single_pass_stats(spark):
    from kafka_sink_azure_kusto_spark.functions.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, None), (None, "a")],
        "x long, s string",
    )
    out = {r["col_name"]: r for r in
           profile_table(df, numeric_cols=["x"], string_cols=["s"]).collect()}
    assert out["x"]["n_rows"] == 4 and out["x"]["n_nulls"] == 1
    assert out["x"]["n_distinct"] == 2
    assert out["x"]["min_num"] == 1.0 and out["x"]["max_num"] == 2.0
    assert out["x"]["min_str"] is None
    assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 2
    assert out["s"]["min_str"] == "a" and out["s"]["max_str"] == "b"
    assert out["s"]["min_num"] is None


def test_profile_table_requires_columns(spark):
    from kafka_sink_azure_kusto_spark.functions.profile import profile_table

    df = spark.createDataFrame([(1,)], ["x"])
    with pytest.raises(ValueError, match="no columns"):
        profile_table(df)


# ------------------------------------------------------------ empty inputs
def test_new_operators_tolerate_empty_input(spark):
    """Every r5 operator must return an empty (not crashing) frame on an
    empty source — the first batch of a backfill is often empty."""
    from kafka_sink_azure_kusto_spark.functions.dedup import (
        blocked_editdistance_pairs,
        incremental_exact_dedup,
    )
    from kafka_sink_azure_kusto_spark.operators.timeline import (
        calendar_fill,
        funnel_stages,
        retention_cohorts,
        series_zscores,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_events = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    assert segment_dedup(empty_docs).count() == 0
    assert blocked_editdistance_pairs(empty_docs).count() == 0
    assert incremental_exact_dedup(empty_docs, empty_docs).count() == 0
    assert scd2_compact(empty_events).count() == 0
    assert rolling_features(empty_events).count() == 0
    assert funnel_stages(empty_events).count() == 0
    assert calendar_fill(empty_events).count() == 0
    assert series_zscores(empty_events).count() == 0
    assert retention_cohorts(empty_events).count() == 0
