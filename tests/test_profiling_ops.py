"""Profiling/curation primitives: histogram, hash_split, snapshot_diff, exact-moment corr."""

import pytest

from bigdatapipelinepysparksqlserver_spark.operators.relational import (
    fixed_width_histogram,
)


def test_histogram_hand_computed(spark):
    # lo=0 hi=40 bins=4 → width 10; values chosen to hit bins 0,1,3,
    # leave bin 2 empty, and clamp -5 (→bin 0) and 99/40 (→bin 3)
    df = spark.createDataFrame(
        [(v,) for v in [-5, 0, 9, 10, 39, 40, 99]], "x long"
    )
    rows = fixed_width_histogram(df, "x", lo=0, hi=40, bins=4).collect()
    assert [r.bin_id for r in rows] != []  # materialized
    got = {r.bin_id: (r.bin_lo, r.bin_hi, r.cnt) for r in rows}
    assert len(rows) == 4  # empty bins emitted
    assert got[0] == (0, 10, 3)  # -5 clamped, 0, 9
    assert got[1] == (10, 20, 1)  # 10
    assert got[2] == (20, 30, 0)  # empty
    assert got[3] == (30, 40, 3)  # 39, 40 clamped, 99 clamped


def test_histogram_empty_input_is_all_zero_bins(spark):
    df = spark.createDataFrame([], "x long")
    rows = fixed_width_histogram(df, "x", lo=0, hi=100, bins=5).collect()
    assert len(rows) == 5
    assert all(r.cnt == 0 for r in rows)
    assert [r.bin_id for r in sorted(rows, key=lambda r: r.bin_id)] == list(
        range(5)
    )


@pytest.mark.parametrize(
    "lo,hi,bins",
    [(0, 100, 0), (100, 100, 4), (0, 10, 3), (10, 0, 2)],
)
def test_histogram_rejects_bad_params(spark, lo, hi, bins):
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError):
        fixed_width_histogram(df, "x", lo=lo, hi=hi, bins=bins)


# --- hash_split -----------------------------------------------------------

import hashlib

from bigdatapipelinepysparksqlserver_spark.operators.sampling import hash_split


def _expected_split(key: int) -> str:
    h = hashlib.md5(str(key).encode()).hexdigest()
    if h < "f5":
        return "train"
    if h < "fa":
        return "val"
    return "test"


def test_hash_split_matches_reference_md5(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    rows = hash_split(
        df, "doc_id", [("train", "f5"), ("val", "fa"), ("test", None)]
    ).collect()
    assert len(rows) == 500
    for r in rows:
        assert r.split == _expected_split(r.doc_id), r.doc_id
    labels = {r.split for r in rows}
    assert labels == {"train", "val", "test"}  # 500 keys hit all three


def test_hash_split_is_partition_independent(spark):
    df1 = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    bounds = [("a", "80"), ("b", None)]
    one = {r.doc_id: r.split for r in hash_split(df1, "doc_id", bounds).collect()}
    many = {
        r.doc_id: r.split
        for r in hash_split(df1.repartition(17), "doc_id", bounds).collect()
    }
    assert one == many


def test_hash_split_nests_with_hash_gate(spark):
    # a hash_sample below the train boundary stays inside train
    from bigdatapipelinepysparksqlserver_spark.operators.sampling import (
        hash_sample,
    )

    df = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    labeled = hash_split(df, "doc_id", [("train", "f5"), ("rest", None)])
    sampled = {r.doc_id for r in hash_sample(df, "doc_id", "40").collect()}
    train = {r.doc_id for r in labeled.where("split = 'train'").collect()}
    assert sampled <= train


@pytest.mark.parametrize(
    "bounds",
    [
        [],
        [("a", "80")],  # no catch-all
        [("a", None), ("b", None)],  # None not last-only
        [("a", "90"), ("b", "80"), ("c", None)],  # not ascending
        [("a", "80"), ("b", "80"), ("c", None)],  # duplicate
    ],
)
def test_hash_split_rejects_bad_boundaries(spark, bounds):
    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError):
        hash_split(df, "doc_id", bounds)


# --- snapshot_diff ---------------------------------------------------------

from bigdatapipelinepysparksqlserver_spark.operators.relational import (
    snapshot_diff,
)


def test_snapshot_diff_all_four_statuses(spark):
    old = spark.createDataFrame(
        [(1, "a", "s1"), (2, "b", "s1"), (3, "c", "s2")],
        "k long, fp string, src string",
    )
    new = spark.createDataFrame(
        [(2, "b", "s1"), (3, "C", "s2"), (4, "d", "s3")],
        "k long, fp string, src string",
    )
    rows = {
        r.k: (r.status, r.src)
        for r in snapshot_diff(old, new, "k", "fp", carry_cols=("src",)).collect()
    }
    assert rows == {
        1: ("removed", "s1"),
        2: ("unchanged", "s1"),
        3: ("changed", "s2"),
        4: ("added", "s3"),
    }


def test_snapshot_diff_empty_sides(spark):
    empty = spark.createDataFrame([], "k long, fp string")
    some = spark.createDataFrame([(1, "x")], "k long, fp string")
    assert [
        (r.k, r.status) for r in snapshot_diff(empty, some, "k", "fp").collect()
    ] == [(1, "added")]
    assert [
        (r.k, r.status) for r in snapshot_diff(some, empty, "k", "fp").collect()
    ] == [(1, "removed")]


# --- grouped_pearson_corr --------------------------------------------------

import pyspark.sql.functions as F

from bigdatapipelinepysparksqlserver_spark.operators.stats import (
    grouped_pearson_corr,
    scaled_bigint,
)


def test_pearson_exact_cases(spark):
    rows = (
        # g=pos: y = 2x (perfect +1); g=neg: y = -x (perfect -1);
        # g=flat: zero variance in y (NULL); g=mix: hand-computed
        [("pos", x, 2 * x) for x in range(1, 6)]
        + [("neg", x, -x) for x in range(1, 6)]
        + [("flat", x, 7) for x in range(1, 6)]
        + [("mix", 1, 2), ("mix", 2, 1), ("mix", 3, 4), ("mix", 4, 3)]
    )
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {
        r.g: (r.n, r.corr)
        for r in grouped_pearson_corr(df, ["g"], F.col("x"), F.col("y")).collect()
    }
    assert got["pos"] == (5, 1.0)
    assert got["neg"] == (5, -1.0)
    assert got["flat"][0] == 5 and got["flat"][1] is None
    # mix: numpy reference
    import numpy as np

    xs = np.array([1, 2, 3, 4], dtype=float)
    ys = np.array([2, 1, 4, 3], dtype=float)
    expected = round(float(np.corrcoef(xs, ys)[0, 1]), 6)
    assert got["mix"] == (4, expected)


def test_pearson_partition_independent(spark):
    rows = [("g", i, (i * 37) % 11) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    one = grouped_pearson_corr(df.coalesce(1), ["g"], F.col("x"), F.col("y")).collect()
    many = grouped_pearson_corr(
        df.repartition(13), ["g"], F.col("x"), F.col("y")
    ).collect()
    assert one[0].corr == many[0].corr  # bit-identical, not approx


def test_scaled_bigint_rounding(spark):
    df = spark.createDataFrame([(1.2345675,), (0.0,), (2.5e-7,)], "v double")
    vals = sorted(
        r.s for r in df.select(scaled_bigint(F.col("v")).alias("s")).collect()
    )
    assert vals == [0, 1234568, 1234568] or vals == [0, 0, 1234568]  # ties rare
    # deterministic: re-run equals
    again = sorted(
        r.s for r in df.select(scaled_bigint(F.col("v")).alias("s")).collect()
    )
    assert vals == again


# --- hash_fold -------------------------------------------------------------

from bigdatapipelinepysparksqlserver_spark.operators.sampling import hash_fold


def test_hash_fold_reference_and_partition_independent(spark):
    df = spark.createDataFrame([(i,) for i in range(400)], "doc_id long")
    got = {r.doc_id: r.fold for r in hash_fold(df, "doc_id", 5).collect()}
    expected = {
        i: int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 5
        for i in range(400)
    }
    assert got == expected
    assert set(got.values()) == set(range(5))  # all folds hit
    again = {
        r.doc_id: r.fold
        for r in hash_fold(df.repartition(11), "doc_id", 5).collect()
    }
    assert got == again


def test_hash_fold_rejects_bad_k(spark):
    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError):
        hash_fold(df, "doc_id", 0)


# --- leakage-safe split ----------------------------------------------------


def test_leakage_safe_split_never_straddles_groups(spark):
    from bigdatapipelinepysparksqlserver_spark.queries.training_queries import (
        SPLIT_BOUNDS,
    )
    from bigdatapipelinepysparksqlserver_spark.operators.sampling import (
        hash_split,
    )

    # 60 groups x 5 clones: group-keyed split must keep every clone set
    # in exactly one split, and the three splits must all be non-empty
    rows = [(g * 100 + i, f"group text {g}") for g in range(60) for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = docs.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fp")
    )
    reps = fp.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    lab = hash_split(fp.join(reps, "fp"), "rep", SPLIT_BOUNDS)
    per_group = lab.groupBy("fp").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert per_group.where("n_splits > 1").count() == 0
    splits = {r.split for r in lab.select("split").distinct().collect()}
    assert "train" in splits and len(splits) >= 2  # 60 groups spread out


# --- equi_depth_histogram --------------------------------------------------

from bigdatapipelinepysparksqlserver_spark.operators.stats import (
    equi_depth_histogram,
)


def test_equi_depth_balanced_on_uniform_data(spark):
    # 0..99 into 4 bins: exact quartile edges → exactly 25 per bin
    df = spark.createDataFrame([(i,) for i in range(100)], "x long")
    got = {r.bin_id: r.cnt for r in equi_depth_histogram(df, "x", 4).collect()}
    assert got == {0: 25, 1: 25, 2: 25, 3: 25}


def test_equi_depth_skewed_data_stays_balanced(spark):
    # heavy skew: 90 copies of 1 plus 10 spread values — equi-depth
    # puts the mass where the data is (duplicate edges leave interior
    # bins empty; totals always equal N)
    rows = [(1,)] * 90 + [(v,) for v in range(100, 110)]
    df = spark.createDataFrame(rows, "x long")
    got = {r.bin_id: r.cnt for r in equi_depth_histogram(df, "x", 4).collect()}
    assert sum(got.values()) == 100
    assert len(got) == 4
    # all three edges collapse onto the spike value (q25=q50=q75=1);
    # `v < edge` is false at every collapsed edge, so the spike falls
    # through to the LAST bin and the duplicate-edge bins stay empty
    assert got == {0: 0, 1: 0, 2: 0, 3: 100}


def test_equi_depth_rejects_bad_bins(spark):
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError):
        equi_depth_histogram(df, "x", 1)


# --- embedding_dq_report ---------------------------------------------------

from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
    embedding_dq_report,
)


def test_embedding_dq_flags_each_violation_class(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),          # clean, norm 1
        (2, [0.0, 0.0, 0.0]),          # zero norm
        (3, [1.0, 2.0]),               # wrong dim (still finite, norm √5)
        (4, [float("nan"), 0.0, 0.0]), # NaN
        (5, [float("inf"), 0.0, 0.0]), # Inf
        (6, [3.0, 4.0, 0.0]),          # clean, norm 5
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r = embedding_dq_report(df, dim=3).collect()[0]
    assert r.n_vectors == 6
    assert r.n_wrong_dim == 1
    assert r.n_nonfinite == 2
    assert r.n_zero_norm == 1
    assert r.min_norm == 0.0
    assert r.max_norm == 5.0


def test_embedding_dq_clean_table(spark):
    df = spark.createDataFrame(
        [(i, [float(i + 1), 0.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    r = embedding_dq_report(df, dim=2).collect()[0]
    assert (r.n_wrong_dim, r.n_nonfinite, r.n_zero_norm) == (0, 0, 0)
    assert (r.min_norm, r.max_norm) == (1.0, 10.0)


def test_chi2_independence_known_table(spark):
    """2×2 table with hand-computable chi-square: rows built so the
    statistic has a closed form, checked against a float reference."""
    from bigdatapipelinepysparksqlserver_spark.operators.stats import (
        chi2_independence,
    )

    # arm 0: 30 converted / 70 not; arm 1: 50 / 50
    rows = (
        [("a", 1)] * 30 + [("a", 0)] * 70 + [("b", 1)] * 50 + [("b", 0)] * 50
    )
    df = spark.createDataFrame(rows, "arm string, converted int")
    got = chi2_independence(df, "arm", "converted").collect()[0]
    assert got["n"] == 200 and got["dof"] == 1

    def ref():
        obs = {("a", 1): 30, ("a", 0): 70, ("b", 1): 50, ("b", 0): 50}
        rt = {"a": 100, "b": 100}
        ct = {0: 120, 1: 80}
        s = 0
        for (r, c), o in obs.items():
            e = rt[r] * ct[c] / 200.0
            s += round((o - e) * (o - e) / e * 1e9)
        return round(s / 1e9, 6)

    assert got["chi2"] == ref()


def test_chi2_independence_is_zero_when_independent(spark):
    """Perfectly proportional table → statistic exactly 0."""
    from bigdatapipelinepysparksqlserver_spark.operators.stats import (
        chi2_independence,
    )

    rows = [("a", 1)] * 20 + [("a", 0)] * 80 + [("b", 1)] * 10 + [("b", 0)] * 40
    df = spark.createDataFrame(rows, "arm string, converted int")
    assert chi2_independence(df, "arm", "converted").collect()[0]["chi2"] == 0.0


def test_chi2_independence_empty_cell_contributes_expected(spark):
    """A contingency cell with ZERO observed count (arm 'a' never
    converts) must contribute its full expected term (0−e)²/e = e —
    the pre-r8 implementation dropped absent cells entirely,
    understating the statistic (here 4.166667 instead of 6.666667)."""
    from bigdatapipelinepysparksqlserver_spark.operators.stats import (
        chi2_independence,
    )

    rows = [("a", 0)] * 10 + [("b", 0)] * 5 + [("b", 1)] * 5
    df = spark.createDataFrame(rows, "arm string, converted int")
    got = chi2_independence(df, "arm", "converted").collect()[0]
    assert got["n"] == 20 and got["dof"] == 1
    # full grid: e(a,0)=7.5 e(a,1)=2.5 e(b,0)=7.5 e(b,1)=2.5
    # chi2 = 2.5²/7.5 + 2.5²/2.5 + 2.5²/7.5 + 2.5²/2.5 = 20/3
    assert got["chi2"] == 6.666667


def test_value_drift_psi_contract(spark):
    """PSI is symmetric-signless and zero iff the smoothed shares
    match; the per-bin terms must sum to the reported total and every
    row must carry the same total."""
    from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY

    rows = REGISTRY["value_drift_psi"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    totals = {r["psi"] for r in rows}
    assert len(totals) == 1
    psi = totals.pop()
    assert psi >= 0.0  # each (pa-pb)ln(pa/pb) term is nonnegative
    assert abs(sum(r["psi_term"] for r in rows) - psi) < 1e-6 * len(rows)
    for r in rows:
        assert r["psi_term"] >= 0.0
        assert r["ref_count"] + r["cur_count"] > 0


def test_weighted_median_bruteforce(spark, tmp_path):
    """Exact weighted median vs an explicit expansion (each row repeated
    qty times → plain lower median), including a tie-on-boundary case
    where cumulative weight lands exactly on half."""
    rows = [
        ("A", 10.00, 1), ("A", 20.00, 2), ("A", 30.00, 1),  # cum 1,3,4 → 2*3>=4 at 20
        ("B", 5.00, 2), ("B", 7.00, 2),                     # 2*2>=4 exactly at 5
        ("C", 9.99, 5),
    ]
    df = spark.createDataFrame(
        [(f, p, q, "x", "y") for f, p, q in rows],
        "l_returnflag string, l_extendedprice double, l_quantity long,"
        " pad1 string, pad2 string",
    )
    df.write.parquet(str(tmp_path / "lineitem.parquet"))

    from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY

    got = {
        r["flag"]: (r["total_qty"], r["median_price_cents"])
        for r in REGISTRY["weighted_median_price"].fn(
            spark, str(tmp_path)
        ).collect()
    }

    def brute(flag):
        exp = sorted(
            int(round(p * 100))
            for f, p, q in rows
            if f == flag
            for _ in range(q)
        )
        # lower median: first value where cumulative count*2 >= total
        for i, v in enumerate(exp, 1):
            if 2 * i >= len(exp):
                return v

    for f in "ABC":
        total = sum(q for ff, _, q in rows if ff == f)
        assert got[f] == (total, brute(f)), f


def test_ks_two_sample_known_values(spark):
    """KS statistic against a pure-python empirical-CDF reference:
    identical samples → 0; disjoint supports → 1; a hand-built partial
    shift matches max|F_a−F_b| computed directly; and the bucketed
    segmented-prefix-sum decomposition is invariant to bucket width."""
    from bigdatapipelinepysparksqlserver_spark.operators.stats import (
        ks_two_sample,
    )

    def ref_ks(a, b):
        xs = sorted(set(a) | set(b))
        best = 0.0
        for x in xs:
            fa = sum(1 for v in a if v <= x) / len(a)
            fb = sum(1 for v in b if v <= x) / len(b)
            best = max(best, abs(fa - fb))
        return round(best, 6)

    def run(a, b, width=25_000_000):
        rows = [(v, 1) for v in a] + [(v, 0) for v in b]
        df = spark.createDataFrame(rows, "v long, is_ref int")
        r = ks_two_sample(df, bucket_width=width).collect()[0]
        assert (r.n_ref, r.n_cur) == (len(a), len(b))
        return r.ks

    same = [1, 5, 9, 9, 100_000_000, 200_000_000]
    assert run(same, same) == 0.0
    lo = [1, 2, 3, 4]
    hi = [50_000_000, 60_000_000, 70_000_000]
    assert run(lo, hi) == 1.0  # disjoint supports

    a = [1, 2, 3, 30_000_000, 30_000_001, 90_000_000]
    b = [2, 3, 3, 40_000_000, 90_000_000, 90_000_001, 90_000_002]
    want = ref_ks(a, b)
    assert run(a, b) == want
    # bucket decomposition is an implementation detail: any width gives
    # the same statistic (values span several buckets at width=10)
    assert run(a, b, width=10) == want
    assert run(a, b, width=10**12) == want
