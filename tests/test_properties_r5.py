"""Property tests (hypothesis) for round-5 operators: CUSUM closed-form
vs the textbook fold, digit-sketch bucket correctness vs a Python rank
computation, stratified-sample fraction monotonicity, and golden-record
survivorship invariants."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from etl_java_spark.operators.sketch import digit_histogram, digit_quantiles
from etl_java_spark.operators.timeseries import cusum_summary


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(0, 10**6), min_size=1, max_size=40),
    st.integers(1, 5),
    st.integers(6, 40),
)
def test_cusum_closed_form_equals_fold(spark, vals, num, den):
    df = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(vals)], ["k", "t", "cents"]
    )
    n, S = len(vals), sum(vals)
    s = best = 0
    alarms = []
    for i, v in enumerate(vals):
        s = max(0, s + (n * v - S))
        best = max(best, s)
        if s * den > num * n * S:
            alarms.append(i)
    r = cusum_summary(df, "k", "t", "cents", alarm_num=num, alarm_den=den).first()
    assert int(r["max_cusum_scaled"]) == best
    assert r["n_alarms"] == len(alarms)
    assert r["first_alarm"] == (alarms[0] if alarms else None)
    assert r["total_cents"] == S


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(1, 10**9), min_size=3, max_size=60),
    st.sampled_from([0.25, 0.5, 0.75, 0.9]),
)
def test_digit_sketch_bucket_contains_rank_element(spark, vals, q):
    import math

    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    out = {
        r["q"]: r for r in digit_quantiles(digit_histogram(df, "v"), [q]).collect()
    }
    r = out[q]
    # the element at rank ceil(q*N) (1-based over the sorted values)
    # must sit inside the reported bucket
    k = math.ceil(q * len(vals))
    elem = sorted(vals)[k - 1]
    assert r["est_lo"] <= elem < r["est_hi"]
    assert r["n_total"] == len(vals)


@settings(max_examples=6, deadline=None)
@given(st.integers(0, 10000), st.integers(0, 10000))
def test_stratified_sample_fraction_monotone(spark, f1, f2):
    from etl_java_spark.operators.sampling import stratified_sample

    lo, hi = sorted([f1, f2])
    df = spark.createDataFrame([(i, "s") for i in range(200)], ["k", "s"])
    a = {
        r["k"]
        for r in stratified_sample(df, "s", {"s": lo / 10000}, "k").collect()
    }
    b = {
        r["k"]
        for r in stratified_sample(df, "s", {"s": hi / 10000}, "k").collect()
    }
    # a larger fraction strictly extends the selection (nested samples)
    assert a <= b


def test_golden_records_invariants(spark):
    from etl_java_spark.operators.dedup import cluster_golden_records

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a2", 30.0), (3, "b", 5.0), (9, "a3", 20.0)],
        ["id", "name", "bal"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 9)], ["id_a", "id_b"])
    out = cluster_golden_records(df, pairs, "id", max_cols=["bal"]).collect()
    assert len(out) == 1
    r = out[0]
    assert r["cluster_id"] == 1          # min reachable id
    assert r["n_members"] == 3           # {1, 2, 9} via transitivity
    assert r["name"] == "a"              # survivor attributes = min-id row
    assert r["max_bal"] == 30.0          # freshness column takes cluster MAX
    assert r["bal"] == 10.0              # survivor's own value kept too


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12),
        min_size=2,
        max_size=12,
    ),
    st.sampled_from([0.3, 0.5, 0.8]),
)
def test_ngram_jaccard_matches_python_reference(spark, docs, t):
    from etl_java_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def shingles(toks):
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    want = {}
    sets = {i: shingles(toks) for i, toks in enumerate(docs)}
    for i in sets:
        for j in sets:
            if i < j:
                inter = len(sets[i] & sets[j])
                uni = len(sets[i] | sets[j])
                jac = inter / uni if uni else 0.0
                if jac >= t:
                    want[(i, j)] = jac
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "text", "doc_id", 3, t, 10**9).collect()
    }
    assert got.keys() == want.keys(), (got, want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-15
