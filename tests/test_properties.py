"""Property-based tests (hypothesis): algebraic laws the operators must
hold for ANY input, not just the fixtures — merge-policy laws and the
structural guarantees of the near-dup family.

Each property runs a handful of examples (Spark jobs are ~1s each);
the generators bias toward the nasty cases: duplicate keys, equal
timestamps, empty strings, repeated documents.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Row

from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators import (
    joins,
    merge,
    neardup,
)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_keys = st.integers(min_value=0, max_value=5)
_vals = st.text(alphabet="abc", min_size=0, max_size=3)


@given(
    target=st.lists(st.tuples(_keys, _vals), min_size=0, max_size=8),
    batch=st.lists(st.tuples(_keys, _vals), min_size=1, max_size=8),
)
@_SETTINGS
def test_merge_insert_only_laws(spark, target, batch):
    """(1) existing keys never change; (2) applying the same batch
    twice equals once (idempotent); (3) every batch key ends up
    present."""
    tdf = spark.createDataFrame(
        [Row(k=k, v=v) for k, v in target], "k int, v string"
    ).dropDuplicates(["k"])
    bdf = spark.createDataFrame(
        [Row(k=k, v=v) for k, v in batch], "k int, v string"
    ).dropDuplicates(["k"])
    once = merge.merge_insert_only(tdf, bdf, ["k"])
    twice = merge.merge_insert_only(once, bdf, ["k"])
    got_once = {r["k"]: r["v"] for r in once.collect()}
    got_twice = {r["k"]: r["v"] for r in twice.collect()}
    t_map = {r["k"]: r["v"] for r in tdf.collect()}
    b_map = {r["k"]: r["v"] for r in bdf.collect()}
    assert got_twice == got_once
    for k, v in t_map.items():
        assert got_once[k] == v
    assert set(got_once) == set(t_map) | set(b_map)


@given(
    events=st.lists(
        st.tuples(_keys, st.integers(min_value=0, max_value=4), _vals),
        min_size=1,
        max_size=10,
    )
)
@_SETTINGS
def test_merge_scd1_latest_wins_regardless_of_batch_split(spark, events):
    """Applying updates in one batch vs one-at-a-time (in any order of
    arrival) converges to the same final state: per key, the value of
    the strictly-newest timestamp wins; ties keep the incumbent."""
    rows = [Row(k=k, ts=ts, v=v) for k, ts, v in events]
    empty = spark.createDataFrame([], "k int, ts int, v string")
    all_at_once = merge.merge_scd1(
        empty,
        spark.createDataFrame(rows, "k int, ts int, v string"),
        ["k"],
        "ts",
    )
    one_by_one = empty
    for r in rows:
        one_by_one = merge.merge_scd1(
            one_by_one,
            spark.createDataFrame([r], "k int, ts int, v string"),
            ["k"],
            "ts",
        )
    a = {r["k"]: r["ts"] for r in all_at_once.collect()}
    b = {r["k"]: r["ts"] for r in one_by_one.collect()}
    # timestamps must agree (values can differ on exact-tie timestamps,
    # where "newest" is ambiguous by construction)
    assert a == b


_doc = st.text(alphabet="ab ", min_size=0, max_size=40)


@given(docs=st.lists(_doc, min_size=1, max_size=6))
@_SETTINGS
def test_lsh_identical_docs_always_candidates(spark, docs):
    """Exact duplicates have identical minhash signatures, hence share
    every band — LSH must always emit the pair (recall=1 for exact
    dups, the floor guarantee under any banding)."""
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
    # duplicate the first doc under a new id
    rows.append(Row(doc_id=len(docs), text=docs[0]))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in neardup.lsh_candidate_pairs(
            df, "doc_id", "text", num_hashes=8, bands=4
        ).collect()
    }
    assert (0, len(docs)) in pairs


@given(
    shared=st.lists(st.sampled_from(["x", "y", "z"]), min_size=6, max_size=10),
    pre=st.lists(st.sampled_from(["a", "b"]), min_size=0, max_size=4),
    post=st.lists(st.sampled_from(["c", "d"]), min_size=0, max_size=4),
)
@_SETTINGS
def test_winnowing_shared_run_guarantee(spark, shared, pre, post):
    """Winnowing guarantee (SIGMOD'03): two docs sharing a token run of
    length ≥ window + shingle − 1 share at least one fingerprint."""
    doc_a = " ".join(pre + shared)
    doc_b = " ".join(shared + post)
    df = spark.createDataFrame(
        [Row(doc_id=0, text=doc_a), Row(doc_id=1, text=doc_b)],
        "doc_id long, text string",
    )
    fps = neardup.winnow_fingerprints(df, "doc_id", "text", shingle_size=3, window=4)
    by_doc: dict[int, set] = {0: set(), 1: set()}
    for r in fps.collect():
        by_doc[r["doc_id"]].add(r["fp"])
    assert by_doc[0] & by_doc[1], "shared run produced no shared fingerprint"


# --- range_join_binned ----------------------------------------------------

_epochs = st.integers(min_value=0, max_value=40)
# spans bias toward degenerate cases: inverted (negative), zero-width,
# and bin-boundary-straddling intervals at bin_width_s=5
_spans = st.integers(min_value=-6, max_value=12)
_bounds = st.one_of(st.none(), _epochs)


@given(
    points=st.lists(_epochs, min_size=0, max_size=10),
    intervals=st.lists(st.tuples(_bounds, _spans), min_size=0, max_size=8),
)
@_SETTINGS
def test_range_join_binned_equals_naive_between(spark, points, intervals):
    """range_join_binned == the naive cross-join BETWEEN on arbitrary
    data, including points exactly on bin boundaries (epochs are small
    ints, bin_width_s=5 → multiples of 5 are boundary points), NULL
    bounds (non-matches), and inverted intervals (non-matches)."""
    pdf = spark.createDataFrame(
        [Row(pid=i, p=p) for i, p in enumerate(points)], "pid int, p long"
    )
    rows = []
    for i, (lo, span) in enumerate(intervals):
        hi = None if lo is None else lo + span
        rows.append(Row(iid=i, lo=lo, hi=hi))
    idf = spark.createDataFrame(rows, "iid int, lo long, hi long")
    got = {
        (r["pid"], r["iid"])
        for r in joins.range_join_binned(
            pdf, idf, "p", "lo", "hi", bin_width_s=5
        ).collect()
    }
    want = {
        (pid, i)
        for pid, p in enumerate(points)
        for i, (lo, span) in enumerate(intervals)
        if lo is not None and lo <= p <= lo + span
    }
    assert got == want


def test_range_join_binned_max_bins_error(spark):
    """A genuinely oversized (but well-formed) interval must fail loudly,
    not silently explode."""
    pdf = spark.createDataFrame([Row(pid=0, p=5)], "pid int, p long")
    idf = spark.createDataFrame([Row(iid=0, lo=0, hi=10_000)], "iid int, lo long, hi long")
    with pytest.raises(Exception, match="range_join_binned"):
        joins.range_join_binned(
            pdf, idf, "p", "lo", "hi", bin_width_s=1, max_bins_per_interval=100
        ).collect()


def test_range_join_binned_degenerate_rows_do_not_abort(spark):
    """One NULL-bound row and one inverted row must not kill the job
    (they are BETWEEN non-matches), and must not trip the max-bins
    guard via a negative span."""
    pdf = spark.createDataFrame([Row(pid=0, p=7)], "pid int, p long")
    idf = spark.createDataFrame(
        [
            Row(iid=0, lo=None, hi=100),       # NULL low
            Row(iid=1, lo=0, hi=None),         # NULL high
            Row(iid=2, lo=10_000, hi=0),       # inverted: would be a 10k-bin
            Row(iid=3, lo=5, hi=9),            # the one real match
        ],
        "iid int, lo long, hi long",
    )
    got = joins.range_join_binned(
        pdf, idf, "p", "lo", "hi", bin_width_s=1, max_bins_per_interval=100
    ).collect()
    assert [(r["pid"], r["iid"]) for r in got] == [(0, 3)]


# --- group_cap_sample hot-group pre-filter --------------------------------

_groups = st.sampled_from(["a", "b", "c"])


@given(
    rows=st.lists(st.tuples(st.integers(0, 500), _groups), min_size=1,
                  max_size=40, unique_by=lambda t: t[0]),
    ests=st.dictionaries(_groups, st.integers(-5, 10_000), max_size=3),
    cap=st.integers(min_value=1, max_value=4),
)
@_SETTINGS
def test_group_cap_prefilter_identity(spark, rows, ests, cap):
    """The hot-group pre-filter NEVER changes the selection — for any
    data, any cap, and arbitrarily WRONG size estimates (too small →
    filter inert; too large → filter over-drops and the recompute
    guard restores exactness)."""
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators import (
        sampling,
    )

    df = spark.createDataFrame(
        [Row(doc_id=i, grp=g) for i, g in rows], "doc_id long, grp string"
    )
    plain = sampling.group_cap_sample(df, "doc_id", "grp", cap)
    pre = sampling.group_cap_sample(
        df, "doc_id", "grp", cap, est_group_sizes=ests, oversample=1.0
    )
    a = {(r["doc_id"], r["grp"]) for r in plain.collect()}
    b = {(r["doc_id"], r["grp"]) for r in pre.collect()}
    assert a == b


# --- sequence packing (distributed prefix sum) ----------------------------


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(0, 50)),
        min_size=1, max_size=30, unique_by=lambda t: t[0],
    ),
    n_ranges=st.sampled_from([1, 4, 64]),
)
@_SETTINGS
def test_pack_sequences_prefix_sum_laws(spark, rows, n_ranges):
    """(1) bucket count never changes the result (the two-level scan
    equals the global scan); (2) spans tile [0, total) contiguously
    in hash order with no overlap; (3) pack ids match the spans."""
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators import (
        packing,
    )

    df = spark.createDataFrame(
        [Row(doc_id=i, n=n) for i, n in rows], "doc_id long, n long"
    )
    out = packing.pack_sequences(
        df, "doc_id", "n", capacity=7, n_ranges=n_ranges
    ).collect()
    base = packing.pack_sequences(
        df, "doc_id", "n", capacity=7, n_ranges=1
    ).collect()
    key = lambda r: (r["doc_id"], r["start_offset"], r["end_offset"],
                     r["pack_first"], r["pack_last"])
    assert sorted(map(key, out)) == sorted(map(key, base))
    spans = sorted((r["start_offset"], r["end_offset"]) for r in out)
    pos = 0
    for s, e in spans:
        assert s == pos and e >= s
        pos = e
    assert pos == sum(n for _, n in rows)
    for r in out:
        if r["n"] > 0:
            assert r["pack_first"] == r["start_offset"] // 7
            assert r["pack_last"] == (r["end_offset"] - 1) // 7
        else:
            assert r["pack_first"] == r["pack_last"]


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.floats(min_value=-100, max_value=100,
                      allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=12,
    )
)
@_SETTINGS
def test_robust_outlier_stats_matches_bruteforce(spark, rows):
    """median_c / mad_c / n_outliers must equal the brute-force
    definition on the quantized values for ANY input: lower median
    (smallest value with 2*cum >= n), MAD as lower median of absolute
    deviations, outliers past 10000*dev > 44478*mad."""
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.agg import (
        robust_outlier_stats,
    )
    import math

    df = spark.createDataFrame(
        [Row(k=k, v=float(v)) for k, v in rows], "k string, v double"
    )
    got = {r["k"]: r.asDict() for r in robust_outlier_stats(df, "k", "v").collect()}

    def lower_median(sorted_vals):
        n = len(sorted_vals)
        cum = 0
        for i, v in enumerate(sorted_vals):
            cum += 1
            if 2 * cum >= n:
                return v
        raise AssertionError

    by_group: dict[str, list[int]] = {}
    for k, v in rows:
        by_group.setdefault(k, []).append(int(math.floor(v * 100 + 0.5)))
    for k, cents in by_group.items():
        med = lower_median(sorted(cents))
        devs = sorted(abs(c - med) for c in cents)
        mad = lower_median(devs)
        n_out = sum(1 for d in devs if d * 10_000 > 44_478 * mad)
        assert got[k]["n"] == len(cents), k
        assert got[k]["median_c"] == med, k
        assert got[k]["mad_c"] == mad, k
        assert got[k]["n_outliers"] == n_out, k


@given(
    vecs=st.lists(
        st.tuples(
            st.floats(min_value=-5, max_value=5,
                      allow_nan=False, allow_infinity=False),
            st.floats(min_value=-5, max_value=5,
                      allow_nan=False, allow_infinity=False),
        ),
        min_size=2,
        max_size=8,
    ),
    iters=st.integers(min_value=1, max_value=2),
)
@_SETTINGS
def test_kmeans_refine_matches_bruteforce_lloyd(spark, vecs, iters):
    """Cluster sizes and inertia must equal a pure-Python replay of the
    identical quantized Lloyd iteration (same seeds, same tie-breaks,
    same engine-neutral centroid rounding)."""
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.similarity import (
        kmeans_refine,
    )
    import math

    k = 2
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(a), float(b)]) for i, (a, b) in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["cluster_id"]: (r["n_vectors"], r["inertia"])
        for r in kmeans_refine(df, "embedding", "vec_id", k=k, iters=iters).collect()
    }

    q = [[int(math.floor(x * 1000 + 0.5)) for x in v] for v in vecs]
    cents = [list(q[0]), list(q[1])]

    def assign(qv):
        dists = [sum((a - b) ** 2 for a, b in zip(qv, c)) for c in cents]
        best = dists.index(min(dists))  # first-match tie-break
        return best, dists[best]

    for _ in range(iters):
        groups: dict[int, list[list[int]]] = {}
        for qv in q:
            cl, _ = assign(qv)
            groups.setdefault(cl, []).append(qv)
        for j in range(k):
            if j in groups:
                n = len(groups[j])
                cents[j] = [
                    int(math.floor((2.0 * sum(m[i] for m in groups[j]) + n) / (2.0 * n)))
                    for i in range(2)
                ]
    expect: dict[int, list[int]] = {}
    for qv in q:
        cl, d = assign(qv)
        if cl not in expect:
            expect[cl] = [0, 0]
        expect[cl][0] += 1
        expect[cl][1] += d
    assert got == {cl: (n, inert) for cl, (n, inert) in expect.items()}


@given(
    changes=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),           # key
            st.integers(min_value=1, max_value=50),          # seq
            st.sampled_from(["I", "U", "D"]),
        ),
        min_size=1,
        max_size=10,
        unique_by=lambda t: t[1],  # unique seqs (a real changelog's LSN)
    ),
    split=st.integers(min_value=0, max_value=9),
)
@_SETTINGS
def test_apply_cdc_versioned_batch_split_invariance(spark, changes, split):
    """Applying the changelog as ONE batch, as TWO batches at any split
    point, or with the batches REVERSED (late delivery) must all
    produce the same table — the property that lets the streaming
    foreachBatch applier share a batch oracle."""
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge import (
        apply_cdc_versioned,
    )

    target = spark.createDataFrame(
        [Row(k=9, v="seed", seq=-1, op="U")], "k int, v string, seq long, op string"
    )
    rows = [Row(k=k, v=f"v{s}", seq=s, op=op) for k, s, op in changes]
    schema = "k int, v string, seq long, op string"

    def apply_batches(batches):
        t = target
        for b in batches:
            if b:
                t = apply_cdc_versioned(
                    t, spark.createDataFrame(b, schema), ["k"], "seq", "op"
                )
        return sorted(tuple(r) for r in t.collect())

    i = min(split, len(rows))
    one = apply_batches([rows])
    two = apply_batches([rows[:i], rows[i:]])
    rev = apply_batches([rows[i:], rows[:i]])
    assert one == two == rev


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),        # user
            st.sampled_from(["a", "b", "c"]),             # step/type
            st.integers(min_value=0, max_value=20),       # second
        ),
        min_size=1,
        max_size=15,
    )
)
@_SETTINGS
def test_funnel_counts_non_increasing_and_bounded(spark, events):
    """Strict funnels can never gain users down the funnel, and step 1
    equals the distinct users with that event type."""
    import datetime as dt

    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.behavior import (
        funnel_conversion,
    )

    rows = [
        Row(event_id=i, user_id=u, event_type=t,
            ts=dt.datetime(2024, 1, 1, 0, 0, s))
        for i, (u, t, s) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = {r["step_no"]: r["n_users"]
           for r in funnel_conversion(df, ["a", "b", "c"]).collect()}
    assert got[1] >= got[2] >= got[3] >= 0
    assert got[1] == len({u for u, t, _ in events if t == "a"})


@given(
    intervals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=15),
        ),
        min_size=1,
        max_size=12,
    )
)
@_SETTINGS
def test_merge_intervals_episodes_disjoint_and_cover(spark, intervals):
    """Episodes must (1) be pairwise disjoint with a gap between them,
    (2) jointly contain every input interval, (3) account for every
    interval exactly once."""
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.timeseries import (
        merge_intervals,
    )

    rows = [("k", s, s + w) for s, w in intervals]
    df = spark.createDataFrame(rows, ["k", "s", "e"])
    eps = sorted(
        (r["episode_start"], r["episode_end"], r["n_intervals"])
        for r in merge_intervals(df, ["k"], "s", "e").collect()
    )
    # disjoint with strict gaps
    for (s1, e1, _), (s2, e2, _) in zip(eps, eps[1:]):
        assert e1 < s2
    # coverage: every interval inside exactly one episode
    for s, w in intervals:
        containing = [1 for es, ee, _ in eps if es <= s and s + w <= ee]
        assert len(containing) == 1
    # conservation of interval count
    assert sum(n for _, _, n in eps) == len(intervals)


@given(
    vals=st.lists(
        st.floats(min_value=-50, max_value=50,
                  allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=20,
    ),
    n_bins=st.integers(min_value=1, max_value=5),
)
@_SETTINGS
def test_equi_depth_bins_laws(spark, vals, n_bins):
    """Bins: counts sum to total, value ranges are ordered and
    disjoint, no bin except heavy-value bins exceeds ~total/n_bins +
    max multiplicity."""
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.agg import (
        equi_depth_bins,
    )

    df = spark.createDataFrame([(float(v),) for v in vals], ["v"])
    bins = sorted(
        tuple(r) for r in equi_depth_bins(df, "v", n_bins=n_bins).collect()
    )
    assert sum(b[3] for b in bins) == len(vals)
    for (b1, lo1, hi1, _), (b2, lo2, hi2, _) in zip(bins, bins[1:]):
        assert b1 < b2 and lo1 <= hi1 < lo2 <= hi2


@given(
    ts=st.lists(st.integers(min_value=0, max_value=100),
                min_size=2, max_size=8, unique=True),
    a=st.integers(min_value=-5, max_value=5),
    b=st.integers(min_value=-100, max_value=100),
)
@_SETTINGS
def test_interpolate_series_reproduces_a_line(spark, ts, a, b):
    """Linear interpolation of points that lie on a line y = a·t + b
    must reproduce the line at every grid point (up to the 6-decimal
    rounding the operator applies)."""
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.timeseries import (
        interpolate_series,
    )

    rows = [("k", i, t, float(a * t + b)) for i, t in enumerate(sorted(ts))]
    df = spark.createDataFrame(rows, "k string, id long, t long, v double")
    got = interpolate_series(df, "k", "t", "v", 7, "id").collect()
    for r in got:
        assert abs(r["v_interp"] - (a * r["grid_t"] + b)) < 1e-6, r


@given(
    vals=st.lists(
        st.tuples(st.integers(min_value=0, max_value=50),
                  st.integers(min_value=0, max_value=1)),
        min_size=4, max_size=20,
    )
)
@_SETTINGS
def test_psi_drift_symmetric_and_zero_on_identical(spark, vals):
    """PSI is symmetric under cohort swap, and identical cohorts give
    (near-)zero PSI."""
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.agg import (
        psi_drift,
    )

    # ensure both cohorts non-empty
    rows = [(float(v), g) for v, g in vals] + [(1.0, 0), (1.0, 1)]
    df = spark.createDataFrame(rows, "v double, grp int")
    import pyspark.sql.functions as F

    psi = psi_drift(df, "v", "grp", 5).collect()[0]["psi"]
    swapped = df.select("v", (1 - F.col("grp")).alias("grp"))
    psi_sw = psi_drift(swapped, "v", "grp", 5).collect()[0]["psi"]
    assert abs(psi - psi_sw) < 1e-6
    dup = df.select("v", F.lit(0).alias("grp")).unionByName(
        df.select("v", F.lit(1).alias("grp"))
    )
    assert abs(psi_drift(dup, "v", "grp", 5).collect()[0]["psi"]) < 1e-9


@given(
    corpus=st.lists(
        st.lists(st.text(alphabet="ab", min_size=0, max_size=4),
                 min_size=1, max_size=6).map(" ".join),
        min_size=1, max_size=5,
    ),
    k=st.integers(min_value=1, max_value=3),
)
@_SETTINGS
def test_bpe_merges_equals_classic_reference(spark, corpus, k):
    """Random corpora: the separator-encoded distributed BPE must
    replay the classic greedy algorithm merge-for-merge (argmax, tie
    order, non-overlap application)."""
    from collections import Counter

    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.text import (
        bpe_merges,
    )

    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = [tuple(r) for r in bpe_merges(df, "text", k).collect()]

    words = Counter(w for line in corpus for w in line.split(" "))
    vocab = {tuple(w): c for w, c in words.items()}
    ref = []
    for i in range(k):
        pc = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        ref.append((i, a, b, n))
        new = {}
        for syms, c in vocab.items():
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            new[tuple(out)] = new.get(tuple(out), 0) + c
        vocab = new
    assert got == ref


@given(
    n_words=st.integers(min_value=1, max_value=90),
    window=st.integers(min_value=1, max_value=10),
    stride=st.integers(min_value=1, max_value=10),
)
@_SETTINGS
def test_chunk_documents_covers_exactly(spark, n_words, window, stride):
    """Chunk laws: chunk count = ceil(n/stride); chunk i starts at word
    i*stride; the stride-prefixes of the chunks reconstruct the doc
    when stride <= window (full coverage, no gaps)."""
    import math

    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.text import (
        chunk_documents,
    )

    words = [f"w{i}" for i in range(n_words)]
    df = spark.createDataFrame([(7, " ".join(words))], ["doc_id", "text"])
    rows = sorted(
        chunk_documents(df, window=window, stride=stride).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert len(rows) == math.ceil(n_words / stride)
    for r in rows:
        s = r["chunk_idx"] * stride
        chunk = r["chunk_text"].split(" ")
        assert chunk == words[s : s + window]
        assert r["n_words"] == len(chunk)
    if stride <= window:
        rebuilt = []
        for r in rows:
            rebuilt += r["chunk_text"].split(" ")[:stride]
        assert rebuilt == words


@given(
    toks=st.lists(st.integers(min_value=1, max_value=10_000),
                  min_size=1, max_size=6),
)
@_SETTINGS
def test_mixture_allocation_laws(spark, toks):
    """Shares sum to 10000 within |sources| floor slack; allocations
    sum to the budget within the same slack; every source gets a
    positive share."""
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.sampling import (
        mixture_allocation,
    )
    import pyspark.sql.functions as F

    rows = [(f"s{i}", t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, ["source", "toks"])
    out = mixture_allocation(df, "source", F.col("toks"), 10_000).collect()
    assert len(out) == len(toks)
    share_sum = sum(r["share_bp"] for r in out)
    assert 10_000 - len(toks) <= share_sum <= 10_000
    alloc_sum = sum(r["alloc_tokens"] for r in out)
    assert 10_000 - len(toks) <= alloc_sum <= 10_000
    assert all(r["share_bp"] > 0 for r in out)


@given(
    changes=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # key
            st.integers(min_value=0, max_value=30),  # seq (ties allowed)
            st.sampled_from(["U", "U", "D"]),        # op (deletes rarer)
        ),
        min_size=1, max_size=12,
    ),
    cut=st.lists(st.integers(min_value=1, max_value=11),
                 min_size=0, max_size=3),
    order_seed=st.integers(min_value=0, max_value=5),
)
@_SETTINGS
def test_scd2_merge_batch_split_invariant(spark, changes, cut, order_seed):
    """The incremental SCD-2 applier must yield the identical history
    for ANY split of the changelog into batches, applied in ANY order,
    with duplicates redelivered — same guarantee as the versioned CDC
    applier. Compared against the one-shot full build."""
    import random

    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge import (
        scd2_from_changes,
        scd2_merge_batch,
    )

    # unique (key, seq, tiebreak) triples: tiebreak is the changelog
    # position, so ties on seq stay deterministic
    rows = [(k, s, i, op) for i, (k, s, op) in enumerate(changes)]
    schema = "k long, seq long, tb long, op string"
    full = scd2_from_changes(
        spark.createDataFrame(rows, schema), ["k"], "seq", tiebreak_col="tb"
    )

    cuts = sorted({c for c in cut if c < len(rows)})
    bounds = [0] + cuts + [len(rows)]
    batches = [rows[a:b] for a, b in zip(bounds, bounds[1:]) if a < b]
    rnd = random.Random(order_seed)
    rnd.shuffle(batches)
    if batches:
        batches.append(rnd.choice(batches))  # redeliver one batch

    target = scd2_from_changes(
        spark.createDataFrame(batches[0], schema), ["k"], "seq",
        tiebreak_col="tb",
    )
    for b in batches[1:]:
        target = scd2_merge_batch(
            target, spark.createDataFrame(b, schema), ["k"], "seq",
            tiebreak_col="tb",
        )

    norm = lambda df: sorted(tuple(r) for r in df.collect())
    assert norm(target) == norm(full)


def _fuzz_store_lifecycle(spark, root, seed, executed):
    """One seed of the model-checked DML lifecycle fuzz: a
    deterministic random verb sequence runs against BOTH the
    TableStore (column-partitioned, changelog on) and a plain dict
    model; the table must equal the model after every step, and the
    change-feed fold from version 0 must reproduce the final table."""
    import random

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.dedup import (
        latest_by_key,
    )
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge import (
        TableStore,
    )

    SEGS = ["A", "B", "C"]

    def seg_of(k: int) -> str:
        return SEGS[k % 3]

    rng = random.Random(seed)
    store = TableStore(spark, root, keep_versions=40, changelog=True)
    model = {k: 0 for k in range(60)}
    snapshots = []  # model state per committed version, create first

    def df_of(rows):
        return spark.createDataFrame(
            [Row(k=k, seg=seg_of(k), v=v) for k, v in rows]
        )

    store.write_partitioned(
        "t",
        df_of(sorted(model.items())),
        keys=["k"],
        partition_column="seg",
    )
    snapshots.append(dict(model))

    def check(step):
        got = {r["k"]: r["v"] for r in store.read("t").collect()}
        assert got == model, (
            f"seed {seed} step {step}: table diverged from model "
            f"(only-table={set(got) - set(model)}, "
            f"only-model={set(model) - set(got)})"
        )

    next_key = 60
    for step in range(18):
        verb = rng.choice(
            ["merge", "merge", "delete", "update", "dv", "replace",
             "optimize", "restore"]
        )
        if verb == "merge":
            ks = rng.sample(sorted(model), min(5, len(model))) + [
                next_key, next_key + 1
            ]
            next_key += 2
            rows = [(k, rng.randrange(1000)) for k in ks]
            store.merge("t", df_of(rows), ["k"], policy="scd1")
            for k, v in rows:
                model[k] = v
        elif verb == "delete" and len(model) > 10:
            lo = rng.randrange(0, next_key)
            cond = (F.col("k") >= lo) & (F.col("k") < lo + 7)
            n = store.delete("t", cond, keys=["k"])
            doomed = [k for k in model if lo <= k < lo + 7]
            assert n == len(doomed), (seed, step, n, doomed)
            if not doomed:
                continue  # zero matches: no commit happened
            for k in doomed:
                del model[k]
        elif verb == "update":
            seg = rng.choice(SEGS)
            bump = rng.randrange(1, 50)
            store.update(
                "t",
                F.col("seg") == seg,
                {"v": F.col("v") + F.lit(bump)},
                keys=["k"],
            )
            for k in model:
                if seg_of(k) == seg:
                    model[k] += bump
        elif verb == "dv" and len(model) > 10:
            victims = rng.sample(sorted(model), 2)
            n = store.delete_vectored(
                "t", F.col("k").isin(victims), keys=["k"]
            )
            assert n == 2, (seed, step, n, victims)
            for k in victims:
                del model[k]
        elif verb == "replace":
            seg = rng.choice(SEGS)
            keep = [
                (k, rng.randrange(1000))
                for k in sorted(model)
                if seg_of(k) == seg and rng.random() < 0.6
            ]
            fresh = [
                (next_key + i * 3 + SEGS.index(seg), rng.randrange(1000))
                for i in range(2)
            ]
            fresh = [(k, v) for k, v in fresh if seg_of(k) == seg]
            next_key += 6
            repl = keep + fresh
            if not repl:
                continue
            store.replace_where(
                "t", F.col("seg") == seg, df_of(repl), keys=["k"]
            )
            for k in [k for k in model if seg_of(k) == seg]:
                del model[k]
            for k, v in repl:
                model[k] = v
        elif verb == "optimize":
            store.optimize("t", key="k")
        elif verb == "restore" and len(snapshots) >= 3:
            idx = rng.randrange(len(snapshots))
            # version index in versions() == snapshot index (all
            # retained: keep_versions=40 > total commits)
            store.restore("t", idx, keys=["k"])
            model = dict(snapshots[idx])
        else:
            continue
        executed.add(verb)
        snapshots.append(dict(model))
        check(step)

    # the feed fold from version 0 reproduces the final table exactly
    feed = store.read_changes("t", starting_version=0)
    recon = latest_by_key(feed, ["k"], "_commit_version").filter(
        F.col("_change_type") != "delete"
    )
    got = {r["k"]: r["v"] for r in recon.collect()}
    assert got == model, (
        f"seed {seed} feed fold diverged: extra={set(got) - set(model)}, "
        f"missing={set(model) - set(got)}"
    )


def test_store_dml_lifecycle_fuzz_model_check(spark, tmp_path):
    """Model-checked DML lifecycle fuzz (r13): deterministic random
    sequences of SCD-1 merge / DELETE / UPDATE / delete_vectored /
    replace_where / OPTIMIZE / RESTORE against both the store and a
    dict model — equality after EVERY commit, and the change-feed fold
    reproducing the final table at the end. Three seeds; together they
    must exercise the whole verb surface (the composed-interplay net
    single-verb tests can't throw)."""
    executed: set[str] = set()
    for seed in (13, 29, 47):
        _fuzz_store_lifecycle(spark, str(tmp_path / f"s{seed}"), seed,
                              executed)
    assert executed >= {
        "merge", "delete", "update", "dv", "replace", "optimize",
        "restore",
    }, f"verb coverage hole across seeds: {executed}"


def _fuzz_schema_lifecycle(spark, root, seed, executed):
    """One seed of the model-checked SCHEMA lifecycle fuzz: random
    interleavings of RENAME / WIDEN / ADD COLUMN / DROP COLUMN /
    CHECK-constraint add+drop / evolution merge with ordinary DML,
    against both the store and a dict-of-dicts model. Frozen-column
    guards must raise exactly when a constraint references the column,
    and the table must equal the model after every step."""
    import random

    from pyspark.sql import functions as F

    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge import (
        TableStore,
    )

    SEGS = ["A", "B"]

    def seg_of(k: int) -> str:
        return SEGS[k % 2]

    rng = random.Random(seed)
    store = TableStore(spark, root, keep_versions=60)
    # logical value columns -> spark type string ("int" / "bigint")
    cols: dict = {"a": "int", "b": "bigint"}
    model = {
        k: {"a": k, "b": 10 * k} for k in range(30)
    }
    constrained: str | None = None

    def schema_str():
        parts = ["k bigint", "seg string"] + [
            f"{c} {t}" for c, t in cols.items()
        ]
        return ", ".join(parts)

    def df_of(rows):
        # rows: list of dicts with k + all current value cols
        data = [
            tuple([r["k"], seg_of(r["k"])] + [r.get(c) for c in cols])
            for r in rows
        ]
        return spark.createDataFrame(data, schema_str())

    store.write_partitioned(
        "t",
        df_of([{"k": k, **v} for k, v in model.items()]),
        keys=["k"],
        partition_column="seg",
    )

    def check(step):
        got = {
            r["k"]: {c: r[c] for c in cols}
            for r in store.read("t").collect()
        }
        want = {
            k: {c: v.get(c) for c in cols} for k, v in model.items()
        }
        assert got == want, (
            f"seed {seed} step {step}: diverged\n"
            f"cols={list(cols)}\n"
            f"bad={ {k: (got.get(k), want.get(k)) for k in set(got) | set(want) if got.get(k) != want.get(k)} }"
        )

    counter = 0
    next_key = 30
    for step in range(16):
        verb = rng.choice(
            ["merge", "merge", "rename", "widen", "add", "drop",
             "constraint", "update", "evolve"]
        )
        if verb == "merge":
            ks = rng.sample(sorted(model), 4) + [next_key]
            next_key += 1
            rows = []
            for k in ks:
                r = {"k": k}
                for c, t in cols.items():
                    hi = 3_000_000_000 if t == "bigint" else 1_000_000
                    r[c] = rng.randrange(hi)
                rows.append(r)
            store.merge("t", df_of(rows), ["k"], policy="scd1")
            for r in rows:
                model[r["k"]] = {c: r[c] for c in cols}
        elif verb == "rename":
            old = rng.choice(list(cols))
            new = f"c{counter}"
            counter += 1
            if old == constrained:
                import pytest as _pytest

                with _pytest.raises(ValueError, match="constraint"):
                    store.rename_column("t", old, new)
                executed.add("rename_frozen")
                check(step)
                continue
            store.rename_column("t", old, new)
            cols[new] = cols.pop(old)
            for v in model.values():
                if old in v:
                    v[new] = v.pop(old)
        elif verb == "widen":
            narrow = [c for c, t in cols.items() if t == "int"]
            if not narrow:
                continue
            c = rng.choice(narrow)
            store.widen_column("t", c, "bigint")
            cols[c] = "bigint"
        elif verb == "add":
            new = f"n{counter}"
            counter += 1
            store.add_column("t", new, "bigint")
            cols[new] = "bigint"
            # existing rows NULL-fill; model rows simply lack the key
        elif verb == "drop":
            droppable = [
                c for c in cols if c != constrained and len(cols) > 1
            ]
            if not droppable or len(cols) < 2:
                continue
            c = rng.choice(droppable)
            store.drop_column("t", c)
            del cols[c]
            for v in model.values():
                v.pop(c, None)
        elif verb == "constraint":
            if constrained is None:
                c = rng.choice(list(cols))
                store.add_check_constraint(
                    "t", "fuzz_gate", f"{c} IS NULL OR {c} > -1"
                )
                constrained = c
            else:
                store.drop_check_constraint("t", "fuzz_gate")
                constrained = None
        elif verb == "update":
            c = rng.choice(list(cols))
            seg = rng.choice(SEGS)
            bump = rng.randrange(1, 9)
            store.update(
                "t",
                F.col("seg") == seg,
                {c: F.coalesce(F.col(c), F.lit(0)) + F.lit(bump)},
            )
            for k, v in model.items():
                if seg_of(k) == seg:
                    v[c] = (v.get(c) or 0) + bump
        elif verb == "evolve":
            new = f"e{counter}"
            counter += 1
            ks = rng.sample(sorted(model), 3)
            rows = []
            for k in ks:
                r = {"k": k}
                for c, t in cols.items():
                    r[c] = rng.randrange(1000)
                r[new] = rng.randrange(1000)
                rows.append(r)
            cols[new] = "bigint"
            store.merge(
                "t", df_of(rows), ["k"], policy="scd1",
                evolve_schema=True,
            )
            for r in rows:
                model[r["k"]] = {c: r[c] for c in cols}
        else:
            continue
        executed.add(verb)
        check(step)


def test_store_schema_lifecycle_fuzz_model_check(spark, tmp_path):
    """Model-checked SCHEMA lifecycle fuzz (r13): rename / widen /
    ADD COLUMN / DROP COLUMN / CHECK constraints / evolution merges
    interleaved with DML, two seeds, table == model after every step,
    constraint-frozen columns raising exactly when they should."""
    executed: set[str] = set()
    for seed in (7, 31):
        _fuzz_schema_lifecycle(spark, str(tmp_path / f"s{seed}"), seed,
                               executed)
    assert executed >= {
        "merge", "rename", "widen", "add", "drop", "constraint",
        "update", "evolve",
    }, f"verb coverage hole across seeds: {executed}"


# --- round-14: crash-point injection in the model-checked DML fuzzer ------
#
# The three hand-written CDF crash tests each pin ONE window
# (post-flip/pre-publish; pre-flip scratch; pre-ledger). This fuzzer
# composes them: at random steps of a random DML sequence, the commit
# protocol is suppressed at a randomly chosen point — post-stage/
# pre-flip, post-flip/pre-publish, post-publish/pre-ledger, the
# narrowest post-flip/pre-publish-AND-pre-ledger, or mid-publish with
# partial hard links — then the sequence simply CONTINUES, exercising
# recovery paths no hand-written test reaches (a crash-recovered
# publish followed by a rebase followed by OPTIMIZE, a second crash
# before the first one's recovery ran, ...). After every step the
# table must equal the Python model, and at the end the change-feed
# fold from version 0 must reproduce the final table exactly-once.


class _InjectedCrash(RuntimeError):
    pass


import contextlib as _contextlib


@_contextlib.contextmanager
def _crash_at(point):
    """Suppress the staged-CDF commit protocol at ``point`` for the
    duration of one verb. Points that model a crash DURING a step
    (``preflip``, ``midpublish``) raise _InjectedCrash out of the verb;
    the rest let the verb return with the tail of the protocol skipped
    (the process 'died' right after the flip)."""
    import pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge as _merge
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge import (
        TableStore as _TS,
    )

    saved = {}

    def patch(attr, val):
        saved[attr] = getattr(_TS, attr)
        setattr(_TS, attr, val)

    if point == "preflip":
        def boom(self, *a, **kw):
            raise _InjectedCrash(point)

        patch("_commit_pointer", boom)
        patch("_commit_pointer_or_rebase", boom)
    elif point == "prepublish":
        patch("_publish_staged", lambda self, name: 0)
    elif point in ("preledger", "postpublish"):
        # a real crash in this window suppresses only the SECOND
        # ledger append of the flip (the new dir): the outgoing-
        # current heal runs BEFORE the pointer moves, so a timeline
        # that skipped it also never flipped. (A first draft of this
        # fuzzer suppressed BOTH appends and promptly "found" a lost
        # delta — an interleaving no single crashed process can
        # produce, since a successor that dies before ledgering the
        # outgoing current never unseats it as current either.)
        real_ledger = _TS._ledger_record
        calls = [0]

        def led(self, name, d):
            calls[0] += 1
            if calls[0] >= 2:
                return None
            return real_ledger(self, name, d)

        patch("_ledger_record", led)
        if point == "preledger":
            patch("_publish_staged", lambda self, name: 0)
    elif point == "midpublish":
        real_pub = _TS._publish_staged

        def pub(self, name):
            real_link = _merge.os.link
            n = [0]

            def crash_link(src, dst, *aa, **kk):
                if n[0] >= 1:
                    raise _InjectedCrash(point)
                r = real_link(src, dst, *aa, **kk)
                n[0] += 1
                return r

            _merge.os.link = crash_link
            try:
                return real_pub(self, name)
            finally:
                _merge.os.link = real_link

        patch("_publish_staged", pub)
    else:  # pragma: no cover
        raise ValueError(point)
    try:
        yield
    finally:
        for attr, orig in saved.items():
            setattr(_TS, attr, orig)


_CRASH_POINTS = (
    "preflip", "prepublish", "preledger", "postpublish", "midpublish",
)


def _fuzz_store_crash_lifecycle(spark, root, seed, executed):
    """One seed: a deterministic random verb sequence with random
    crash-point injection, model-checked after every step, feed fold
    checked at the end (see the section comment above)."""
    import random

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.dedup import (
        latest_by_key,
    )
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge import (
        TableStore,
    )

    SEGS = ["A", "B", "C"]

    def seg_of(k: int) -> str:
        return SEGS[k % 3]

    rng = random.Random(seed)
    store = TableStore(spark, root, keep_versions=40, changelog=True)
    model = {k: 0 for k in range(36)}

    def df_of(rows):
        return spark.createDataFrame(
            [Row(k=k, seg=seg_of(k), v=v) for k, v in rows]
        )

    store.write_partitioned(
        "t",
        df_of(sorted(model.items())),
        keys=["k"],
        partition_column="seg",
    )

    def check(step, tag):
        got = {r["k"]: r["v"] for r in store.read("t").collect()}
        assert got == model, (
            f"seed {seed} step {step} ({tag}): table diverged from model "
            f"(only-table={set(got) - set(model)}, "
            f"only-model={set(model) - set(got)}, "
            f"diff={ {k: (got.get(k), model.get(k)) for k in set(got) | set(model) if got.get(k) != model.get(k)} })"
        )

    next_key = 36
    for step in range(14):
        verb = rng.choice(
            ["merge", "merge", "delete", "update", "dv", "replace",
             "optimize"]
        )
        point = (
            rng.choice(_CRASH_POINTS) if rng.random() < 0.45 else None
        )

        # build the verb's inputs and its model mutation FIRST, so a
        # pre-flip crash can skip the mutation cleanly
        action = None  # () -> None, runs the store verb
        mutate = None  # () -> None, applies the model change
        if verb == "merge":
            ks = rng.sample(sorted(model), min(4, len(model))) + [
                next_key, next_key + 1
            ]
            next_key += 2
            rows = [(k, rng.randrange(1000)) for k in ks]
            action = lambda: store.merge(
                "t", df_of(rows), ["k"], policy="scd1"
            )

            def mutate(rows=rows):
                for k, v in rows:
                    model[k] = v
        elif verb == "delete":
            if len(model) <= 10:
                continue
            lo = rng.randrange(0, next_key)
            doomed = [k for k in model if lo <= k < lo + 7]
            if not doomed:
                continue  # zero matches: no commit to crash
            cond = (F.col("k") >= lo) & (F.col("k") < lo + 7)
            action = lambda: store.delete("t", cond, keys=["k"])

            def mutate(doomed=doomed):
                for k in doomed:
                    del model[k]
        elif verb == "update":
            seg = rng.choice(SEGS)
            if not any(seg_of(k) == seg for k in model):
                continue
            bump = rng.randrange(1, 50)
            action = lambda: store.update(
                "t",
                F.col("seg") == seg,
                {"v": F.col("v") + F.lit(bump)},
                keys=["k"],
            )

            def mutate(seg=seg, bump=bump):
                for k in model:
                    if seg_of(k) == seg:
                        model[k] += bump
        elif verb == "dv":
            if len(model) <= 10:
                continue
            victims = rng.sample(sorted(model), 2)
            action = lambda: store.delete_vectored(
                "t", F.col("k").isin(victims), keys=["k"]
            )

            def mutate(victims=victims):
                for k in victims:
                    del model[k]
        elif verb == "replace":
            seg = rng.choice(SEGS)
            keep = [
                (k, rng.randrange(1000))
                for k in sorted(model)
                if seg_of(k) == seg and rng.random() < 0.6
            ]
            fresh = [
                (next_key + i * 3 + SEGS.index(seg), rng.randrange(1000))
                for i in range(2)
            ]
            fresh = [(k, v) for k, v in fresh if seg_of(k) == seg]
            next_key += 6
            repl = keep + fresh
            if not repl:
                continue
            action = lambda: store.replace_where(
                "t", F.col("seg") == seg, df_of(repl), keys=["k"]
            )

            def mutate(seg=seg, repl=repl):
                for k in [k for k in model if seg_of(k) == seg]:
                    del model[k]
                for k, v in repl:
                    model[k] = v
        elif verb == "optimize":
            action = lambda: store.optimize("t", key="k")
            mutate = lambda: None

        if point is None:
            action()
            mutate()
            executed.add(verb)
            check(step, verb)
            continue

        crashed = False
        try:
            with _crash_at(point):
                action()
        except _InjectedCrash:
            crashed = True
        if point == "preflip":
            # the commit never flipped: scratch dies with retention,
            # the table and the feed must be untouched
            assert crashed, (seed, step, verb, point)
        else:
            # the flip landed (for midpublish, whether or not the
            # injected link crash actually fired: a <=1-file publish
            # completes) — the commit is durable, recovery owes the
            # feed its change rows
            mutate()
            executed.add(verb)
        executed.add(f"crash:{point}")
        check(step, f"{verb}+crash:{point}")

    # every crash window above must heal to an exactly-once feed: the
    # fold from version 0 reproduces the final table, no phantom rows
    # (a published pre-flip scratch), no lost delta (an unpublished
    # committed commit)
    feed = store.read_changes("t", starting_version=0)
    recon = latest_by_key(feed, ["k"], "_commit_version").filter(
        F.col("_change_type") != "delete"
    )
    got = {r["k"]: r["v"] for r in recon.collect()}
    assert got == model, (
        f"seed {seed} feed fold diverged after crash recovery: "
        f"extra={set(got) - set(model)}, missing={set(model) - set(got)}"
    )


def test_store_crash_injection_fuzz_model_check(spark, tmp_path):
    """Model-checked DML fuzz WITH crash-point injection (round-13
    verdict ask #1): random verb sequences where the staged-CDF commit
    protocol is randomly suppressed at preflip / prepublish /
    preledger / postpublish / midpublish points, table == model after
    every step, and the feed fold exactly-once at the end. Four seeds
    here; the extended campaign (200 seeds) runs via
    PULSELAKE_CRASH_FUZZ_SEEDS (see VERDICT_RESPONSE.md for the
    recorded run)."""
    import os

    executed: set[str] = set()
    n = int(os.environ.get("PULSELAKE_CRASH_FUZZ_SEEDS", "4"))
    base = int(os.environ.get("PULSELAKE_CRASH_FUZZ_BASE", "0"))
    for seed in range(base, base + n):
        _fuzz_store_crash_lifecycle(
            spark, str(tmp_path / f"c{seed}"), seed, executed
        )
    if n >= 4:
        assert {f"crash:{p}" for p in _CRASH_POINTS} <= executed, (
            f"crash-point coverage hole: {sorted(executed)}"
        )


def _fuzz_schema_crash_lifecycle(spark, root, seed, executed):
    """One seed of the changelog-enabled SCHEMA crash fuzz (r14):
    renames/widens/adds/drops interleave with SCD-1 merges while DDL
    crash points are randomly injected — 'ddl_preflip' (the commit
    pointer raises after the version dir, break included, is built)
    and 'ddl_postflip' (the flip lands, the post-flip prune raises).
    After every step the table
    must equal the model AND the change feed must never show a SPLIT
    column: its columns are exactly the current logical schema + the
    two meta columns, regardless of which crash residue is live."""
    import random

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge import (
        TableStore,
    )

    rng = random.Random(seed)
    store = TableStore(spark, root, keep_versions=60, changelog=True)
    cols = ["a", "b"]
    model = {k: {"a": k, "b": 10 * k} for k in range(16)}

    def df_of(rows):
        data = [tuple([r["k"]] + [r.get(c) for c in cols]) for r in rows]
        schema = ", ".join(["k bigint"] + [f"{c} bigint" for c in cols])
        return spark.createDataFrame(data, schema)

    store.write("t", df_of([{"k": k, **v} for k, v in model.items()]))

    retired: set[str] = set()  # renamed-away / dropped names

    def check(step, tag):
        got = {
            r["k"]: {c: r[c] for c in cols}
            for r in store.read("t").collect()
        }
        want = {k: {c: v.get(c) for c in cols} for k, v in model.items()}
        assert got == want, f"seed {seed} step {step} ({tag}) diverged"
        feed = store.read_changes("t")
        # the split-column failure = a RETIRED name surfacing next to
        # its successor; a just-added column legitimately lags until a
        # data commit carries it, so subset (not equality) is the law
        allowed = set(cols) | {"k", "_change_type", "_commit_version"}
        assert set(feed.columns) <= allowed, (
            f"seed {seed} step {step} ({tag}): feed leaked columns "
            f"{set(feed.columns) - allowed} (split-column residue)"
        )
        assert not (set(feed.columns) & retired), (
            f"seed {seed} step {step} ({tag}): retired names "
            f"{set(feed.columns) & retired} back in the feed"
        )

    counter = 0
    next_key = 16
    for step in range(12):
        verb = rng.choice(["merge", "merge", "rename", "widen_add",
                           "drop", "rename", "merge"])
        point = (
            rng.choice(["ddl_preflip", "ddl_postflip"])
            if verb in ("rename", "drop") and rng.random() < 0.5
            else None
        )
        if verb == "merge":
            ks = rng.sample(sorted(model), 3) + [next_key]
            next_key += 1
            rows = []
            for k in ks:
                r = {"k": k}
                for c in cols:
                    r[c] = rng.randrange(1000)
                rows.append(r)
            store.merge("t", df_of(rows), ["k"], policy="scd1")
            for r in rows:
                model[r["k"]] = {c: r[c] for c in cols}
            executed.add("merge")
        elif verb == "rename":
            old = rng.choice(cols)
            new = f"c{counter}"
            counter += 1
            if point == "ddl_preflip":
                real = TableStore._commit_pointer

                def boom(self, *a, **kw):
                    raise _InjectedCrash("ddl_preflip")

                TableStore._commit_pointer = boom
                try:
                    import pytest as _pytest

                    with _pytest.raises(_InjectedCrash):
                        store.rename_column("t", old, new)
                finally:
                    TableStore._commit_pointer = real
                executed.add("crash:ddl_preflip")
                # rename never landed: model unchanged
            elif point == "ddl_postflip":
                real = TableStore._prune

                def boom(self, *a, **kw):
                    raise _InjectedCrash("ddl_postflip")

                TableStore._prune = boom
                try:
                    import pytest as _pytest

                    with _pytest.raises(_InjectedCrash):
                        store.rename_column("t", old, new)
                finally:
                    TableStore._prune = real
                retired.add(old)
                cols[cols.index(old)] = new
                for v in model.values():
                    if old in v:
                        v[new] = v.pop(old)
                executed.add("crash:ddl_postflip")
            else:
                store.rename_column("t", old, new)
                retired.add(old)
                cols[cols.index(old)] = new
                for v in model.values():
                    if old in v:
                        v[new] = v.pop(old)
                executed.add("rename")
        elif verb == "widen_add":
            new = f"n{counter}"
            counter += 1
            store.add_column("t", new, "bigint")
            cols.append(new)
            executed.add("add")
        elif verb == "drop":
            if len(cols) < 2:
                continue
            c = rng.choice(cols)
            if point == "ddl_preflip":
                real = TableStore._commit_pointer

                def boom(self, *a, **kw):
                    raise _InjectedCrash("ddl_preflip")

                TableStore._commit_pointer = boom
                try:
                    import pytest as _pytest

                    with _pytest.raises(_InjectedCrash):
                        store.drop_column("t", c)
                finally:
                    TableStore._commit_pointer = real
                executed.add("crash:ddl_preflip")
            else:
                store.drop_column("t", c)
                retired.add(c)
                cols.remove(c)
                for v in model.values():
                    v.pop(c, None)
                executed.add("drop")
        check(step, f"{verb}+{point or 'clean'}")


def test_store_schema_crash_fuzz_model_check(spark, tmp_path):
    """Changelog-enabled SCHEMA lifecycle fuzz with DDL crash-point
    injection (r14): rename/add/drop interleaved with merges while the
    DDL commit is crashed on both sides of its flip — the table must
    equal the model and the feed must never split a renamed column,
    under any interleaving of crash residues with further DDL and
    DML."""
    executed: set[str] = set()
    for seed in (3, 17, 59):
        _fuzz_schema_crash_lifecycle(
            spark, str(tmp_path / f"sc{seed}"), seed, executed
        )
    assert {"merge", "rename", "crash:ddl_preflip",
            "crash:ddl_postflip"} <= executed, executed
