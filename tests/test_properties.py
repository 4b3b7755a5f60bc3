"""Property-based inference tests (hypothesis): random value mixes checked
against invariants rather than golden answers.

Invariants (SURVEY.md section 5.6):

* closure — the proposed type is always in the known vocabulary
* permutation-invariance — row order never changes the proposed type
  (everything is computed by commutative aggregates)
* null-stability — appending nulls never changes a non-notype proposal
  (inference ignores nulls, RedshiftAutoSchema.py:309)
* int widening — appending an out-of-int4-range value to an int column
  moves int4 -> int8 and never anything else
"""

from __future__ import annotations

import datetime
import math
import random
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from spark_auto_schema.inference import infer_table_schema

VOCAB = {
    "notype",
    "bool",
    "int4",
    "int8",
    "float8",
    "date",
    "timestamp",
    "varchar(256)",
    "varchar(65535)",
}

_WORDS = ["alpha", "beta", "gamma", "delta", "x" * 250, "2019", "03/2019", "t", "1"]

_string_value = st.one_of(
    st.sampled_from(_WORDS),
    st.sampled_from(["true", "false", "t", "f", "0", "1"]),
    st.sampled_from(["2019-01-01", "2020-06-15 12:30:00", "2021-12-31"]),
    st.integers(-(10**12), 10**12).map(str),
    st.floats(allow_nan=False, allow_infinity=False, width=32).map(str),
)

_column = st.one_of(
    st.tuples(st.just("long"), st.lists(st.integers(-(2**62), 2**62), max_size=12)),
    st.tuples(
        st.just("double"),
        st.lists(st.floats(allow_nan=False, allow_infinity=False), max_size=12),
    ),
    st.tuples(st.just("string"), st.lists(_string_value, max_size=12)),
)


def _infer_one(spark, dtype: str, values: list):
    df = spark.createDataFrame([(v,) for v in values], f"v {dtype}")
    out = infer_table_schema(df)
    return None if out is None else out[0].proposed_type


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(col=_column)
def test_closure_permutation_and_null_stability(spark, col):
    dtype, values = col
    base = _infer_one(spark, dtype, values)
    if not values:
        assert base is None  # empty input -> no metadata (RAS.py:243-245)
        return
    assert base in VOCAB

    shuffled = list(values)
    random.Random(7).shuffle(shuffled)
    assert _infer_one(spark, dtype, shuffled) == base

    with_nulls = values + [None, None]
    assert _infer_one(spark, dtype, with_nulls) == base


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(values=st.lists(st.integers(-(2**31), 2**31 - 1), min_size=1, max_size=10))
def test_int_widening(spark, values):
    base = _infer_one(spark, "long", values)
    widened = _infer_one(spark, "long", values + [2**40])
    if base in ("int4", "int8"):
        assert widened == "int8"
    else:  # a 0/1-only column proposes bool; the added big value breaks the set
        assert base == "bool"
        assert widened == "int8"


def test_all_null_is_notype(spark):
    assert _infer_one(spark, "string", [None, None, None]) == "notype"
    # NaN is null for a float column, and isnan(NULL) is false
    for dtype in ("double", "float"):
        assert _infer_one(spark, dtype, [None, None, None]) == "notype"
        assert _infer_one(spark, dtype, [None, float("nan")]) == "notype"


@pytest.mark.parametrize("n", [239, 240, 241])
def test_varchar_threshold_boundary(spark, n):
    got = _infer_one(spark, "string", ["y" * n, "a"])
    assert got == ("varchar(256)" if n <= 240 else "varchar(65535)")


# ------------------------------------------- multi-column inference property
_ROWS = 5
_MIDNIGHT = [datetime.datetime(2020, 1, 1), datetime.datetime(2021, 6, 3)]
_BIG = Decimal(2**53 + 1)


def _pool(dtype: str, values: list):
    return st.tuples(
        st.just(dtype), st.lists(st.sampled_from(values), min_size=_ROWS, max_size=_ROWS)
    )


# each pool mixes the values that flip its column between two or more types
_POOLS = st.one_of(
    _pool("string", [None, "true", "F", "t", "0", "1"]),
    _pool("string", [None, "1", "-7", "2147483648", "1.5", "1e3", "NaN", "12abc"]),
    _pool("string", [None, "2019-01-02", "2019-01-02 03:04", "Jan 5, 2020", "03/2019"]),
    _pool("string", [None, "alpha", "20190101", "y" * 241]),
    _pool("bigint", [None, 0, 1, 2**31, -(2**63), 2**63 - 1, 2**63 - 2]),
    _pool("int", [None, 0, 1, -(2**31), 7]),
    _pool("double", [None, float("nan"), 0.0, 1.0, 2.5, 2.0**53, -1e300]),
    _pool("decimal(38,6)", [None, _BIG, _BIG + Decimal("0.000001"), Decimal("-2.5"), Decimal(1)]),
    _pool("timestamp", [None, *_MIDNIGHT, datetime.datetime(2020, 1, 1, 0, 0, 1)]),
    _pool("timestamp_ntz", [None, *_MIDNIGHT, datetime.datetime(2020, 1, 1, 12)]),
    _pool("boolean", [None, True, False]),
    _pool("date", [None, datetime.date(2020, 1, 1)]),
    _pool("array<int>", [None, [], [1, 2], list(range(100))]),
    _pool("string", [None]),
)


def _infer_columns(spark, cols: dict[str, tuple[str, list]]) -> dict[str, str]:
    schema = ", ".join(f"{name} {dtype}" for name, (dtype, _) in cols.items())
    rows = [tuple(vals[r] for _, vals in cols.values()) for r in range(_ROWS)]
    out = infer_table_schema(spark.createDataFrame(rows, schema))
    assert [ci.name for ci in out] == list(cols)
    return {ci.name: ci.proposed_type for ci in out}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cols=st.lists(st.tuples(_POOLS, st.booleans()), min_size=2, max_size=6),
    rnd=st.randoms(use_true_random=False),
)
def test_multi_column_inference_matches_each_column_alone(spark, cols, rnd):
    """Inferring a table equals inferring each of its columns alone, in any
    column order: a statistic read under the wrong column index shows up
    as a difference."""
    named = {
        f"c{j}_id" if ident else f"c{j}": pool for j, (pool, ident) in enumerate(cols)
    }
    names = list(named)
    rnd.shuffle(names)
    table = _infer_columns(spark, {n: named[n] for n in names})
    alone = {n: _infer_columns(spark, {n: named[n]})[n] for n in names}
    assert table == alone


def test_exact_slots_under_a_non_utc_zone(spark):
    """The exact per-row statistics hold beside other columns: a decimal
    above 2^53 is integral or not by its digits (its double rounds), longs
    near +-2^63 stay int8, NaN and NULL are null, and the midnight check
    reads a timestamp in the session zone and an NTZ value by its wall
    clock."""
    from zoneinfo import ZoneInfo

    from spark_auto_schema.session import _scoped_conf

    la, utc = ZoneInfo("America/Los_Angeles"), datetime.timezone.utc
    five = [*_MIDNIGHT, *_MIDNIGHT, _MIDNIGHT[0]]
    noon = datetime.datetime(2020, 1, 1, 12)
    cols = {
        "dec_int": ("decimal(38,6)", [_BIG, None, _BIG, Decimal(-1), _BIG]),
        "dec_frac": ("decimal(38,6)", [_BIG + Decimal("0.000001"), _BIG, None, _BIG, _BIG]),
        "big": ("bigint", [2**63 - 1, -(2**63), None, 0, 1]),
        "flag": ("bigint", [0, 1, None, 1, 0]),
        "whole": ("double", [float("nan"), 1.0, None, 2.0, -3.0]),
        "nan_or_null": ("double", [float("nan"), None, float("nan"), None, None]),
        "ts": ("timestamp", [m.replace(tzinfo=la) for m in five]),
        "ts_utc_midnight": ("timestamp", [m.replace(tzinfo=utc) for m in five]),
        "ntz": ("timestamp_ntz", [*_MIDNIGHT, None, *_MIDNIGHT]),
        "ntz_noon": ("timestamp_ntz", [*_MIDNIGHT, None, _MIDNIGHT[0], noon]),
    }
    with _scoped_conf(spark, "spark.sql.session.timeZone", "America/Los_Angeles"):
        got = _infer_columns(spark, cols)
        assert got == {n: _infer_columns(spark, {n: c})[n] for n, c in cols.items()}
    assert got == {
        "dec_int": "int8", "dec_frac": "float8", "big": "int8", "flag": "bool",
        "whole": "int4", "nan_or_null": "notype", "ts": "date",
        "ts_utc_midnight": "timestamp", "ntz": "date", "ntz_noon": "timestamp",
    }


# ---------------------------------------------------- dedup_clusters property
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=40,
    )
)
def test_dedup_clusters_matches_union_find(spark, edges):
    """Random pair graphs: the distributed label propagation must produce
    exactly the components a sequential union-find computes."""
    pairs = [(min(a, b), max(a, b), 1.0) for a, b in edges]
    df = spark.createDataFrame(pairs, "id_a long, id_b long, jaccard double")

    from spark_auto_schema.ops import dedup

    got = {r["id"]: r["cluster_id"] for r in dedup.dedup_clusters(df).collect()}
    dedup.release_caches()

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b, _ in pairs:
        union(a, b)
    want = {x: find(x) for x in parent}
    assert got == want


# --------------------------------------------------------- corpus-op laws
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_docs=st.integers(1, 30),
    target=st.integers(0, 90),
)
def test_materialize_mix_total_law(spark, n_docs, target):
    # output cardinality == target, exactly, for any (n, t) combination
    from spark_auto_schema.ops import corpus

    df = spark.createDataFrame(
        [(i, "d") for i in range(n_docs)], "doc_id long, source string"
    )
    t = spark.createDataFrame(
        [("d", target)], "domain string, target_docs long"
    )
    out = corpus.materialize_mix(df, t).collect()
    assert len(out) == target
    # every copy_idx per doc is dense 0..c-1
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["copy_idx"])
    for ids in by_doc.values():
        assert sorted(ids) == list(range(len(ids)))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    tokens=st.lists(st.integers(1, 40), min_size=1, max_size=25),
    budget=st.integers(0, 600),
)
def test_select_token_budget_laws(spark, tokens, budget):
    # never exceeds the budget; greedy by score bucket: any selected doc's
    # bucket >= any rejected doc's bucket unless the rejected doc is in the
    # boundary bucket (where the hash-ranked prefix fills the remainder)
    from spark_auto_schema.ops import corpus

    rows = [
        (i, t, float((i * 7) % 10) / 10.0) for i, t in enumerate(tokens)
    ]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long, score double")
    got = corpus.select_token_budget(df, budget_tokens=budget).collect()
    assert sum(r["n_tokens"] for r in got) <= budget
    sel = {r["doc_id"] for r in got}
    buckets = {r[0]: round(r[2] * 1000) for r in rows}
    if sel:
        min_sel = min(buckets[i] for i in sel)
        for i, t, s in rows:
            if i not in sel and buckets[i] > min_sel:
                # rejected doc in a strictly higher bucket than a selected
                # one can only happen inside the boundary bucket
                assert buckets[i] in {buckets[j] for j in sel} or t > budget


# ---------------------------------------------------------------------------
# round-6 analytics laws
# ---------------------------------------------------------------------------


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 8),                      # user
            st.integers(0, 10_000),                 # ts offset (seconds)
            st.sampled_from(["a", "b", "c"]),       # stage
        ),
        min_size=1,
        max_size=40,
    )
)
def test_funnel_counts_are_monotone_nonincreasing(spark, events):
    """Law: each funnel stage's user count is <= the previous stage's —
    a user cannot complete step k without completing step k-1 first."""
    import datetime as dt

    from spark_auto_schema.ops import analytics

    base = dt.datetime(2024, 1, 1)
    rows = [(u, base + dt.timedelta(seconds=s), t) for u, s, t in events]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, etype string")
    out = analytics.funnel_counts(df, "user_id", "ts", "etype", ["a", "b", "c"])
    counts = [r["n_users"] for r in out.orderBy("stage_idx").collect()]
    assert counts == sorted(counts, reverse=True)
    assert counts[0] <= len({u for u, _, t in events if t == "a"})


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        min_size=2,
        max_size=60,
    ).filter(lambda v: max(v) > min(v)),
    nbins=st.integers(2, 16),
)
def test_histogram_conserves_count_and_tiles_range(spark, values, nbins):
    """Laws: bin counts sum to the row count (max clamps in, nothing
    drops); bins are within [0, nbins); each bin's edges tile [min, max]."""
    from spark_auto_schema.ops import analytics

    df = spark.createDataFrame([(v,) for v in values], "x double")
    out = analytics.value_histogram(df, "x", nbins=nbins).collect()
    assert sum(r["n"] for r in out) == len(values)
    assert all(0 <= r["bin"] < nbins for r in out)
    lo = min(r["lo"] for r in out)
    hi = max(r["hi"] for r in out)
    assert lo == round(min(values), 4)
    width_sum = round((max(values) - min(values)), 2)
    assert round(hi - lo, 2) >= 0  # edges ordered
    assert abs((hi - lo) - (max(r["bin"] for r in out) + 1) * ((max(values) - min(values)) / nbins)) < 1e-4 * max(1.0, width_sum)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.dictionaries(st.integers(1, 20), st.integers(0, 100), min_size=1, max_size=12),
    upd=st.dictionaries(st.integers(1, 25), st.integers(0, 100), min_size=0, max_size=12),
)
def test_merge_upsert_is_idempotent_and_dict_like(spark, base, upd):
    """Laws: merge result == dict-update semantics ({**base, **upd}); and
    merging the same update batch twice equals merging it once."""
    from spark_auto_schema.ops import relational

    b = spark.createDataFrame(list(base.items()), "k int, v int")
    u_rows = list(upd.items())
    u = (
        spark.createDataFrame(u_rows, "k int, v int")
        if u_rows
        else b.limit(0)
    )
    once = relational.merge_upsert(b, u, "k")
    got = {r["k"]: r["v"] for r in once.collect()}
    assert got == {**base, **upd}
    twice = relational.merge_upsert(once, u, "k")
    assert {r["k"]: r["v"] for r in twice.collect()} == got


# ---------------------------------------------------------- psi_drift property
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=40,
    ),
    curr=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        min_size=0,
        max_size=40,
    ),
    nbins=st.integers(2, 12),
)
def test_psi_drift_conservation_laws(spark, base, curr, nbins):
    """For ANY inputs: full bin spine, every row counted exactly once on
    each side (edge clamping loses nothing), all terms finite, and PSI of
    a snapshot against itself is identically zero."""
    from spark_auto_schema.ops import analytics

    bdf = spark.createDataFrame([(v,) for v in base], "v double")
    cdf = (
        spark.createDataFrame([(v,) for v in curr], "v double")
        if curr
        else spark.createDataFrame([], "v double")
    )
    rows = analytics.psi_drift(bdf, cdf, "v", nbins=nbins).collect()
    assert sorted(r["bin"] for r in rows) == list(range(nbins))
    assert sum(r["base_n"] for r in rows) == len(base)
    assert sum(r["curr_n"] for r in rows) == len(curr)
    assert all(
        r["psi_term"] is not None and math.isfinite(r["psi_term"]) for r in rows
    )
    self_rows = analytics.psi_drift(bdf, bdf, "v", nbins=nbins).collect()
    assert all(r["psi_term"] == 0.0 for r in self_rows)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=40,
    ),
    curr=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        min_size=0,
        max_size=40,
    ),
    nbins=st.integers(2, 12),
)
def test_ks_drift_conservation_laws(spark, base, curr, nbins):
    """For ANY inputs: full bin spine, per-side counts conserved, both
    cumulative fractions non-decreasing and ending at exactly 1 (NULL for
    an empty current side — no ECDF to compare), ks_term =
    |base_cum - curr_cum| everywhere both sides exist, and KS of a
    snapshot against itself is identically zero."""
    from spark_auto_schema.ops import analytics

    bdf = spark.createDataFrame([(v,) for v in base], "v double")
    cdf = (
        spark.createDataFrame([(v,) for v in curr], "v double")
        if curr
        else spark.createDataFrame([], "v double")
    )
    rows = analytics.ks_drift(bdf, cdf, "v", nbins=nbins).orderBy("bin").collect()
    assert [r["bin"] for r in rows] == list(range(nbins))
    assert sum(r["base_n"] for r in rows) == len(base)
    assert sum(r["curr_n"] for r in rows) == len(curr)
    for prev, nxt in zip(rows, rows[1:]):
        assert nxt["base_cum_p"] >= prev["base_cum_p"]
        if curr:
            assert nxt["curr_cum_p"] >= prev["curr_cum_p"]
    assert rows[-1]["base_cum_p"] == 1.0
    if curr:
        assert rows[-1]["curr_cum_p"] == 1.0
        for r in rows:
            assert r["ks_term"] == round(abs(r["base_cum_p"] - r["curr_cum_p"]), 6)
    else:
        assert all(r["curr_cum_p"] is None and r["ks_term"] is None for r in rows)
    self_rows = analytics.ks_drift(bdf, bdf, "v", nbins=nbins).collect()
    assert all(r["ks_term"] == 0.0 for r in self_rows)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    a_iv=st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 200)),
        min_size=0,
        max_size=12,
    ),
    b_iv=st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 200)),
        min_size=0,
        max_size=12,
    ),
    width=st.integers(7, 120),
)
def test_interval_join_equals_bruteforce_for_any_intervals(spark, a_iv, b_iv, width):
    """For ANY interval sets and ANY bucket width, the bucketed plan's pair
    set equals the brute-force theta join over non-empty intervals —
    bucketing must be pure optimization, never semantics."""
    from pyspark.sql import functions as F

    from spark_auto_schema.ops import relational

    a_rows = [(i, float(s), float(s + d)) for i, (s, d) in enumerate(a_iv)]
    b_rows = [(i, float(s), float(s + d)) for i, (s, d) in enumerate(b_iv)]
    a = (
        spark.createDataFrame(a_rows, "aid long, s double, e double")
        if a_rows
        else spark.createDataFrame([], "aid long, s double, e double")
    )
    b = (
        spark.createDataFrame(b_rows, "bid long, bs double, be double")
        if b_rows
        else spark.createDataFrame([], "bid long, bs double, be double")
    )
    got = sorted(
        (r["aid"], r["bid"])
        for r in relational.interval_join(
            a, b, "s", "e", "bs", "be", bucket_seconds=width
        ).collect()
    )
    brute = sorted(
        (ai, bi)
        for ai, s, e in a_rows
        if s < e
        for bi, bs, be in b_rows
        if bs < be and s < be and bs < e
    )
    assert got == brute


# --------------------------------------------------- session-4 operator laws
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    counts=st.lists(st.integers(1, 8), min_size=1, max_size=6),
    split=st.integers(1, 5),
)
def test_token_entropy_is_document_split_invariant(spark, counts, split):
    """Entropy is a property of the token DISTRIBUTION, not of document
    boundaries: the same multiset of tokens scores identically whether it
    arrives as one document or scattered across many, and matches the
    textbook -sum(p ln p)."""
    import math

    from spark_auto_schema.ops import text

    toks = [f"w{i}" for i, c in enumerate(counts) for _ in range(c)]
    one = spark.createDataFrame([("g", " ".join(toks))], "source string, text string")
    many = spark.createDataFrame(
        [("g", " ".join(toks[i::split])) for i in range(split) if toks[i::split]],
        "source string, text string",
    )
    r1 = text.token_entropy(one).collect()[0]
    r2 = text.token_entropy(many).collect()[0]
    assert (r1["n_tokens"], r1["vocab_size"], r1["entropy"]) == (
        r2["n_tokens"],
        r2["vocab_size"],
        r2["entropy"],
    )
    n = sum(counts)
    expected = -sum(c / n * math.log(c / n) for c in counts)
    assert r1["entropy"] == round(expected, 4)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 9)),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),
    )
)
def test_assemble_sequences_matches_sequential_reference(spark, rows):
    """Random (key, order, payload) logs: the distributed assembly must
    equal a sequential sort-and-join per key, for every key."""
    from collections import defaultdict

    from spark_auto_schema.ops import packing

    data = [(f"k{k}", t, f"p{p}") for k, t, p in rows]
    df = spark.createDataFrame(data, "k string, t int, p string").repartition(7)
    got = {
        r["k"]: (r["n_items"], r["sequence"])
        for r in packing.assemble_sequences(df, ["k"], ["t"], "p").collect()
    }
    want: dict[str, list] = defaultdict(list)
    for k, t, p in data:
        want[k].append((t, p))
    expected = {
        k: (len(v), "|".join(p for _, p in sorted(v))) for k, v in want.items()
    }
    assert got == expected
