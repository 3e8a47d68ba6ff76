"""Property-based tests (hypothesis) for the parity-critical primitives:
canonical JSON, float formatting, stripping (record and DataFrame
side), and strict merge."""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from swarm_spark.functions.ids import canonical_json, go_format_float, log_id
from swarm_spark.schema.strip import (
    profile_struct_column,
    strip_record,
    strip_struct,
    strip_struct_column,
)

json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=20),
)
json_values = st.recursive(
    json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(max_size=8), children, max_size=4),
    ),
    max_leaves=12,
)


class TestGoFloatProperties:
    @given(st.floats(allow_nan=False, allow_infinity=False))
    @settings(max_examples=500)
    def test_round_trips(self, f):
        # shortest-representation requirement: parsing the Go-format
        # string must recover the exact double
        assert float(go_format_float(f)) == f

    @given(st.floats(allow_nan=False, allow_infinity=False))
    @settings(max_examples=300)
    def test_no_exponent_inside_f_range(self, f):
        s = go_format_float(f)
        if f != 0 and 1e-6 <= abs(f) < 1e21:
            assert "e" not in s
        elif f != 0:
            assert "e" in s


class TestCanonicalJsonProperties:
    @given(json_values)
    @settings(max_examples=300)
    def test_is_valid_json_with_same_value(self, v):
        # decoding the canonical form recovers the value (modulo the
        # int/float unification JSON itself performs)
        out = json.loads(canonical_json(v))

        def norm(x):
            if isinstance(x, bool):
                return x
            if isinstance(x, int):
                # whole floats canonicalize without a decimal point, so
                # they re-parse as int; unify through float (exact for
                # doubles, which is where these ints came from)
                return float(x)
            if isinstance(x, list):
                return [norm(i) for i in x]
            if isinstance(x, dict):
                return {k: norm(val) for k, val in x.items()}
            return x

        assert norm(out) == norm(v)

    @given(st.dictionaries(st.text(max_size=8), json_scalars, max_size=6))
    @settings(max_examples=200)
    def test_key_order_insensitive(self, d):
        items = list(d.items())
        a = dict(items)
        b = dict(reversed(items))
        assert log_id(a) == log_id(b)


class TestStripProperties:
    @given(json_values)
    @settings(max_examples=300)
    def test_one_pass_semantics_not_idempotent_by_design(self, v):
        """The reference strips in ONE pass: the drop decision uses the
        ORIGINAL emptiness (utils_test.go: {"nested":{"sub":null}} →
        {"nested":{}}), so a container that only became empty through
        cleaning survives — hence strip∘strip may differ from strip
        (e.g. {"":[null]} → {"":[]} → {}). The stable property is that
        a second pass only ever REMOVES now-empty containers."""
        once = strip_record(v)
        twice = strip_record(once)

        def is_sub(a, b):  # a ⊑ b: equal modulo dropped empty containers
            if isinstance(a, dict) and isinstance(b, dict):
                return all(k in b and is_sub(v2, b[k]) for k, v2 in a.items())
            if isinstance(a, list) and isinstance(b, list):
                # a second pass cannot remove list ELEMENTS (no Nones
                # remain), only shrink them — compare positionally
                return len(a) == len(b) and all(
                    is_sub(x, y) for x, y in zip(a, b)
                )
            return a == b

        assert is_sub(twice, once)

    @given(json_values)
    @settings(max_examples=300)
    def test_no_nulls_inside_containers(self, v):
        out = strip_record(v)

        def check(x):
            if isinstance(x, dict):
                for val in x.values():
                    assert val is not None
                    assert not (isinstance(val, (dict, list)) and len(val) == 0) or True
                    check(val)
            elif isinstance(x, list):
                for val in x:
                    assert val is not None
                    check(val)

        check(out)


# nested ``data`` structs: long, string and array leaves, nested and
# empty structs (F7: ``{"nested": {}}`` infers ``struct<>``)
leaf_types = st.sampled_from(
    [T.LongType(), T.StringType(), T.ArrayType(T.LongType()), T.StructType([])]
)


def _struct_of(children):
    return st.lists(st.tuples(children, st.booleans()), min_size=1, max_size=3).map(
        lambda fs: T.StructType(
            [T.StructField(f"f{i}", t, nullable) for i, (t, nullable) in enumerate(fs)]
        )
    )


data_types = _struct_of(st.recursive(leaf_types, _struct_of, max_leaves=5))


def _values(dt, nullable=True):
    """A value of ``dt``: null wherever the schema allows it (F7 null),
    empty arrays and arrays holding nulls."""
    if isinstance(dt, T.StructType):
        value = st.tuples(*[_values(f.dataType, f.nullable) for f in dt.fields])
    elif isinstance(dt, T.ArrayType):
        value = st.one_of(
            st.just([]),
            st.lists(st.one_of(st.none(), st.integers(-3, 3)), min_size=1, max_size=2),
        )
    elif isinstance(dt, T.LongType):
        value = st.integers(-3, 3)
    else:
        value = st.text(alphabet="xy", max_size=2)
    return st.one_of(st.none(), value) if nullable else value


def _typed_leaves(dt, value, prefix=""):
    """Oracle: the leaf paths under ``dt`` that carry typed information
    in ``value`` (a non-null scalar or a non-empty array)."""
    out = set()
    for f, v in zip(dt.fields, value if value is not None else [None] * len(dt.fields)):
        path = f"{prefix}{f.name}"
        if isinstance(f.dataType, T.StructType):
            out |= _typed_leaves(f.dataType, v, path + ".")
        elif v is not None and v != []:
            out.add(path)
    return out


class TestGroupedStripProfile:
    """The ingest path strips every destination from ONE grouped
    profile; each group's keep-set must be exactly what a separate
    ``strip_struct_column`` over that group's slice keeps, and the type
    derived from it in Python must be the type Spark gives the
    stripped column."""

    @given(st.data())
    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
    )
    def test_grouped_keep_sets_match_per_slice_strip(self, spark, data):
        dt = data.draw(data_types)
        nullable = data.draw(st.booleans())
        rows = data.draw(
            st.lists(
                st.tuples(st.sampled_from("abc"), _values(dt, nullable)), min_size=1, max_size=8
            )
        )
        schema = T.StructType(
            [T.StructField("k", T.StringType(), False), T.StructField("data", dt, nullable)]
        )
        df = spark.createDataFrame(rows, schema)
        field = df.schema["data"]
        profiles = profile_struct_column(df, "data", by=("k",))
        assert sorted(p.key[0] for p in profiles) == sorted({k for k, _ in rows})
        for p in profiles:
            (k,) = p.key
            group = [v for kk, v in rows if kk == k]
            assert p.rows == len(group)
            want = set().union(*(_typed_leaves(dt, v, "data.") for v in group))
            assert p.keep == want
            slice_ = df.where(F.col("k") == k)
            try:
                expected = strip_struct_column(slice_, "data").schema["data"].dataType
            except ValueError:  # entirely void: both paths refuse it
                try:
                    strip_struct("data", field, p.keep)
                except ValueError:
                    continue
                raise AssertionError(f"group {k}: grouped keep-set is not void")
            assert strip_struct("data", field, p.keep)[1] == expected


class TestShuffleRangeFold:
    """global_shuffle_order's no-hint path measures counts on a fixed
    65536-range power-of-two grid and folds them into the chosen
    coarser range count. That is only sound if coarse(b) is EXACTLY a
    function of fine(b) for every hash value — pin the arithmetic."""

    @given(
        st.integers(min_value=0, max_value=2**32 - 1),
        st.integers(min_value=0, max_value=6),
    )
    @settings(max_examples=500)
    def test_coarse_range_is_exact_fold_of_fine(self, b, rpow):
        FINE = 65536
        r = 1024 << rpow  # the auto path's candidates: 1024..65536
        coarse = b * r // (1 << 32)
        fine = b * FINE // (1 << 32)
        assert coarse == fine // (FINE // r)

    @given(st.integers(min_value=0, max_value=2**32 - 1), st.integers(1, 5000))
    @settings(max_examples=500)
    def test_ranges_are_monotone_in_hash(self, b, n_ranges):
        # offsets accumulate in sorted range order; sound only if the
        # range id never decreases as the hash grows
        r1 = b * n_ranges // (1 << 32)
        r2 = min(b + 1, 2**32 - 1) * n_ranges // (1 << 32)
        assert r1 <= r2 < n_ranges


class TestNearestRankArithmetic:
    """The quantile tier's rank = (q*n + 999) div 1000 must be the
    exact nearest-rank ceil for every (q, n) — no float boundary for
    two engines to disagree on."""

    @given(st.integers(1, 1000), st.integers(0, 10**12))
    @settings(max_examples=500)
    def test_rank_is_integral_ceil(self, q, n):
        r = (q * n + 999) // 1000
        assert r * 1000 >= q * n
        if q * n > 0:
            assert (r - 1) * 1000 < q * n


class TestDfCapSelection:
    """auto_max_df's pure cap selector: whatever the df histogram, the
    returned cap must respect its bounds, never exceed the linear
    candidate budget except when the floor forces it, and respond
    monotonically to a bigger budget."""

    bins_st = st.lists(
        st.tuples(st.integers(0, 30), st.integers(1, 10**6)),
        min_size=1,
        max_size=12,
    )

    @staticmethod
    def _est(bins, cap):
        return sum(n * min(1 << b, cap) ** 2 for b, n in bins)

    @staticmethod
    def _rows(bins):
        # a plausible row total: each bin's shingles at the bin's df
        # upper bound (the estimate is conservative the same way)
        return sum(n * (1 << b) for b, n in bins)

    @given(bins_st, st.integers(1, 64), st.integers(1, 1024))
    @settings(max_examples=300)
    def test_within_bounds_and_power_of_two_or_clamped(self, bins, bud, floor):
        from swarm_spark.ops.dedup import _select_df_cap

        cap = _select_df_cap(bins, self._rows(bins), bud, floor, 1 << 20)
        assert floor <= cap <= 1 << 20
        # cap is a power of two unless the floor clamp produced it
        assert cap == floor or (cap & (cap - 1)) == 0

    @given(bins_st, st.integers(1, 64))
    @settings(max_examples=300)
    def test_budget_maximality(self, bins, bud):
        """The selector is greedy-maximal: the unclamped choice fits
        the budget (or is the 1 minimum), and the next power of two
        would not (or hit cap_max)."""
        from swarm_spark.ops.dedup import _select_df_cap

        rows = self._rows(bins)
        cap_max = 1 << 20
        cap = _select_df_cap(bins, rows, bud, 1, cap_max)  # floor=1: pure choice
        budget = bud * rows
        if cap > 1:
            assert self._est(bins, cap) <= budget
        if cap < cap_max:
            assert self._est(bins, cap * 2) > budget

    @given(bins_st, st.integers(1, 32), st.integers(1, 32))
    @settings(max_examples=300)
    def test_budget_monotone(self, bins, bud, extra):
        from swarm_spark.ops.dedup import _select_df_cap

        rows = self._rows(bins)
        lo = _select_df_cap(bins, rows, bud, 1, 1 << 20)
        hi = _select_df_cap(bins, rows, bud + extra, 1, 1 << 20)
        assert hi >= lo

    @given(bins_st, st.integers(1, 16), st.integers(1, 8))
    @settings(max_examples=200)
    def test_saturated_growth_is_sublinear(self, bins, bud, k):
        """Scaling every df by 2^k with the SAME vocabulary (the
        saturated-key-space model: bins shift up, counts unchanged,
        rows scale 2^k) must grow the chosen cap by at most 2^ceil(k/2)
        — the √N law, never the ∝N of a row-count rule."""
        from swarm_spark.ops.dedup import _select_df_cap

        rows = self._rows(bins)
        base = _select_df_cap(bins, rows, bud, 1, 1 << 30)
        shifted = [(b + k, n) for b, n in bins]
        grown = _select_df_cap(shifted, rows << k, bud, 1, 1 << 30)
        assert grown <= base << ((k + 1) // 2)


class TestTemperatureShares:
    """The pure integer core of the alpha=1/2 mixture quotas."""

    counts = st.lists(st.integers(min_value=1, max_value=10**12), min_size=1, max_size=12)
    budgets = st.integers(min_value=1, max_value=10**9)

    @given(counts, budgets)
    def test_bounded_and_within_budget(self, ns, budget):
        from swarm_spark.ops.sampling import temperature_shares

        qs = temperature_shares(ns, budget)
        assert len(qs) == len(ns)
        assert all(0 <= q <= budget for q in qs)
        assert sum(qs) <= budget

    @given(counts, budgets)
    def test_monotone_in_count(self, ns, budget):
        from swarm_spark.ops.sampling import temperature_shares

        qs = temperature_shares(ns, budget)
        order = sorted(range(len(ns)), key=lambda i: ns[i])
        ranked = [qs[i] for i in order]
        assert ranked == sorted(ranked)

    @given(st.integers(min_value=1, max_value=10**12), st.integers(1, 11), budgets)
    def test_equal_counts_equal_quotas(self, n, k, budget):
        from swarm_spark.ops.sampling import temperature_shares

        qs = temperature_shares([n] * k, budget)
        assert len(set(qs)) == 1

    @given(counts, budgets)
    def test_flattens_the_extremes(self, ns, budget):
        """alpha = 1/2's load-bearing guarantee, at the extremes where
        it's provable (a MIDDLE stratum's share may legitimately rise
        above its count share when the head's freed mass redistributes):
        the LARGEST stratum's sqrt-scale share never exceeds its count
        share, the SMALLEST's never falls below — each up to the isqrt
        flooring slack k/sum(s). Exact Fraction arithmetic."""
        from fractions import Fraction
        from math import isqrt

        k = len(ns)
        tot_n, tot_s = sum(ns), sum(isqrt(n) for n in ns)
        slack = Fraction(k, tot_s)
        hi, lo = max(ns), min(ns)
        assert Fraction(isqrt(hi), tot_s) <= Fraction(hi, tot_n) + slack
        assert Fraction(isqrt(lo), tot_s) >= Fraction(lo, tot_n) - slack
