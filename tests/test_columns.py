"""Column-algebra semantics tests with literal inputs and hand-computed
expectations (reference model: device-parameterized operator unit tests,
SURVEY §5.1)."""

import math

import torcharrow_spark as ts
from torcharrow_spark import dt, me


def col(spark, df, expr):
    return [r["v"] for r in df.select(v=expr).to_pylist()]


def test_arith_promotion(spark):
    d = ts.dataframe({"a": [1, 2, None], "b": [3, 4, 5]}, spark=spark)
    assert col(spark, d, me["a"] + me["b"]) == [4, 6, None]
    assert (me["a"] + me["b"])._resolve(d)[1].name == "int64"
    # truediv always float, /0 -> inf not error (numerical_column_cpu.py:385-419)
    d2 = ts.dataframe({"a": [1.0, -1.0, 0.0], "b": [0.0, 0.0, 0.0]}, spark=spark)
    vals = col(spark, d2, me["a"] / me["b"])
    assert vals[0] == math.inf and vals[1] == -math.inf and math.isnan(vals[2])


def test_floor_div_mod(spark):
    # Python semantics: -3//2 == -2, -3%2 == 1 (numeric_functions.h:27-72)
    d = ts.dataframe({"a": [7, -3, -7, 8], "b": [2, 2, 3, -3]}, spark=spark)
    assert col(spark, d, me["a"] // me["b"]) == [3, -2, -3, -3]
    assert col(spark, d, me["a"] % me["b"]) == [1, 1, 2, -1]
    # int // 0 -> null (documented divergence: reference raises)
    d0 = ts.dataframe({"a": [5], "b": [0]}, spark=spark)
    assert col(spark, d0, me["a"] // me["b"]) == [None]


def test_round_half_even(spark):
    d = ts.dataframe({"x": [2.5, 3.5, 2.675]}, spark=spark)
    assert col(spark, d, me["x"].round()) == [2.0, 4.0, 3.0]


def test_string_accessor(spark):
    d = ts.dataframe({"s": ["Hello World", "ab", None]}, spark=spark)
    assert col(spark, d, me["s"].str.lower()) == ["hello world", "ab", None]
    assert col(spark, d, me["s"].str.length()) == [11, 2, None]
    assert col(spark, d, me["s"].str.slice(0, 5)) == ["Hello", "ab", None]
    assert col(spark, d, me["s"].str.startswith("He")) == [True, False, None]
    assert col(spark, d, me["s"].str.find("World")) == [6, -1, None]
    assert col(spark, d, me["s"].str.replace("l", "L")) == ["HeLLo WorLd", "ab", None]
    assert col(spark, d, me["s"].str.split(" ")) == [["Hello", "World"], ["ab"], None]
    assert col(spark, d, me["s"].str.isalpha()) == [False, True, None]


def test_list_accessor(spark):
    d = ts.dataframe({"l": [[1, 2, 3], [], None]}, spark=spark)
    assert col(spark, d, me["l"].list.length()) == [3, 0, None]
    assert col(spark, d, me["l"].list.vmap(lambda x: x * 10)) == [[10, 20, 30], [], None]
    assert col(spark, d, me["l"].list.filter(lambda x: x > 1)) == [[2, 3], [], None]
    assert col(spark, d, me["l"].list.reduce(lambda a, b: a + b, 0)) == [6, 0, None]
    assert col(spark, d, me["l"][0]) == [1, None, None]
    assert col(spark, d, me["l"].list.slice(1, 3)) == [[2, 3], [], None]


def test_map_accessor(spark):
    d = ts.dataframe(
        {"m": [{"a": 1, "b": 2}, {"c": 3}]},
        dtype=dt.Struct((dt.Field("m", dt.Map(dt.string, dt.int64)),)),
        spark=spark,
    )
    keys = col(spark, d, me["m"].maps.keys())
    assert [sorted(k) for k in keys] == [["a", "b"], ["c"]]
    assert col(spark, d, me["m"].maps.get("a", -1)) == [1, -1]


def test_if_else_isin_fillnull(spark):
    d = ts.dataframe({"x": [1, None, 3]}, spark=spark)
    assert col(spark, d, ts.if_else(me["x"] > 1, 10, 20)) == [20, 20, 10]
    assert col(spark, d, me["x"].isin([1, 3])) == [True, False, True]
    assert col(spark, d, me["x"].fill_null(0)) == [1, 0, 3]
    assert col(spark, d, me["x"].is_null()) == [False, True, False]


def test_eager_scalar_aggs(spark):
    d = ts.dataframe({"x": [1.0, 2.0, 3.0, None]}, spark=spark)
    assert d["x"].sum() == 6.0
    assert d["x"].mean() == 2.0
    assert d["x"].count() == 3
    assert d["x"].min() == 1.0
    assert d["x"].nunique() == 3


def test_functional_ops(spark):
    from torcharrow_spark import functional as fn

    d = ts.dataframe({"x": [5.0, 15.0, 30.0], "l": [[1, 2], [2, 3], [9]]}, spark=spark)
    assert col(spark, d, fn.bucketize(me["x"], [10.0, 20.0])) == [0, 1, 2]
    assert col(spark, d, fn.firstx(me["l"], 1)) == [[1], [2], [9]]
    assert col(spark, d, fn.clamp_list(me["l"], 2, 8)) == [[2, 2], [2, 3], [8]]
    # overlap scores against a literal list
    import pyspark.sql.functions as F

    other = ts.Column(lambda df: (F.array(F.lit(2), F.lit(9)), dt.List(dt.int64)))
    assert col(spark, d, fn.has_id_overlap(me["l"], other)) == [1.0, 1.0, 1.0]
    assert col(spark, d, fn.id_overlap_count(me["l"], other)) == [1.0, 1.0, 1.0]
    import pytest as _pt

    assert col(spark, d, fn.get_jaccard_similarity(me["l"], other)) == _pt.approx(
        [1 / 3, 1 / 3, 0.5]
    )


def test_generic_dispatch(spark):
    from torcharrow_spark import functional as fn

    d = ts.dataframe({"s": ["a", "bb"]}, spark=spark)
    assert col(spark, d, fn.lpad(me["s"], 3, "_")) == ["__a", "_bb"]
    # unknown in F but valid SQL function
    assert col(spark, d, fn.repeat(me["s"], 2)) == ["aa", "bbbb"]


def test_column_level_map_flatmap_filter(spark):
    """Reference defines map/flatmap/filter on Column (icolumn.py:420-727);
    ours delegate to the owning frame."""
    import typing

    import pytest

    d = ts.dataframe({"a": [1, 2, 3]}, spark=spark)
    mapped = d.select(b=d["a"].map({1: "one", 2: "two"}))
    assert [r["b"] for r in mapped.to_pylist()] == ["one", "two", None]

    def explode_n(x) -> typing.List[int]:
        return list(range(x))

    flat = d["a"].flatmap(explode_n)
    assert sorted(r["value"] for r in flat.to_pylist()) == [0, 0, 0, 1, 1, 2]

    kept = d["a"].filter(lambda x: x > 1)
    assert sorted(r["a"] for r in kept.to_pylist()) == [2, 3]

    derived = d["a"] + 1
    with pytest.raises(ValueError, match="NAMED column"):
        derived.map({1: "x"})


def test_quantile_interpolations_match_pandas(spark):
    """All four non-linear interpolations + linear, scalar and list q,
    against the pandas oracle the reference itself delegates to
    (inumerical_column.py:355-413)."""
    import pandas as pd
    import pytest as _pt

    import torcharrow_spark as ts

    from torcharrow_spark import dt

    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    s = pd.Series(vals)
    d = ts.dataframe(
        {"x": vals}, dtype=dt.Struct([dt.Field("x", dt.float64)]), spark=spark
    )
    for interp in ["linear", "lower", "higher", "nearest", "midpoint"]:
        for q in [0.0, 0.1, 0.25, 0.375, 0.5, 0.625, 0.9, 1.0]:
            got = d["x"].quantile(q, interpolation=interp)
            want = s.quantile(q, interpolation=interp)
            assert got == _pt.approx(want, abs=1e-9), (interp, q, got, want)
    got = d["x"].quantile([0.25, 0.5, 0.75], interpolation="midpoint")
    want = list(s.quantile([0.25, 0.5, 0.75], interpolation="midpoint"))
    assert got == _pt.approx(want)
    # percentile: percent-addressed
    assert d["x"].percentile(50, "lower") == s.quantile(0.5, interpolation="lower")
    with _pt.raises(ValueError):
        d["x"].quantile(1.5)
    with _pt.raises(ValueError):
        d["x"].quantile(0.5, interpolation="cubic")


def test_quantile_interpolation_grouped(spark):
    """Non-linear interpolation stays a lazy per-group aggregate."""
    import pandas as pd
    import pytest as _pt

    import torcharrow_spark as ts
    from torcharrow_spark import me

    data = {"g": ["a"] * 4 + ["b"] * 5, "x": [1.0, 2.0, 3.0, 10.0, 5.0, 6.0, 7.0, 8.0, 100.0]}
    d = ts.dataframe(data, spark=spark)
    out = d.groupby(["g"]).select(q=me["x"].quantile(0.5, interpolation="midpoint"))
    got = {r["g"]: r["q"] for r in out.to_pylist()}
    pdf = pd.DataFrame(data)
    for g, grp in pdf.groupby("g"):
        assert got[g] == _pt.approx(grp["x"].quantile(0.5, interpolation="midpoint"))


def test_reduce_generic_fold(spark):
    """reference icolumn.py:729-770: sequential fold with arbitrary fn,
    optional initializer/finalizer; empty-no-initializer raises."""
    import operator

    import pytest as _pt

    import torcharrow_spark as ts
    from torcharrow_spark import me

    d = ts.dataframe({"x": [1, 2, 3, 4]}, spark=spark)
    assert d["x"].reduce(operator.mul) == 24
    assert d["x"].reduce(operator.add, initializer=100) == 110
    assert d["x"].reduce(operator.add, finalizer=lambda v: v * 2) == 20
    empty = ts.dataframe({"x": [1]}, spark=spark).where(me["x"] > 9)
    assert empty["x"].reduce(operator.add, initializer=7) == 7
    with _pt.raises(TypeError):
        empty["x"].reduce(operator.add)
    # order-dependence respected: subtraction folds in construction order
    d2 = ts.dataframe({"x": [10, 1, 2, 3]}, spark=spark)
    assert d2["x"].reduce(operator.sub) == 4


def test_batch_unbatch_roundtrip(spark):
    import torcharrow_spark as ts

    d = ts.dataframe({"x": [1, 2, 3, 4, 5], "y": list("abcde")}, spark=spark)
    chunks = list(d.batch(2))
    assert [c.count() for c in chunks] == [2, 2, 1]
    rt = ts.DataFrame.unbatch(chunks)
    assert sorted(r["x"] for r in rt.to_pylist()) == [1, 2, 3, 4, 5]
    col_chunks = list(d["x"].batch(3))
    assert [c.count() for c in col_chunks] == [3, 2]
    assert col_chunks[0].columns == ["x"]


def test_approx_quantile_near_exact(spark, sf_dir):
    import pytest as _pt

    import torcharrow_spark as ts

    li = ts.read_parquet(f"{sf_dir}/lineitem.parquet", spark)
    exact = li["l_quantity"].quantile(0.9)
    approx = li["l_quantity"].approx_quantile(0.9)
    assert approx == _pt.approx(exact, rel=0.05)
    lst = li["l_quantity"].approx_quantile([0.25, 0.5, 0.75])
    assert len(lst) == 3 and lst[0] <= lst[1] <= lst[2]


def test_column_metadata_props(spark):
    """is_nullable / length / null_count / is_valid_at (reference
    icolumn.py:151-167, 293-297)."""
    import pytest as _pt

    import torcharrow_spark as ts

    d = ts.dataframe(
        {"x": [1, None, 3]},
        dtype=ts.dt.Struct([ts.dt.Field("x", ts.dt.int64.with_null(True))]),
        spark=spark,
    )
    c = d["x"]
    assert c.is_nullable is True
    assert c.length == 3
    assert c.null_count == 1
    assert c.is_valid_at(0) and not c.is_valid_at(1) and c.is_valid_at(2)
    with _pt.raises(ValueError):
        ts.me["x"].null_count


def test_column_describe(spark):
    """Reference docstring example (inumerical_column.py): column
    describe emits (statistic, value) rows."""
    import pytest as _pt

    import torcharrow_spark as ts

    d = ts.dataframe({"t": [1, 2, 999, 4]}, spark=spark)
    rows = {r["statistic"]: r["value"] for r in d["t"].describe().to_pylist()}
    assert rows["count"] == 4.0 and rows["mean"] == 251.5
    assert rows["std"] == _pt.approx(498.33489408897174)
    assert rows["25%"] == 1.5 and rows["50%"] == 3.0 and rows["75%"] == 501.5
    assert rows["min"] == 1.0 and rows["max"] == 999.0


def test_column_sort_reference_semantics(spark):
    """Mirrors reference test_numerical_column.py::base_test_sort_stuff:
    bare-column sort with ascending/na_position, `by` rejected."""
    import pytest

    assert list(ts.column([2, 1, 3], spark=spark).sort()) == [1, 2, 3]
    assert list(ts.column([2, 1, 3], spark=spark).sort(ascending=False)) == [3, 2, 1]
    c = [None, 1, 5, 2]
    assert list(ts.column(c, spark=spark).sort()) == [1, 2, 5, None]
    assert list(ts.column(c, spark=spark).sort(na_position="first")) == [None, 1, 2, 5]
    assert list(ts.column(c, spark=spark).sort(na_position="last")) == [1, 2, 5, None]
    with pytest.raises(TypeError, match="by"):
        ts.column([1], spark=spark).sort(by=["x"])


def test_column_append_drop_null_drop_duplicates(spark):
    """Mirrors reference base_test_na_handling + append: drop_null
    strips nulls (non-nullable result dtype), drop_duplicates keeps
    FIRST-occurrence order with null as a value, append extends in
    construction order."""
    c = ts.column([None, 2.0, 17.0], spark=spark)
    assert list(c.drop_null()) == [2.0, 17.0]
    assert c.drop_null().dtype.nullable is False

    c2 = c.append([2.0])
    assert list(c2) == [None, 2.0, 17.0, 2.0]
    assert set(c2.drop_duplicates()) == {None, 2.0, 17.0}
    # first-occurrence ORDER (OrderedDict.fromkeys semantics)
    assert list(ts.column([3, 1, 3, 2, 1, None, 2], spark=spark)
                .drop_duplicates()) == [3, 1, 2, None]
    import pytest
    with pytest.raises(TypeError, match="subset"):
        c.drop_duplicates(subset=["x"])
    with pytest.raises(TypeError, match="how"):
        c.drop_null(how="any")


def test_column_cumsum_reference_null_semantics(spark):
    """Mirrors reference base_test_agg_handling's cumsum expectation:
    null rows yield null and are SKIPPED in the accumulation (plain SQL
    windows would emit the running sum at a null row instead)."""
    import pytest

    vals = [1, 4, 2, 7, 9, 1]
    c = ts.column(vals + [None], spark=spark)
    assert list(c.cumsum()) == [sum(vals[:i]) for i in range(1, len(vals) + 1)] + [None]
    # null mid-stream: emitted as null, skipped in the running sum
    assert list(ts.column([1, None, 2], spark=spark).cumsum()) == [1, None, 3]
    with pytest.raises(TypeError, match="non-numerical"):
        ts.column(["a"], spark=spark).cumsum()


def test_column_sort_then_dedup_composes(spark):
    """sort -> drop_duplicates on a bare column (the round-4 oracle
    query's shape, q131) — composition through 1-col owner frames."""
    c = ts.column([5, 3, 5, 1, None, 3], spark=spark)
    assert list(c.sort().drop_duplicates()) == [1, 3, 5, None]


def test_device_kwarg_reference_shapes(spark):
    """Reference-shaped call sites pass device= (icolumn.py:34,
    idataframe.py:44): '' and 'cpu' select the Spark runtime, anything
    else raises like an unregistered dispatch key."""
    import pytest

    assert list(ts.column([1, 2], device="cpu", spark=spark)) == [1, 2]
    d = ts.dataframe({"a": [1]}, device="cpu", spark=spark)
    assert d.to_pylist() == [{"a": 1}]
    assert ts.from_pylist([{"a": 1}], device="cpu", spark=spark).to_pylist() == [{"a": 1}]
    with pytest.raises(ValueError, match="device"):
        ts.column([1], device="gpu", spark=spark)
    with pytest.raises(ValueError, match="device"):
        ts.dataframe({"a": [1]}, device="velox", spark=spark)


def test_rand_size_factory_signature(spark):
    """Reference factory contract (functional.py:61-76): rand(size=n)
    yields a free-standing n-row column in [0, 1); the frame-expression
    spelling (no size) still composes into selects."""
    from torcharrow_spark import functional as fn

    c = fn.rand(seed=7, size=100)
    vals = list(c)
    assert len(vals) == 100 and all(0.0 <= v < 1.0 for v in vals)
    import pytest
    with pytest.raises(ValueError, match="size"):
        fn.rand(size=-1)
    with pytest.raises(ValueError, match="device"):
        fn.rand(size=5, device="gpu")


def test_reduce_associative_distributed(spark):
    """reduce(associative=True) — r6: two-level fold (partition-local
    mapInPandas + driver fold over partials) equals the sequential
    reference fold for associative fns, honors initializer/finalizer
    ONCE, survives many partitions, ignores the driver-stream cap, and
    keeps empty-no-initializer semantics."""
    import operator

    import pytest as _pt

    import torcharrow_spark as ts
    from torcharrow_spark import me

    d = ts.dataframe({"x": list(range(1, 101))}, spark=spark)
    seq = d["x"].reduce(operator.add)
    assert d["x"].reduce(operator.add, associative=True) == seq == 5050
    # partition count > 1 and an initializer applied exactly once
    dd = ts.DataFrame(d.to_spark().repartition(16))
    assert dd["x"].reduce(operator.add, associative=True, initializer=7) == 5057
    assert dd["x"].reduce(min, associative=True) == 1
    assert dd["x"].reduce(max, associative=True, finalizer=lambda v: -v) == -100
    # the cap does not apply: max_rows tiny yet the fold succeeds
    assert dd["x"].reduce(operator.add, associative=True, max_rows=5) == 5050
    empty = ts.dataframe({"x": [1]}, spark=spark).where(me["x"] > 9)
    assert empty["x"].reduce(operator.add, associative=True, initializer=3) == 3
    with _pt.raises(TypeError):
        empty["x"].reduce(operator.add, associative=True)


def test_reduce_associative_exact_index_order(spark):
    """r7: when the frame carries its construction index,
    associative=True must fold in EXACT index order even after the
    frame has been reordered — probed with right-projection
    (f(a,b) = b), which is associative but maximally order-sensitive:
    the fold returns the LAST value in visit order. Also pins the
    null-delivery contract: fn sees Python None (Arrow-level), never
    pandas NaN."""
    import torcharrow_spark as ts

    vals = [float(v) for v in range(500)]
    d = ts.dataframe({"x": vals}, spark=spark)
    # reorder physically: descending sort, then many partitions
    shuffled = d.sort(by=["x"], ascending=False)
    last = lambda a, b: b  # noqa: E731
    assert shuffled["x"].reduce(last) == shuffled["x"].reduce(
        last, associative=True
    ) == 499.0
    first = lambda a, b: a  # noqa: E731
    assert shuffled["x"].reduce(first, associative=True) == 0.0

    # nulls arrive as Python None on the distributed path too: a
    # null-SKIPPING sum returns 4.0 iff nulls are None — if the pass
    # fed pandas NaN instead, `b is None` would be False and the sum
    # would come back NaN
    dn = ts.dataframe({"x": [1.0, None, 3.0, None]}, spark=spark)
    nsum = lambda a, b: a if b is None else (b if a is None else a + b)  # noqa: E731
    assert dn["x"].reduce(nsum, associative=True) == 4.0
    assert dn["x"].reduce(nsum) == 4.0

    # ordered=False: the zero-shuffle commutative fast path — same
    # value for order-insensitive fns, no index machinery
    import operator

    assert shuffled["x"].reduce(
        operator.add, associative=True, ordered=False
    ) == sum(vals)
    assert dn["x"].reduce(nsum, associative=True, ordered=False) == 4.0
