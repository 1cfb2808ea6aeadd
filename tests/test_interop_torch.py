"""Tensor bridge tests (reference §2.12). torch is optional — the
converters produce numpy-backed structures either way."""

import numpy as np

import torcharrow_spark as ts
from torcharrow_spark.interop_torch import (
    Dense,
    PackedList,
    PackedMap,
    PadSequence,
    WithPresence,
    batched_tensors,
    from_tensor,
    to_tensor,
)


def test_numeric_and_presence(spark):
    d = ts.dataframe({"x": [1.0, None, 3.0], "y": [1, 2, 3]}, spark=spark)
    out = to_tensor(d)
    assert isinstance(out["x"], WithPresence)
    assert list(np.asarray(out["x"].presence)) == [True, False, True]
    assert list(np.asarray(out["y"])) == [1, 2, 3]


def test_packed_list_and_pad(spark):
    d = ts.dataframe({"l": [[1.0, 2.0], [3.0], []]}, spark=spark)
    out = to_tensor(d)
    pl = out["l"]
    assert isinstance(pl, PackedList)
    assert list(np.asarray(pl.offsets)) == [0, 2, 3, 3]
    assert list(np.asarray(pl.values)) == [1.0, 2.0, 3.0]

    padded = to_tensor(d, {"l": PadSequence(batch_first=True, padding_value=-1.0)})["l"]
    assert np.asarray(padded).tolist() == [[1.0, 2.0], [3.0, -1.0], [-1.0, -1.0]]


def test_dense_struct(spark):
    sdf = spark.createDataFrame([(1.0, 2.0), (3.0, 4.0)], "a double, b double")
    d = ts.DataFrame(sdf.selectExpr("struct(a, b) AS feats"))
    mat = to_tensor(d, {"feats": Dense(batch_first=True)})["feats"]
    assert np.asarray(mat).tolist() == [[1.0, 2.0], [3.0, 4.0]]


def test_round_trip_and_batches(spark):
    d = ts.dataframe({"x": [1, 2, 3, 4]}, spark=spark)
    back = from_tensor({"x": np.array([9, 8])}, spark=spark)
    assert sorted(r["x"] for r in back.to_pylist()) == [8, 9]
    batches = list(batched_tensors(d, batch_size=2))
    assert len(batches) == 2
    assert sum(len(np.asarray(b["x"])) for b in batches) == 4


def _rows(v):
    """Per-row Python values of one converted column, so that exports
    whose list offsets start at a slice's offset compare equal."""
    if isinstance(v, WithPresence):
        return [x if p else None for x, p in zip(_rows(v.values), np.asarray(v.presence))]
    if isinstance(v, PackedList):
        flat, off = _rows(v.values), np.asarray(v.offsets)
        return [flat[a:b] for a, b in zip(off[:-1], off[1:])]
    if isinstance(v, PackedMap):
        pairs, off = list(zip(_rows(v.keys), _rows(v.values))), np.asarray(v.offsets)
        return [pairs[a:b] for a, b in zip(off[:-1], off[1:])]
    if isinstance(v, dict):
        return [dict(zip(v, row)) for row in zip(*(_rows(f) for f in v.values()))]
    return list(v)


def _all_types(spark, n, parts):
    return spark.range(0, n, 1, parts).selectExpr(
        "id",
        "IF(id % 5 = 0, NULL, id * 0.5) AS dbl",
        "IF(id % 7 = 0, NULL, concat('s', id)) AS str",
        "sequence(0, id % 4) AS lst",
        "map(concat('k', id % 3), id % 11) AS mp",
        "named_struct('a', id % 13, 'b', id * 2.0) AS st",
        "timestamp_seconds(id * 3600) AS ts",
        "CAST(id / 8 AS decimal(12, 3)) AS dec",
        "id % 2 = 0 AS flag",
        "date_add(DATE'2020-01-01', CAST(id % 400 AS int)) AS day",
        "CAST(concat('b', id % 17) AS binary) AS bin",
    )


def test_batched_tensors_equal_to_tensor(spark):
    """The streamed export yields the rows `to_tensor` converts, in the
    same order, for every column type it converts, in exact batch_size
    batches across partition boundaries."""
    n = 2500
    sdf = _all_types(spark, n, 7)
    whole = to_tensor(sdf)
    batches = list(batched_tensors(sdf, batch_size=1000))
    assert [len(np.asarray(b["id"])) for b in batches] == [1000, 1000, 500]
    for name, col in whole.items():
        assert [r for b in batches for r in _rows(b[name])] == _rows(col), name


def test_batched_tensors_empty_frame(spark):
    sdf = _all_types(spark, 100, 3).where("id < 0")
    assert list(batched_tensors(sdf, batch_size=10)) == []


def test_batched_tensors_failing_udf_raises(spark):
    """A failing task raises from the iteration, whether it fails while
    the export's shuffle stages run or while its batches are served, and
    the next export on the session still works. A hung export fails the
    test after 300 s: it runs in a daemon thread, which nothing joins."""
    import threading

    import pytest
    from pyspark.sql import functions as F

    def within(seconds, fn):
        out = {}

        def run():
            try:
                out["value"] = fn()
            except BaseException as e:  # re-raised on the test's thread
                out["error"] = e

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(seconds)
        assert not t.is_alive(), f"export still running after {seconds} s"
        if "error" in out:
            raise out["error"]
        return out["value"]

    @F.udf("long")
    def boom(x):
        if x == 77:
            raise ValueError("boom77")
        return x

    base = spark.range(0, 200, 1, 3).select(boom("id").alias("b"))
    for sdf in (base, base.groupBy("b").count()):
        with pytest.raises(Exception, match="boom77"):
            within(300, lambda: list(batched_tensors(sdf, batch_size=64)))
    ok = list(batched_tensors(spark.range(0, 10, 1, 2), batch_size=4))
    assert [len(np.asarray(b["id"])) for b in ok] == [4, 4, 2]


def test_batched_tensors_is_one_sql_execution(spark):
    """The export is one SQL execution named after it that runs all of
    its jobs, so its plan's Python nodes carry their metrics."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    store = spark._jsparkSession.sharedState().statusStore()

    def newest():
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).head().executionId() if n else -1

    before = newest()
    sdf = spark.range(0, 3000, 1, 3).select(plus_one("id").alias("x"))
    assert sum(len(np.asarray(b["x"])) for b in batched_tensors(sdf, 1024)) == 3000
    new = (store.execution(i) for i in range(before + 1, newest() + 1))
    ours = [e.get() for e in new
            if e.isDefined() and e.get().description() == "batched_tensors"]
    assert len(ours) == 1
    ex = ours[0]
    assert ex.jobs().size() >= 1
    assert ex.errorMessage().isEmpty()
    assert "ArrowEvalPython" in ex.physicalPlanDescription()


def test_asof_join_small(spark):
    from torcharrow_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (2, 15, "l3")], "k long, t long, lv string"
    )
    right = spark.createDataFrame(
        [(1, 5, 100.0), (1, 20, 200.0), (2, 30, 300.0)], "k long, t long, rv double"
    )
    out = {
        r["lv"]: r["rv_right"]
        for r in asof_join(left, right, on="t", by=["k"]).collect()
    }
    # l1(t=10) -> rv@5; l2(t=20) -> rv@20 (equal ts matches); l3 -> none before 15
    assert out == {"l1": 100.0, "l2": 200.0, "l3": None}
    fwd = {
        r["lv"]: r["rv_right"]
        for r in asof_join(left, right, on="t", by=["k"], direction="forward").collect()
    }
    assert fwd == {"l1": 200.0, "l2": 200.0, "l3": 300.0}


def test_cumulatives_and_tail(spark):
    d = ts.dataframe({"g": [1, 1, 1], "i": [1, 2, 3], "x": [2.0, 1.0, 4.0]}, spark=spark)
    cm = d.cummax(columns=["x"], order_by=["i"], partition_by=["g"]).sort(by=["i"])
    assert [r["x"] for r in cm.to_pylist()] == [2.0, 2.0, 4.0]
    cp = d.cumprod(columns=["x"], order_by=["i"], partition_by=["g"]).sort(by=["i"])
    assert [r["x"] for r in cp.to_pylist()] == [2.0, 2.0, 8.0]
    tl = d.tail(2, order_by=["i"])
    assert [r["i"] for r in tl.to_pylist()] == [2, 3]
    assert d.is_unique(["i"]) and not d.is_unique(["g"])
    assert d.is_monotonic_increasing("i", order_by=["i"])
    assert not d.is_monotonic_increasing("x", order_by=["i"])


def test_salted_join_equals_plain_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.joins import salted_join

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_custkey")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey", "c_mktsegment")
    plain = o.join(c, o.o_custkey == c.c_custkey).groupBy("c_mktsegment").count()
    salted = (
        salted_join(o.withColumnRenamed("o_custkey", "c_custkey"), c, ["c_custkey"], salt=8)
        .groupBy("c_mktsegment")
        .count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_decoded_image_features_to_tensor(spark):
    """Multimodal decode -> torch export end to end: real PNG decode
    (fake=False) produces a features array column whose tensor export is
    a dense [n, 8] float tensor plus scalar width/height columns — the
    shape a vision-adjacent training loop consumes."""
    import numpy as np

    from torcharrow_spark.interop_torch import to_tensor
    from torcharrow_spark.operators import decode_features
    from torcharrow_spark.operators.imagecodec import encode_png

    rng = np.random.RandomState(7)
    rows = [
        (i, bytearray(encode_png(
            rng.randint(0, 256, size=(5 + i, 6 + i, 3), dtype="uint8"))))
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, img binary")
    feats = decode_features(df, "img", "doc_id").orderBy("doc_id")
    out = to_tensor(feats)
    assert set(out) == {"doc_id", "width", "height", "features"}
    f = out["features"]
    # PackedList or dense tensor depending on backend; normalize to rows
    vals = np.asarray(f.values if hasattr(f, "values") else f)
    assert np.asarray(out["doc_id"]).shape[0] == 6
    assert vals.size == 6 * 8
    assert list(np.asarray(out["width"])) == [6 + i for i in range(6)]
    assert list(np.asarray(out["height"])) == [5 + i for i in range(6)]
    # first feature slot is the width, third the channel count
    per_doc = vals.reshape(6, 8)
    assert per_doc[:, 0].tolist() == [float(6 + i) for i in range(6)]
    assert all(c == 3.0 for c in per_doc[:, 2])
