"""The engine's one driver-side memo: keys carry the session and the
identity of every input file, one LRU bound, and an overwritten table is
never served from its old entry."""

import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from torcharrow_spark import memo as M


def _session(app_id):
    return types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId=app_id)
    )


def _counting(value="v"):
    calls = []

    def build():
        calls.append(1)
        return value

    return build, calls


@pytest.fixture(autouse=True)
def _empty_memo():
    M.clear()
    yield
    M.clear()


def test_memo_is_scoped_to_application_id():
    build, calls = _counting()
    M.memo("k", build, session=_session("app-1"))
    M.memo("k", build, session=_session("app-1"))
    assert len(calls) == 1
    M.memo("k", build, session=_session("app-2"))
    assert len(calls) == 2
    M.memo("k", build)  # no session is its own scope too
    assert len(calls) == 3


def test_memo_lru_bound_evicts_only_the_oldest(monkeypatch):
    monkeypatch.setattr(M, "_BOUND", 3)
    builds = {}

    def get(k):
        return M.memo(k, lambda: builds.setdefault(k, []).append(1) or k)

    for k in "abc":
        get(k)
    get("a")  # a hit makes "a" the most recent; "b" is now the oldest
    get("d")
    assert len(M._STORE) == 3
    for k in "acd":
        get(k)
    assert {k: len(v) for k, v in builds.items()} == {
        "a": 1, "b": 1, "c": 1, "d": 1
    }
    get("b")  # the only entry evicted was "b"
    assert len(builds["b"]) == 2


def test_memo_keys_on_file_and_directory_identity(tmp_path):
    f = tmp_path / "t.bin"
    f.write_bytes(b"one")
    build, calls = _counting()
    M.memo("f", build, paths=(str(f),))
    M.memo("f", build, paths=(f"file://{f}",))  # a file: URI stats too
    assert len(calls) == 2  # the URI string is part of the identity
    M.memo("f", build, paths=(str(f),))
    assert len(calls) == 2
    f.write_bytes(b"longer")
    M.memo("f", build, paths=(str(f),))
    assert len(calls) == 3

    d = tmp_path / "table"
    (d / "k=1").mkdir(parents=True)
    (d / "k=1" / "part-0").write_bytes(b"x")
    build, calls = _counting()
    M.memo("d", build, paths=(str(d),))
    M.memo("d", build, paths=(str(d),))
    assert len(calls) == 1
    (d / "k=1" / "part-0").write_bytes(b"xy")  # a nested file changed
    M.memo("d", build, paths=(str(d),))
    assert len(calls) == 2
    (d / "part-1").write_bytes(b"z")  # the listing changed
    M.memo("d", build, paths=(str(d),))
    assert len(calls) == 3

    # a path the driver cannot stat is keyed by the path alone
    build, calls = _counting()
    for p in ("hdfs://nn/t.parquet", str(tmp_path / "missing")):
        M.memo("r", build, paths=(p,))
        M.memo("r", build, paths=(p,))
    assert len(calls) == 2


def _schema_change(path):
    pq.write_table(
        pa.table({"doc_id": [7, 8], "body": ["x", "y"], "score": [0.5, 1.5]}),
        path,
    )
    return ["doc_id", "body", "score"], [(7, "x", 0.5), (8, "y", 1.5)]


def _larger_multi_row_group(path):
    n = 400_000
    pq.write_table(
        pa.table({"doc_id": pa.array(range(n), pa.int64())}),
        path,
        row_group_size=n // 20,
    )
    assert pq.ParquetFile(path).metadata.num_row_groups == 20
    return ["doc_id"], n


def _count_parquet_reads(monkeypatch):
    """Paths handed to Spark's Parquet reader from now on."""
    from pyspark.sql.readwriter import DataFrameReader

    reads = []
    real_parquet = DataFrameReader.parquet

    def counting_parquet(self, *paths, **options):
        reads.extend(paths)
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counting_parquet)
    return reads


def test_read_parquet_resolves_a_scan_once_per_file_identity(
    spark, tmp_path, monkeypatch
):
    """``read_parquet`` (and ``read_parquet_ns``, under its own key)
    returns the same scan handle for an unchanged file, with no second
    schema read, and re-reads a file overwritten with a new schema."""
    import torcharrow_spark as ts
    from torcharrow_spark.sources import read_parquet_ns

    reads = _count_parquet_reads(monkeypatch)
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2, 3], "ts": [1, 2, 3]}), path)
    first = ts.read_parquet(path, spark).to_spark()
    assert ts.read_parquet(path, spark).to_spark() is first
    assert ts.read_parquet(path, spark, columns=["doc_id"]).columns == ["doc_id"]
    assert len(reads) == 1
    ns = read_parquet_ns(path, spark).to_spark()
    assert read_parquet_ns(path, spark).to_spark() is ns
    assert ns is not first and len(reads) == 2

    columns, rows = _schema_change(path)
    got = ts.read_parquet(path, spark).to_spark()
    assert got.columns == columns
    assert sorted(map(tuple, got.collect())) == rows
    assert read_parquet_ns(path, spark).to_spark().columns == columns
    assert len(reads) == 4


def test_read_parquet_reads_what_it_cannot_stat_afresh(spark, tmp_path, monkeypatch):
    """A path the driver cannot stat (here a brace glob; a remote URI
    alike) is read afresh on every call, so a matching file overwritten
    with more rows is seen. A change to a conf that shapes the inferred
    schema, or another session, gets its own scan of an unchanged file."""
    import torcharrow_spark as ts

    reads = _count_parquet_reads(monkeypatch)
    pq.write_table(pa.table({"k": [1, 2]}), str(tmp_path / "a.parquet"))
    pq.write_table(pa.table({"k": [3]}), str(tmp_path / "b.parquet"))
    braces = f"{tmp_path}/{{a,b}}.parquet"
    assert ts.read_parquet(braces, spark).to_spark().count() == 3
    pq.write_table(pa.table({"k": [1, 2, 4, 5]}), str(tmp_path / "a.parquet"))
    assert ts.read_parquet(braces, spark).to_spark().count() == 5
    assert len(reads) == 2

    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    assert ts.read_parquet(path, spark).to_spark().dtypes == [("b", "binary")]
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        assert ts.read_parquet(path, spark).to_spark().dtypes == [("b", "string")]
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert ts.read_parquet(path, spark).to_spark().dtypes == [("b", "binary")]
    other = spark.newSession()
    assert ts.read_parquet(path, other).to_spark().sparkSession is other
    assert len(reads) == 5


@pytest.mark.parametrize("overwrite", [_schema_change, _larger_multi_row_group])
def test_load_serves_an_overwritten_table_fresh(
    spark, tmp_path, monkeypatch, overwrite
):
    """A table overwritten mid-session is re-resolved, never served from
    the old handle. An unchanged file is served from one handle with no
    second read."""
    from torcharrow_spark import queries as Q

    reads = _count_parquet_reads(monkeypatch)
    sf_dir, path = str(tmp_path), str(tmp_path / "t.parquet")
    pq.write_table(
        pa.table({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]}), path
    )
    first = Q._load(spark, sf_dir, "t").to_spark()
    assert Q._load(spark, sf_dir, "t").to_spark() is first
    assert first.columns == ["doc_id", "text"] and first.count() == 3
    assert len(reads) == 1

    columns, rows = overwrite(path)
    got = Q._load(spark, sf_dir, "t").to_spark()
    assert got.columns == columns
    if isinstance(rows, int):
        assert got.count() == rows
        assert got.agg({"doc_id": "max"}).first()[0] == rows - 1
    else:
        assert sorted(map(tuple, got.collect())) == rows
    assert len(reads) == 2


def test_spread_decides_again_after_its_source_is_overwritten(
    spark, tmp_path, monkeypatch
):
    from pyspark.sql.classic import dataframe as _cdf

    from torcharrow_spark.operators.preprocess import spread_narrow_source

    probes = []
    real_rdd = _cdf.DataFrame.rdd  # a functools.cached_property
    real_fn = getattr(real_rdd, "func", None) or real_rdd.fget

    @property
    def counting_rdd(self):
        probes.append(1)
        return real_fn(self)

    monkeypatch.setattr(_cdf.DataFrame, "rdd", counting_rdd)
    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), path)
    spread_narrow_source(spark.read.parquet(path))
    assert len(probes) == 1
    spread_narrow_source(spark.read.parquet(path))
    assert len(probes) == 1
    pq.write_table(
        pa.table({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]}), path
    )
    spread_narrow_source(spark.read.parquet(path))
    assert len(probes) == 2
