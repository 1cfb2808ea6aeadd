"""Sources & sinks.

The reference's only exercised file format is Parquet via pyarrow
(test/integration/test_criteo.py:125,155-156) plus Arrow/pandas/pylist
interop (torcharrow/interop.py). Spark-native scans give us pushdown,
column pruning and partition pruning for free; everything here returns the
engine's lazy DataFrame facade.
"""

from __future__ import annotations

import typing as _ty

from pyspark.sql import SparkSession

from .. import dtypes as dt
from ..frame import DataFrame


def _check_device(device: str) -> None:
    """Reference-shaped ``device=`` validation (icolumn.py:34-92,
    idataframe.py:44-49, dispatcher.py): '' (default runtime) and 'cpu'
    both select this engine's single runtime — the Spark cluster plays
    the role the Velox CPU runtime plays in the reference. Any other
    device raises, as the reference does for unregistered keys."""
    if device not in ("", "cpu"):
        raise ValueError(
            f"unsupported device {device!r} (valid: '' or 'cpu'; this "
            "engine has a single Spark runtime)"
        )


def _spark(spark: SparkSession | None) -> SparkSession:
    if spark is not None:
        return spark
    from ..session import get_session

    s = SparkSession.getActiveSession()
    return s if s is not None else get_session()


# session confs that change the schema a Parquet scan resolves
_SCAN_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)


def _scan(s: SparkSession, key, path: str, read):
    """``read()``'s lazy scan. For a local file or directory it is resolved
    once per session object, ``_SCAN_CONFS`` values and file identity (see
    ``torcharrow_spark.memo``). Any other path (a remote URI, a glob) is
    read afresh, since its file listing can change with nothing the driver
    can stat."""
    from ..memo import can_stat, memo

    if not can_stat(path):
        return read()
    confs = tuple(s.conf.get(k) for k in _SCAN_CONFS)
    return memo((key, path, s, confs), read, session=s, paths=(path,))


def read_parquet(path: str, spark: SparkSession | None = None, columns: _ty.List[str] | None = None) -> DataFrame:
    """Lazy Parquet scan. For a local file or directory the scan handle
    (and the schema inference job behind it) is reused while the files
    are unchanged; an overwritten one is read again (see ``_scan``)."""
    s = _spark(spark)
    sdf = _scan(s, "scan", path, lambda: s.read.parquet(path))
    if columns:
        sdf = sdf.select(*columns)  # column pruning reaches the scan
    return DataFrame(sdf)


def read_parquet_ns(path: str, spark: SparkSession | None = None,
                    ts_cols: _ty.List[str] | None = None) -> DataFrame:
    """Parquet with nanosecond timestamps (Spark's reader rejects
    TIMESTAMP(NANOS) by default): read nanos as long, convert to
    microsecond TIMESTAMP_NTZ — truncation matches what external engines
    (DuckDB, pandas) do when downcasting ns->us. Memoised like
    ``read_parquet``, under its own key."""
    s = _spark(spark)
    cols = tuple(ts_cols or ["ts"])

    def read():
        prev = s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            sdf = s.read.parquet(path)
            # schema is resolved eagerly at read time, so the conf can be restored
            sdf.schema
        finally:
            s.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        fields = {f.name: f.dataType for f in sdf.schema.fields}
        for c in cols:
            # Only long columns need the nanos->micros conversion; files written
            # with plain us/ms timestamps already arrive as TIMESTAMP(_NTZ).
            if isinstance(fields.get(c), T.LongType):
                sdf = sdf.withColumn(
                    c, F.expr(f"cast(timestamp_micros(`{c}` div 1000) as timestamp_ntz)")
                )
        return sdf

    return DataFrame(_scan(s, ("scan_ns", cols), path, read))


def read_csv(path: str, spark: SparkSession | None = None, schema=None, header: bool = True) -> DataFrame:
    reader = _spark(spark).read
    if schema is not None:
        reader = reader.schema(dt.to_spark(schema) if isinstance(schema, dt.Struct) else schema)
        return DataFrame(reader.csv(path, header=header))
    return DataFrame(reader.csv(path, header=header, inferSchema=True))


def read_json(path: str, spark: SparkSession | None = None, schema=None) -> DataFrame:
    reader = _spark(spark).read
    if schema is not None:
        reader = reader.schema(dt.to_spark(schema) if isinstance(schema, dt.Struct) else schema)
    return DataFrame(reader.json(path))


def read_orc(path: str, spark: SparkSession | None = None) -> DataFrame:
    return DataFrame(_spark(spark).read.orc(path))


def read_text(
    path: str,
    spark: SparkSession | None = None,
    whole_file: bool = False,
    line_col: str = "text",
) -> DataFrame:
    """Raw text ingestion — the most common LLM-corpus landing format.

    ``whole_file=False`` (default): one row per LINE, column
    ``line_col`` — splitting happens in the distributed reader, so a
    100 TB dump of text shards parallelizes by file split like any
    other scan. ``whole_file=True``: one row per FILE with columns
    (``path``, ``text``) — for document-per-file corpora; each file
    must fit an executor's row budget (Spark's wholetext contract)."""
    if whole_file:
        from pyspark.sql import functions as F

        sdf = _spark(spark).read.text(path, wholetext=True)
        sdf = sdf.select(
            F.input_file_name().alias("path"), F.col("value").alias("text")
        )
        return DataFrame(sdf)
    sdf = _spark(spark).read.text(path)
    return DataFrame(sdf.withColumnRenamed("value", line_col))


def write_text(df: DataFrame, path: str, text_col: str = "text",
               mode: str = "overwrite") -> None:
    """Text sink: one line per row from ``text_col`` (distributed, one
    file per partition)."""
    sdf = df.to_spark() if hasattr(df, "to_spark") else df
    from pyspark.sql import functions as F

    sdf.select(F.col(text_col).cast("string").alias("value")).write.mode(
        mode
    ).text(path)


def from_pandas(pdf, device: str = "", spark: SparkSession | None = None) -> DataFrame:
    """reference interop.py:37-41 declares this NotImplemented; trivial on
    Spark (Arrow-accelerated)."""
    _check_device(device)
    return DataFrame(_spark(spark).createDataFrame(pdf))


def from_arrow(table, device: str = "", spark: SparkSession | None = None) -> DataFrame:
    """Arrow Table -> DataFrame (reference interop.py:17-34). Spark's
    createDataFrame accepts pa.Table natively in 4.x (Arrow exchange)."""
    _check_device(device)
    return DataFrame(_spark(spark).createDataFrame(table))


def from_pylist(data: _ty.List[dict], dtype: dt.Struct | None = None,
                device: str = "",
                spark: SparkSession | None = None) -> DataFrame:
    from ..frame import INDEX_COL

    _check_device(device)
    s = _spark(spark)
    if not (data and isinstance(data[0], dict)):
        schema = dt.spark_schema(dtype) if dtype is not None else None
        return DataFrame(s.createDataFrame(data, schema=schema))
    # carry a hidden construction-order index so positional APIs
    # (df[i], slices, literal masks) have reference semantics; it is
    # dropped by to_spark()/select and hidden from .columns
    if dtype is not None:
        base = dt.spark_schema(dtype)  # no inference pass needed
    else:
        base = s.createDataFrame(data).schema
    indexed = [dict(r, **{INDEX_COL: i}) for i, r in enumerate(data)]
    return DataFrame(s.createDataFrame(indexed, schema=base.add(INDEX_COL, "long", False)))


def dataframe(data, dtype: dt.Struct | None = None, columns: _ty.List[str] | None = None,
              device: str = "",
              spark: SparkSession | None = None) -> DataFrame:
    """Build from dict-of-lists / list-of-tuples (reference
    idataframe.py:44-154), with prefix-based inference when no dtype;
    ``device`` as in the reference factory (idataframe.py:44-49)."""
    _check_device(device)
    s = _spark(spark)
    if isinstance(data, dict):
        names = list(data.keys())
        rows = list(zip(*[data[n] for n in names]))
    else:
        rows = [tuple(r) for r in data]
        names = columns or [f"f{i}" for i in range(len(rows[0]) if rows else 0)]
    if dtype is None:
        fields = []
        for i, n in enumerate(names):
            vals = [r[i] for r in rows]
            fields.append(dt.Field(n, dt.infer_dtype_from_prefix(vals)))
        dtype = dt.Struct(tuple(fields))
    from ..frame import INDEX_COL

    # hidden construction-order index: gives df[i]/slice/mask reference
    # semantics on locally-built frames (dropped by to_spark())
    schema = dt.spark_schema(dtype).add(INDEX_COL, "long", False)
    rows = [tuple(r) + (i,) for i, r in enumerate(rows)]
    return DataFrame(s.createDataFrame(rows, schema=schema))


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: _ty.List[str] | None = None,
                  num_files: int | None = None) -> None:
    """Parquet sink.  ``num_files`` compacts the output — the
    small-files fix for downstream scans: a 100 TB table written from
    tens of thousands of tasks otherwise lands as tens of thousands of
    tiny files whose open/footer costs dominate re-reads.  Compaction
    uses repartition (a shuffle) — size num_files so each file lands
    near the 128 MB-1 GB sweet spot.

    Without ``partition_by``: exactly ``num_files`` output files.
    With ``partition_by``: UP TO ``num_files`` files per partition
    directory — rows are shuffled on (partition columns + a bounded
    row-hash salt in [0, num_files)), so every (directory, salt) combo
    lands in one task and a hot partition value still fans out across
    ``num_files`` writers instead of serializing into a single skewed
    task (repartitioning on the partition columns alone would collide
    all of a directory's rows into one task -> one file per directory
    and num_files-task skew)."""
    from pyspark.sql import functions as F

    sdf = df.to_spark()
    if num_files is not None:
        if num_files < 1:
            raise ValueError("num_files must be >= 1")
        if partition_by:
            rest = [c for c in sdf.columns if c not in set(partition_by)]
            if num_files > 1 and rest:
                salt = F.pmod(F.xxhash64(*[F.col(c) for c in rest]),
                              F.lit(num_files))
                sdf = (
                    sdf.withColumn("__salt__", salt)
                    .repartition(*partition_by, "__salt__")
                    .drop("__salt__")
                )
            else:
                sdf = sdf.repartition(*partition_by)
        else:
            sdf = sdf.repartition(num_files)
    w = sdf.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df,
    table_name: str,
    bucket_cols: _ty.List[str],
    n_buckets: int = 32,
    sort_cols: _ty.Optional[_ty.List[str]] = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a BUCKETED table: rows are hash-partitioned into
    `n_buckets` files per partition on `bucket_cols` at write time, so a
    join or aggregation on those columns later reads co-located data and
    plans with NO Exchange — the write-once/join-many pattern for big
    fact tables at 100 TB (bucket both sides with the same count).
    `sort_cols` additionally sorts within buckets (sort-merge joins skip
    their sort too)."""
    sdf = df.to_spark() if hasattr(df, "to_spark") else df
    w = sdf.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table_name)


def read_table(table_name: str, spark: SparkSession | None = None) -> DataFrame:
    """Read a saved (possibly bucketed) table back as an engine frame."""
    return DataFrame(_spark(spark).table(table_name))


def write_csv(df: DataFrame, path: str, mode: str = "overwrite",
              header: bool = True) -> None:
    """CSV sink (distributed, one file per partition — the standard
    Spark layout; coalesce upstream if a single file is required)."""
    df.to_spark().write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (distributed, one file per partition)."""
    df.to_spark().write.mode(mode).json(path)


# ---------------------------------------------------------------------------
# Incremental compaction (r5): size-tiered small-file rewrite


def _rm_with_crc(path: str) -> None:
    import os

    if os.path.exists(path):
        os.remove(path)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):  # orphan Hadoop LocalFS checksum
        os.remove(crc)


def _compact_recover(d: str) -> None:
    """Finish or roll back an interrupted compaction in directory `d`.
    A leftover manifest means a crash mid-swap: if every output file
    exists, the write phase completed — roll FORWARD (delete remaining
    sources); otherwise sources are all intact — roll BACK (delete any
    moved outputs). A torn manifest (crash during its own write — the
    writer uses tmp+rename so this needs a pre-rename crash) or a tmp
    dir with NO manifest means the swap never started: sources are
    untouched, so the scratch is simply dropped. Either way the
    directory returns to a consistent exactly-once state before the
    new run selects files. Single-writer assumption: two concurrent
    compactors of the same directory are not supported (one would
    reap the other's scratch)."""
    import json as _json
    import os
    import shutil

    manifested_tmps = set()
    for name in sorted(os.listdir(d)):
        if not name.startswith(".compact_manifest_"):
            continue
        mpath = os.path.join(d, name)
        try:
            with open(mpath, encoding="utf-8") as fh:
                man = _json.load(fh)
        except ValueError:
            # torn manifest: no rename happened, sources are intact
            os.remove(mpath)
            continue
        outputs = [os.path.join(d, o) for o in man["outputs"]]
        sources = [os.path.join(d, s) for s in man["sources"]]
        if all(os.path.exists(o) for o in outputs):
            for s in sources:
                _rm_with_crc(s)
        else:
            for o in outputs:
                _rm_with_crc(o)
        manifested_tmps.add(man["tmp"])
        tmp = os.path.join(d, man["tmp"])
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        os.remove(mpath)
    # orphan scratch from a crash before the manifest commit: data is
    # still in the sources, so the copy is safe to drop
    for name in os.listdir(d):
        if name.startswith(".compact_tmp_") and name not in manifested_tmps:
            shutil.rmtree(os.path.join(d, name), ignore_errors=True)


def compact_parquet(
    path: str,
    target_file_bytes: int = 128 << 20,
    small_file_bytes: int | None = None,
    spark: SparkSession | None = None,
) -> dict:
    """Size-tiered incremental parquet compaction — the missing half of
    the sink story at ingest scale: streaming/batch writers land many
    small files (`stream_to_parquet` creates one directory per
    micro-batch; a 1000-task write creates 1000 files), and re-read
    cost is then dominated by per-file open/footer work. This walks
    the table directory tree (partition directories included — files
    are rewritten IN PLACE inside their directory, so partition values
    stay encoded in the path), and in each directory rewrites runs of
    files smaller than ``small_file_bytes`` (default target/2) into
    ~``target_file_bytes`` files. Files already at size are never
    touched — repeated invocations are INCREMENTAL: each run compacts
    only what arrived since the last one, and a run over a compacted
    table is a no-op (tested).

    Exactly-once under crash/re-run, without a table format: per
    directory, (1) compacted bins are written to a hidden tmp dir, (2)
    a manifest listing sources + outputs is committed, (3) outputs are
    renamed into place, (4) sources are deleted, (5) the manifest is
    removed. A crash leaves the manifest, and the next invocation
    rolls forward (all outputs present) or back (otherwise) via
    `_compact_recover` — readers see either the old files or the new,
    never a partial mix, provided reads don't race the swap window
    (concurrent snapshot-isolated readers need a transactional table
    format — Delta/Iceberg — which this deliberately does not
    reimplement).

    The rewrite jobs are one `spark.read.parquet(bin).coalesce(1)`
    write per output file — row-group-preserving rewrites read only
    the small files, so compaction cost scales with the small-file
    backlog, not the table. Returns a report dict."""
    import hashlib
    import json as _json
    import os
    import shutil
    import uuid

    if "://" in path:
        # os.walk over an s3a://.. URI silently yields nothing — an
        # all-zero report would read as "already compact"; fail fast.
        # Generic IN-PLACE compaction cannot be made crash-safe on a
        # rename-less store because arbitrary readers point at the
        # directory itself; datasets whose readers this engine OWNS
        # (the incremental dedup index) use the rename-free manifest
        # protocol instead (operators.indexstore / compact_index,
        # object-store-ready since r9).
        raise ValueError(
            "compact_parquet walks the LOCAL filesystem; for object "
            "stores run it on a mounted path, use a transactional "
            "table format, or — for engine-owned dedup indexes — "
            f"operators.compact_index (manifest protocol) (got {path!r})"
        )
    s = _spark(spark)
    small = small_file_bytes if small_file_bytes is not None else target_file_bytes // 2
    report = {"dirs_compacted": 0, "files_before": 0, "files_after": 0,
              "bytes_compacted": 0, "outputs": 0}

    dirs = []
    for root, _subdirs, files in os.walk(path):
        if ".compact_tmp_" in root:  # stale crash leftovers, not data
            continue
        if any(f.endswith(".parquet") for f in files):
            dirs.append(root)

    for d in sorted(dirs):
        _compact_recover(d)
        entries = sorted(
            (f, os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(".")
        )
        report["files_before"] += len(entries)
        smalls = [(f, sz) for f, sz in entries if sz < small]
        if len(smalls) < 2:
            report["files_after"] += len(entries)
            continue
        # greedy size-tiered bins: deterministic (name order), each bin
        # targets ~target_file_bytes of input
        bins: list[list[str]] = []
        cur: list[str] = []
        acc = 0
        for f, sz in smalls:
            cur.append(f)
            acc += sz
            if acc >= target_file_bytes:
                bins.append(cur)
                cur, acc = [], 0
        if len(cur) >= 2:
            bins.append(cur)
        bins = [b for b in bins if len(b) >= 2]
        if not bins:
            report["files_after"] += len(entries)
            continue
        token = hashlib.md5(
            "|".join(f for b in bins for f in b).encode()
        ).hexdigest()[:12] + "-" + uuid.uuid4().hex[:8]
        tmpname = f".compact_tmp_{token}"
        tmp = os.path.join(d, tmpname)
        outputs = []
        for i, b in enumerate(bins):
            dest = os.path.join(tmp, f"bin{i}")
            # mergeSchema: small files in one directory may have
            # drifted schemas (a writer evolved mid-stream); without it
            # the bin rewrite silently DROPS columns absent from the
            # first file read (r5 advisor). Columns missing from a
            # given source file come back NULL — a widening, lossless
            # rewrite.
            s.read.option("mergeSchema", "true") \
                .parquet(*[os.path.join(d, f) for f in b]).coalesce(1) \
                .write.mode("overwrite").parquet(dest)
            part = next(
                f for f in os.listdir(dest)
                if f.endswith(".parquet") and not f.startswith(".")
            )
            outputs.append((os.path.join(dest, part), f"compact-{token}-{i}.parquet"))
        sources = [f for b in bins for f in b]
        manifest = os.path.join(d, f".compact_manifest_{token}")
        # atomic manifest commit: write-to-tmp + rename, so a crash
        # during the dump can never leave a torn manifest that bricks
        # every future recovery of this directory
        with open(manifest + ".tmp", "w", encoding="utf-8") as fh:
            _json.dump(
                {"sources": sources, "outputs": [o[1] for o in outputs],
                 "tmp": tmpname}, fh,
            )
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(manifest + ".tmp", manifest)
        for src, name in outputs:
            os.replace(src, os.path.join(d, name))
        for f in sources:
            _rm_with_crc(os.path.join(d, f))
        os.remove(manifest)
        shutil.rmtree(tmp, ignore_errors=True)
        sizes = dict(smalls)
        report["dirs_compacted"] += 1
        report["outputs"] += len(outputs)
        # only the files actually rewritten (a 1-file greedy tail stays
        # in place and must not inflate the throughput report)
        report["bytes_compacted"] += sum(sizes[f] for f in sources)
        report["files_after"] += len(entries) - len(sources) + len(outputs)
    return report


def write_webdataset(
    df,
    path: str,
    key_col: str,
    column_extensions: _ty.Dict[str, str],
    samples_per_shard: int = 10_000,
    spark: SparkSession | None = None,
    exact: bool = False,
):
    """WebDataset-style tar-shard sink — the sample-sharded layout
    multimodal training loaders stream (one tar member per sample
    component: ``{key}.txt``, ``{key}.json``, ``{key}.jpg``, ...;
    samples contiguous within a shard, shards consumed independently).

    ``column_extensions`` maps DataFrame columns to member extensions;
    string columns are written UTF-8, binary columns raw bytes, and
    anything else as its JSON rendering. Each TASK writes its own
    shards (``shard-{partition:05d}-{seq:05d}.tar``), rolling to a new
    tar every ``samples_per_shard`` samples. Rows whose mapped columns
    are ALL NULL are skipped (and not counted) — they would be
    invisible to any reader.

    Shard names are unique per PARTITION, not per attempt: there is no
    output committer, so run with speculative execution off (Spark's
    default) and do not re-run a failed job into the same directory —
    write to a fresh directory and rename it into place (the same
    single-writer contract as `compact_parquet`). Two attempts of one
    task racing on shared storage would interleave writes into the
    same tar. This is the standard WebDataset export shape: shard count
    scales with partitions, no driver bottleneck, and the return value
    is a (shard, n_samples, n_bytes) manifest DataFrame (small — one
    row per shard) the caller can persist next to the data.

    ``exact=True`` (r6, r5 verdict ask #8) makes shard sizes UNIFORM
    regardless of upstream partitioning: every shard holds exactly
    ``samples_per_shard`` samples (one global tail shard excepted),
    named ``shard-{id:06d}.tar`` in key order. Default (False) rolls
    shards per task, so shard count/size follows the upstream layout —
    fine for ad-hoc exports, lumpy at 100 TB where a skewed upstream
    leaves 10-row tail shards per task. Mechanics: rows with at least
    one non-NULL member are range-partitioned and sorted by key
    (persisted so both passes see one layout), per-partition counts
    (P integers) become global offsets, shard_id = global_index DIV
    samples_per_shard, and a hash repartition on shard_id lands every
    shard wholly inside one task — two extra shuffles of the keyed
    rows, zero driver bottleneck (the classic distributed-ranking
    two-phase, never a single-partition window).

    Local-filesystem paths only (same contract as `compact_parquet`);
    a mounted object store works, a raw ``s3a://`` URI does not."""
    import io
    import json as _json
    import os
    import tarfile

    if "://" in path:
        raise ValueError(
            f"write_webdataset writes through the LOCAL filesystem (got {path!r})"
        )
    sdf = df.to_spark() if hasattr(df, "to_spark") else df
    cols = [key_col] + list(column_extensions)
    sdf = sdf.select(*cols)
    os.makedirs(path, exist_ok=True)
    exts = dict(column_extensions)

    def _payloads(row):
        for col, ext in exts.items():
            v = row[col]
            if v is None:
                continue
            if isinstance(v, str):
                payload = v.encode("utf-8")
            elif isinstance(v, (bytes, bytearray)):
                payload = bytes(v)
            else:
                payload = _json.dumps(v, sort_keys=True).encode("utf-8")
            yield ext, payload

    if exact:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        present = [F.col(c).isNotNull() for c in exts]
        has_member = present[0] if len(present) == 1 else F.greatest(*present)
        keyed = (
            sdf.where(has_member)
            .repartitionByRange(F.col(key_col))
            .sortWithinPartitions(key_col)
            .withColumn("__pid__", F.spark_partition_id())
            .persist()
        )
        s = _spark(spark)
        try:
            counts = {
                r["__pid__"]: r["n"]
                for r in keyed.groupBy("__pid__")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            total = sum(counts.values())
            if total == 0:
                return s.createDataFrame(
                    [], "shard string, n_samples long, n_bytes long"
                )
            offs, acc = {}, 0
            for p in sorted(counts):
                offs[p] = acc
                acc += counts[p]
            off_map = F.create_map(
                *[x for p in sorted(counts) for x in (F.lit(p), F.lit(offs[p]))]
            )
            w = Window.partitionBy("__pid__").orderBy(key_col)
            gidx = (
                F.row_number().over(w) - 1
                + F.element_at(off_map, F.col("__pid__"))
            )
            tagged = keyed.select(*cols, gidx.alias("__gidx__")).withColumn(
                "__shard__",
                (F.col("__gidx__") / F.lit(samples_per_shard)).cast("long"),
            )
            n_shards = -(-total // samples_per_shard)
            spread = tagged.repartition(n_shards, "__shard__") \
                .sortWithinPartitions("__shard__", "__gidx__")

            def _write_exact(rows):
                out = []
                tar = None
                tar_path = None
                cur_shard = None
                n_in_shard = 0

                def _close():
                    nonlocal tar, n_in_shard
                    if tar is not None:
                        tar.close()
                        out.append(
                            (os.path.basename(tar_path), n_in_shard,
                             os.path.getsize(tar_path))
                        )
                        tar = None
                        n_in_shard = 0

                for row in rows:
                    sid = row["__shard__"]
                    if sid != cur_shard:
                        _close()
                        cur_shard = sid
                        tar_path = os.path.join(path, f"shard-{sid:06d}.tar")
                        tar = tarfile.open(tar_path, "w")
                    key = str(row[key_col])
                    for ext, payload in _payloads(row):
                        info = tarfile.TarInfo(name=f"{key}.{ext}")
                        info.size = len(payload)
                        info.mtime = 0
                        tar.addfile(info, io.BytesIO(payload))
                    n_in_shard += 1
                _close()
                return iter(out)

            manifest_rows = spread.rdd.mapPartitions(_write_exact).collect()
        finally:
            keyed.unpersist()
        return s.createDataFrame(
            manifest_rows or [], "shard string, n_samples long, n_bytes long"
        )

    def _write(pidx: int, rows):
        shard_seq = 0
        tar = None
        tar_path = None
        n_in_shard = 0
        out = []

        def _open():
            nonlocal tar, tar_path
            tar_path = os.path.join(
                path, f"shard-{pidx:05d}-{shard_seq:05d}.tar"
            )
            tar = tarfile.open(tar_path, "w")

        def _close():
            nonlocal tar, n_in_shard, shard_seq
            if tar is not None:
                tar.close()
                out.append(
                    (os.path.basename(tar_path), n_in_shard,
                     os.path.getsize(tar_path))
                )
                tar = None
                n_in_shard = 0
                shard_seq += 1

        for row in rows:
            if tar is None:
                _open()
            key = str(row[key_col])
            wrote = 0
            for col, ext in exts.items():
                v = row[col]
                if v is None:
                    continue
                if isinstance(v, str):
                    payload = v.encode("utf-8")
                elif isinstance(v, (bytes, bytearray)):
                    payload = bytes(v)
                else:
                    payload = _json.dumps(v, sort_keys=True).encode("utf-8")
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(payload)
                info.mtime = 0  # deterministic archives
                tar.addfile(info, io.BytesIO(payload))
                wrote += 1
            if wrote == 0:
                # an all-NULL row writes no members: counting it would
                # make the manifest disagree with what a reader sees
                continue
            n_in_shard += 1
            if n_in_shard >= samples_per_shard:
                _close()
        _close()
        return out

    manifest_rows = (
        sdf.rdd.mapPartitionsWithIndex(
            lambda i, it: iter(_write(i, it)), preservesPartitioning=True
        ).collect()
    )
    s = _spark(spark)
    return s.createDataFrame(
        manifest_rows or [], "shard string, n_samples long, n_bytes long"
    )


def read_webdataset(
    path: str,
    column_extensions: _ty.Dict[str, str],
    key_col: str = "key",
    spark: SparkSession | None = None,
) -> DataFrame:
    """Read WebDataset tar shards back into a DataFrame — the inverse
    of :func:`write_webdataset` (and compatible with any
    WebDataset-layout archive: members named ``{key}.{ext}``, one
    sample's members contiguous or not). ``column_extensions`` maps
    output columns to member extensions; every member payload comes
    back as BINARY (decode/parse downstream — text is
    ``decode(col, 'utf-8')``, json is ``from_json``), missing members
    are NULL.

    Scale shape: shards load via Spark's distributed ``binaryFile``
    source (one task per shard — exactly the parallelism the format is
    designed for), each task walks its tar in memory with stdlib
    ``tarfile`` and emits one row per sample key. A shard must fit an
    executor's memory — true by construction for WebDataset shards
    (they are sized for sequential streaming)."""
    s = _spark(spark)
    exts = dict(column_extensions)
    if len(set(exts.values())) != len(exts):
        # the ext->column inversion below would silently pick one
        # winner and leave the losing column always-NULL (r5 advisor)
        raise ValueError(
            "read_webdataset: duplicate extensions in column_extensions "
            f"({sorted(exts.values())}); each column needs a distinct "
            "member extension"
        )
    src = s.read.format("binaryFile").load(path)

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [T.StructField(key_col, T.StringType(), False)]
        + [T.StructField(c, T.BinaryType(), True) for c in exts]
    )

    def _parse(batches):
        import io
        import tarfile as _tarfile

        import pandas as pd

        by_ext = {v: k for k, v in exts.items()}
        for pdf in batches:
            for blob in pdf["content"]:
                samples: dict = {}
                with _tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tf:
                    for m in tf.getmembers():
                        if not m.isfile() or "." not in m.name:
                            continue
                        key, ext = m.name.rsplit(".", 1)
                        col = by_ext.get(ext)
                        if col is None:
                            continue
                        samples.setdefault(key, {})[col] = tf.extractfile(m).read()
                if samples:
                    yield pd.DataFrame(
                        [
                            {key_col: k, **{c: v.get(c) for c in exts}}
                            for k, v in samples.items()
                        ],
                        columns=[key_col, *exts],
                    )

    return DataFrame(src.select("content").mapInPandas(_parse, out_schema))


def read_warc(
    path: str,
    spark: SparkSession | None = None,
    types: _ty.Optional[_ty.Sequence[str]] = ("response",),
) -> DataFrame:
    """Read ``.warc`` / ``.warc.gz`` files from disk — the Common
    Crawl front door as a SOURCE (r11; until now
    WARC ingest took a binary COLUMN). Spark's distributed
    ``binaryFile`` source yields one task per WARC file — exactly the
    unit Common Crawl ships (~1 GB files, tens of thousands per
    crawl) — and each task explodes its file into records through the
    SAME parser as the column path (operators.warc.warc_records:
    per-record gzip members, HTTP split, worker-side type filter).
    Output: ``(file, rec_no, warc_type, target_uri, http_status,
    content_type, payload<binary>)``. Zero shuffle; a finer-grained
    gzip-member splitter can slot under this API without changing
    callers."""
    from pyspark.sql import functions as F

    from ..operators.warc import warc_records

    s = _spark(spark)
    src = (
        s.read.format("binaryFile")
        .load(path)
        .select(F.col("path").alias("file"), "content")
    )
    return DataFrame(
        warc_records(src, "content", id_col="file", types=types)
    )


def write_warc(
    df,
    path: str,
    bytes_col: str = "warc",
    order_col: _ty.Optional[str] = None,
    files: int = 32,
) -> int:
    """Materialize a binary column of per-record-gzipped WARC streams
    as ``part-NNNNN.warc.gz`` files under ``path`` — the write half of
    :func:`read_warc`. Gzip members are self-delimiting, so
    concatenating rows' streams per file IS the Common Crawl layout
    (readers resync on member boundaries). ``order_col`` makes the
    file assignment deterministic (range partition + in-file sort);
    otherwise rows round-robin. Returns the number of rows written.

    Scale note: each task streams its partition straight to ONE file
    with no driver involvement; the file sink assumes a shared
    filesystem (true in local mode and on NFS-backed clusters) — an
    object-store deployment swaps the open/replace pair for the
    Hadoop FileSystem API, the partitioning logic is unchanged.
    Task-retry safe: every attempt writes an attempt-unique temp file
    and atomically ``os.replace``s it over its staged name only when
    complete, so a speculative duplicate or post-failure retry can
    never interleave bytes into a published part (r11 review).

    Directory-rewrite crash safety (r12): the new
    generation lands in a hidden ``.gen-*`` staging subdir while the
    Spark job runs — the previous generation's ``part-*.warc.gz``
    stay untouched and fully readable until the ENTIRE job has
    succeeded. Only then does the driver swap: each staged part is
    ``os.replace``d over its final name (atomically superseding the
    old part of the same number), and old parts with numbers the new
    generation did not produce are removed last, so a re-write with
    fewer partitions still cannot leave a mixed-generation directory
    for :func:`read_warc` to union. A crash mid-job leaves the prior
    data intact (the pre-r12 code deleted it up front); a crash
    mid-swap leaves the complete new generation staged on disk, and
    stale staging dirs from such crashes are garbage by construction
    (never globbed by readers) and are cleaned up on the next write."""
    import glob as _glob
    import os
    import uuid as _uuid

    os.makedirs(path, exist_ok=True)
    for stale_gen in _glob.glob(os.path.join(path, ".gen-*")):
        import shutil as _shutil

        _shutil.rmtree(stale_gen, ignore_errors=True)
    staging = os.path.join(path, f".gen-{_uuid.uuid4().hex[:12]}")
    os.makedirs(staging)
    sdf = df.to_spark() if isinstance(df, DataFrame) else df
    cols = [bytes_col] + ([order_col] if order_col else [])
    sdf = sdf.select(*cols)
    if order_col:
        from pyspark.sql import functions as F

        sdf = sdf.repartitionByRange(
            int(files), F.col(order_col)
        ).sortWithinPartitions(order_col)
    else:
        sdf = sdf.repartition(int(files))

    def _write(pi, it):
        from pyspark import TaskContext

        tc = TaskContext.get()
        attempt = tc.taskAttemptId() if tc is not None else 0
        staged = os.path.join(staging, f"part-{pi:05d}.warc.gz")
        tmp = os.path.join(
            staging, f".part-{pi:05d}.warc.gz.attempt-{attempt}"
        )
        n = 0
        fh = None
        try:
            for row in it:
                b = row[0]
                if b is None:
                    continue
                if fh is None:  # empty partitions write no file
                    fh = open(tmp, "wb")
                fh.write(bytes(b))
                n += 1
        except BaseException:
            if fh is not None:
                fh.close()
                os.remove(tmp)
            raise
        if fh is not None:
            fh.close()
            os.replace(tmp, staged)  # atomic stage, complete files only
        return [(pi, n)]

    try:
        counts = sdf.rdd.mapPartitionsWithIndex(_write).collect()
    except BaseException:
        import shutil as _shutil

        _shutil.rmtree(staging, ignore_errors=True)
        raise
    # job succeeded: publish the staged generation, THEN retire the old
    new_names = set()
    for staged in sorted(_glob.glob(os.path.join(staging, "part-*.warc.gz"))):
        name = os.path.basename(staged)
        os.replace(staged, os.path.join(path, name))
        new_names.add(name)
    for old in _glob.glob(os.path.join(path, "part-*.warc.gz")):
        if os.path.basename(old) not in new_names:
            os.remove(old)
    os.rmdir(staging)
    return sum(n for _, n in counts)
