"""PyTorch interop bridge (reference §2.12: torcharrow/_pytorch/common.py,
icolumn.py:1128-1168, dataframe_cpu.py:1978-2009).

The reference's zero-copy path is Velox vector -> Arrow -> torch. Ours is
Spark -> Arrow (`df.toArrow()`, the driver-side collection) -> numpy ->
torch. torch is not bundled in this container, so every converter
produces numpy arrays and a thin `_to_torch` hop upgrades them to tensors
when torch is importable — the container structures (WithPresence,
PackedList, PackedMap) are identical either way.

Distributed note: `to_tensor` is a DRIVER-side sink for model hand-off
(bounded by what fits on the driver, like the reference's single-node
semantics). For training-scale export, `batched_tensors` streams the
Arrow record batches Spark's JVM already encodes for each partition
(`Dataset.toArrowBatchRdd`), served to the driver with partition
prefetch (`PythonRDD.toLocalIteratorAndServe`) — no Python worker
touches the export, and peak driver memory is ~two partitions' payloads
(current + prefetched) plus ~2x batch_size rows, never the dataset.
"""

from __future__ import annotations

import dataclasses as _dc
import typing as _ty

import numpy as np
import pyarrow as pa

try:  # torch is optional in this environment
    import torch  # type: ignore

    _HAS_TORCH = True
except Exception:  # pragma: no cover
    torch = None  # type: ignore
    _HAS_TORCH = False


def _maybe_tensor(arr: np.ndarray):
    if _HAS_TORCH:
        return torch.from_numpy(np.ascontiguousarray(arr))
    return arr


@_dc.dataclass
class WithPresence:
    """Nullable column: values + validity mask (reference common.py:24-28)."""

    values: _ty.Any
    presence: _ty.Any


@_dc.dataclass
class PackedList:
    """Jagged list column: offsets + flat values (reference common.py:31-37)."""

    offsets: _ty.Any
    values: _ty.Any


@_dc.dataclass
class PackedMap:
    """Map column: offsets + keys + values (reference common.py:39-44)."""

    offsets: _ty.Any
    keys: _ty.Any
    values: _ty.Any


def _convert_array(arr: pa.ChunkedArray | pa.Array):
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        flat = _convert_array(arr.values)
        offsets = _maybe_tensor(np.asarray(arr.offsets, dtype=np.int64))
        packed = PackedList(offsets=offsets, values=flat)
        if arr.null_count:
            return WithPresence(values=packed, presence=_presence(arr))
        return packed
    if pa.types.is_map(t):
        keys = _convert_array(arr.keys)
        values = _convert_array(arr.items)
        offsets = _maybe_tensor(np.asarray(arr.offsets, dtype=np.int64))
        packed = PackedMap(offsets=offsets, keys=keys, values=values)
        if arr.null_count:
            return WithPresence(values=packed, presence=_presence(arr))
        return packed
    if pa.types.is_struct(t):
        fields = {f.name: _convert_array(arr.field(i)) for i, f in enumerate(t)}
        if arr.null_count:
            return WithPresence(values=fields, presence=_presence(arr))
        return fields
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        vals = arr.to_pylist()
        if arr.null_count:
            return WithPresence(
                values=[v if v is not None else "" for v in vals],
                presence=_presence(arr),
            )
        return vals
    # numeric / boolean
    if arr.null_count:
        np_vals = arr.fill_null(0).to_numpy(zero_copy_only=False)
        return WithPresence(values=_maybe_tensor(np_vals), presence=_presence(arr))
    return _maybe_tensor(arr.to_numpy(zero_copy_only=False))


def _presence(arr: pa.Array):
    return _maybe_tensor(np.asarray(arr.is_valid(), dtype=bool))


class PadSequence:
    """Per-column conversion: jagged list -> padded 2-D tensor (reference
    common.py:273-286 / list_column_cpu.py:198-238)."""

    def __init__(self, batch_first: bool = True, padding_value: float = 0.0):
        self.batch_first = batch_first
        self.padding_value = padding_value

    def __call__(self, arr):
        packed = _convert_array(arr)
        if isinstance(packed, WithPresence):
            packed = packed.values
        offsets = np.asarray(packed.offsets)
        values = np.asarray(packed.values)
        n = len(offsets) - 1
        width = int((offsets[1:] - offsets[:-1]).max()) if n else 0
        out = np.full((n, width), self.padding_value, dtype=values.dtype if values.size else np.float32)
        for i in range(n):
            seg = values[offsets[i]: offsets[i + 1]]
            out[i, : len(seg)] = seg
        if not self.batch_first:
            out = out.T
        return _maybe_tensor(out)


class Dense:
    """rec.Dense: struct-of-numeric -> one 2-D float tensor (reference
    _pytorch/rec.py:20-63)."""

    def __init__(self, batch_first: bool = True, dtype=np.float32):
        self.batch_first = batch_first
        self.dtype = dtype

    def __call__(self, arr):
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
            # uniform-length list column -> reshape flat values (the
            # array_constructor-packed form of the same dense features)
            offsets = np.asarray(arr.offsets)
            lens = np.diff(offsets)
            if len(lens) == 0:
                return _maybe_tensor(np.empty((0, 0), dtype=self.dtype))
            width = int(lens[0])
            if not (lens == width).all():
                raise ValueError("Dense requires equal-length lists; use PackedList")
            values = arr.values.to_numpy(zero_copy_only=False).astype(self.dtype)
            mat = values.reshape(-1, width)
            if not self.batch_first:
                mat = mat.T
            return _maybe_tensor(mat)
        assert pa.types.is_struct(arr.type)
        cols = [
            arr.field(i).to_numpy(zero_copy_only=False).astype(self.dtype)
            for i in range(arr.type.num_fields)
        ]
        mat = np.stack(cols, axis=1 if self.batch_first else 0)
        return _maybe_tensor(mat)


def to_tensor(df, conversion: _ty.Optional[_ty.Dict[str, _ty.Callable]] = None):
    """DataFrame -> dict of tensors / packed structures, with optional
    per-column converters (reference Column.to_tensor conversion dict,
    icolumn.py:1128-1168)."""
    sdf = df.to_spark() if hasattr(df, "to_spark") else df
    table = sdf.toArrow()
    conversion = conversion or {}
    out = {}
    for name in table.column_names:
        conv = conversion.get(name)
        col = table.column(name)
        out[name] = conv(col.combine_chunks()) if conv else _convert_array(col)
    return out


def from_tensor(data: _ty.Dict[str, _ty.Any], spark=None):
    """tensors/arrays -> DataFrame (reference common.py:107-233)."""
    from .sources import from_arrow

    arrays = {}
    for name, v in data.items():
        if isinstance(v, WithPresence):
            vals = np.asarray(v.values)
            mask = ~np.asarray(v.presence)
            arrays[name] = pa.array(vals, mask=mask)
        elif isinstance(v, PackedList):
            arrays[name] = pa.ListArray.from_arrays(
                pa.array(np.asarray(v.offsets), type=pa.int32()),
                pa.array(np.asarray(v.values)),
            )
        else:
            arrays[name] = pa.array(np.asarray(v))
    return from_arrow(pa.table(arrays), spark=spark)


class _Serve:
    """The ``scala.Function0`` that ``SQLExecution.withNewExecutionId``
    runs through py4j's callback server: encode the frame's partitions as
    Arrow batches and start the JVM thread that serves them. Running
    inside the execution makes every job of the export (AQE's stage jobs
    run right here) report to it, so its plan carries the metrics of its
    Python nodes. A failure is kept so that the caller raises it rather
    than py4j's proxy wrapper around it."""

    def __init__(self, jvm, jdf):
        self._jvm, self._jdf = jvm, jdf
        self.error: _ty.Optional[BaseException] = None

    def apply(self):
        try:
            return self._jvm.org.apache.spark.api.python.PythonRDD.toLocalIteratorAndServe(
                self._jdf.toArrowBatchRdd(), True
            )
        except Exception as e:
            self.error = e
            raise
        finally:
            self._jdf = None

    class Java:
        implements = ["scala.Function0"]


def batched_tensors(df, batch_size: int = 65536):
    """Iterator of per-batch tensor dicts — the distributed-scale export
    path (reference batch/unbatch, icolumn.py:1170-1193).

    Streams without a whole-dataset driver materialization: the JVM
    encodes each partition's rows as Arrow record batches
    (``Dataset.toArrowBatchRdd``), ``PythonRDD.toLocalIteratorAndServe``
    serves them partition by partition, computing partition k+1 while
    the driver converts partition k, and the driver decodes each payload
    against the frame's Arrow schema. No Python worker is involved, and
    the driver holds at most ~two partitions' payloads (current +
    prefetch) plus ~2x batch_size buffered rows, never the full dataset.
    The whole export is one SQL execution named ``batched_tensors``.
    Batches are re-chunked driver-side so every yielded batch has
    exactly `batch_size` rows (except the last); an empty frame yields
    nothing. Row order is the frame's partition order."""
    from py4j.protocol import Py4JError
    from pyspark.java_gateway import ensure_callback_server_started
    from pyspark.serializers import NoOpSerializer
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.util import _local_iterator_from_socket

    sdf = df.to_spark() if hasattr(df, "to_spark") else df
    spark = sdf.sparkSession
    sc = spark.sparkContext
    jvm = sc._jvm
    schema = to_arrow_schema(
        sdf.schema, prefers_large_types=spark._jconf.arrowUseLargeVarTypes()
    )
    ensure_callback_server_started(sc._gateway)
    serve = _Serve(jvm, sdf._jdf)
    sc._jsc.setCallSite("batched_tensors")
    try:
        sock_info = jvm.org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
            sdf._jdf.queryExecution(), jvm.scala.Option.apply("batched_tensors"), serve
        )
    except Py4JError:
        if serve.error is not None:
            raise serve.error from None
        raise
    finally:
        sc._jsc.setCallSite(None)
    buf: _ty.List[pa.Table] = []
    buffered = 0
    for payload in _local_iterator_from_socket(sock_info, NoOpSerializer()):
        buf.append(pa.Table.from_batches([pa.ipc.read_record_batch(payload, schema)]))
        buffered += buf[-1].num_rows
        while buffered >= batch_size:
            # concat + slice are zero-copy (chunked views); only the
            # HEAD is combined into contiguous buffers — combining the
            # whole buffer re-copied the carried-over tail on every
            # yield (O(batches x tail) bytes)
            merged = pa.concat_tables(buf)
            head = merged.slice(0, batch_size).combine_chunks()
            rest = merged.slice(batch_size)
            yield {n: _convert_array(head.column(n)) for n in head.column_names}
            buf, buffered = [rest], rest.num_rows
    if buffered:
        merged = pa.concat_tables(buf).combine_chunks()
        yield {n: _convert_array(merged.column(n)) for n in merged.column_names}
