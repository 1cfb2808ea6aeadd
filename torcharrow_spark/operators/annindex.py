"""Standing quantized ANN index — publish once, append nightly, probe
forever.

This is the composition the tuning registry's N*Q ceiling row points
at, made PERSISTENT: `similarity.ivf_quantized_topk` recomputes the
quantized+cell-assigned codes per call, which is right for a one-shot
query but wrong for the 100-TB pipeline that searches the same corpus
every night — there the index build (the corpus-sized part of the
plan) should run ONCE and each ingest should pay only for its OWN
vectors. The storage layer is the SAME rename-free versioned-manifest
protocol every incremental index in this engine uses
(`operators.indexstore`: one-object commits, crash-safe on object
stores, GC grace) — the MinHash standing-index pattern applied to ANN.

Layout under ``index_root``::

    codes/   indexstore root: (id, qvec, v_min, v_scale, cell,
             q_sum, qsq) — the `similarity.assign_quantized_cells`
             frame; batch appends land as ``codes/delta/batch_id=N``
             partitions exactly like the streaming dedup deltas, and
             `indexstore`/`dedup.compact_index`-style folding applies.
    cents/   indexstore root: (cell, centroid, bits) — the trained
             centroid table IS part of the index (cell ids are
             meaningless without it); appends read the STORED
             centroids, so base and delta can never be assigned
             against different cell geometry, and the ``bits`` column
             makes the quantization width self-describing.

Result contract: ``ann_index_topk(queries, corpus, root)`` returns
bit-for-bit what ``ivf_quantized_topk(corpus, queries, centroids)``
returns on the union of every published/appended vector — the index
is an ACCELERATION structure, not a semantic one (q174's oracle is
q171's for exactly this reason). The exact re-rank joins back to the
caller's full-precision ``corpus`` by id: codes are 4x smaller than
float32 precisely because the floats stay in source-of-truth storage,
and the re-rank reads |queries| x candidates of them by key. The probe
is `similarity._int8_probe`, the same stages 2-4 `ivf_quantized_topk`
runs over its in-plan codes, so this module holds storage only: no
window, join or cosine of its own.

Reference parity note: torcharrow has no ANN or index surface; the
bar is this repo's own recall ladder (recall 0.95 at 10% of the
full-scan bytes on the sf1 corpus, kept in CHANGES.md's "pin gate and
nothing else" entry) and the indexstore lifecycle discipline (crash
matrix in tests).
"""

from __future__ import annotations

import logging as _logging

from pyspark.sql import DataFrame as SDF
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import indexstore as ixs
from .similarity import _int8_probe, assign_quantized_cells

_log = _logging.getLogger(__name__)

_CODE_COLS = ["qvec", "v_min", "v_scale", "cell", "q_sum", "qsq"]


def _codes_root(index_root: str) -> str:
    return ixs._join(index_root, "codes")


def _cents_root(index_root: str) -> str:
    return ixs._join(index_root, "cents")


def ann_index_publish(
    corpus: SDF,
    centroids: SDF,
    index_root: str,
    spark: SparkSession | None = None,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    cent_col: str = "centroid",
) -> dict:
    """Initial (or wholesale-replacement) publish: assign + quantize
    the corpus against ``centroids`` (one corpus scan, one
    map-side-combined shuffle — the build you pay ONCE) and commit
    both snapshots under the pointer protocol. Returns the two
    manifests."""
    spark = spark or corpus.sparkSession
    cents_stored = centroids.select(
        F.col(cell_col).cast("int").alias("cell"),
        F.col(cent_col).alias("centroid"),
        F.lit(int(bits)).alias("bits"),
    )
    codes = assign_quantized_cells(
        corpus, centroids, bits, id_col, vec_col, cell_col, cent_col
    )
    m_codes = ixs.publish_index(codes, _codes_root(index_root), spark)
    m_cents = ixs.publish_index(cents_stored, _cents_root(index_root), spark)
    _log.info(
        "ann index published at %s: %d codes, %d cells, %d bits",
        index_root, m_codes["rows"], m_cents["rows"], bits,
    )
    return {"codes": m_codes, "cents": m_cents}


def _stored_cents(spark: SparkSession, index_root: str) -> SDF:
    """The published (cell, centroid, bits) table. Reading ``bits``
    takes a Spark job, so only the append, which needs it, reads it."""
    cents = ixs.read_index(spark, _cents_root(index_root))
    if cents is None:
        raise ValueError(
            f"ann index at {index_root!r} has no published centroids — "
            "run ann_index_publish first"
        )
    return cents


def _next_batch_id(fs, codes_root: str) -> int:
    """Allocate the next delta batch id, never reusing one a
    compaction has already folded: ids come from max(ids present on
    disk, ids recorded as ``merged_batches`` in the committed
    manifest) + 1. The pure on-disk scan this replaced reset to 0
    after a compaction deleted the delta dirs, so
    an append-after-compact landed under an id the NEXT compaction's
    ``merged_already`` guard would exclude from the merge — and its
    cleanup loop deleted the delta anyway, silently losing the
    appended vectors. Streaming dedup never hit this because its ids
    come from a monotonic checkpoint; this batch path needs the
    manifest as its monotonic source."""
    delta_path = ixs._join(codes_root, "delta")
    used = [
        int(n.split("=", 1)[1])
        for n in fs.list(delta_path)
        if n.startswith("batch_id=")
    ]
    committed = ixs.committed_manifest(codes_root, fs=fs)
    if committed is not None:
        used.extend(int(b) for b in committed.get("merged_batches", []))
    return (max(used) + 1) if used else 0


def ann_index_append(
    new_vectors: SDF,
    index_root: str,
    spark: SparkSession | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental append — the nightly-ingest path: assign + quantize
    ONLY the new vectors against the STORED centroids (base and delta
    can never disagree on cell geometry or code width, because both
    read the same published table) and land them as a
    ``codes/delta/batch_id=N`` partition, the exact delta layout the
    dedup index family uses. Cost is proportional to the new vectors,
    never the standing corpus. Probers union deltas in; fold them into
    a new base snapshot with the indexstore compaction machinery when
    delta count warrants."""
    spark = spark or new_vectors.sparkSession
    stored = _stored_cents(spark, index_root)
    bits = int(stored.select("bits").head()["bits"])
    codes = assign_quantized_cells(
        new_vectors, stored.select("cell", "centroid"), bits, id_col, vec_col
    )
    fs = ixs.fs_for(index_root, spark)
    codes_root = _codes_root(index_root)
    batch_id = _next_batch_id(fs, codes_root)
    out = ixs._join(codes_root, "delta", f"batch_id={batch_id}")
    codes.write.mode("error").parquet(out)
    rows = spark.read.parquet(out).count()
    _log.info(
        "ann index %s delta batch %d appended (%d rows)",
        index_root, batch_id, rows,
    )
    return {"batch_id": batch_id, "rows": rows, "path": out}


def read_ann_index(spark: SparkSession, index_root: str) -> SDF:
    """The standing code table a probe scans: manifest-resolved base
    snapshot UNION the live delta batches NOT already folded into that
    base. The manifest's ``merged_batches`` filter mirrors
    ``compact_index``'s own re-merge guard: after a
    crash between a compaction's manifest commit and its delta
    cleanup, a folded delta is still on disk — unioning it would
    surface those rows twice (new base + delta), duplicating
    ``match_id`` rows in the top-k and breaking the bit-for-bit
    equivalence with ``ivf_quantized_topk``. (A duplicate row is
    harmless for the hash-SET dedup indexes, which is why only this
    reader needs the filter on the union path.)"""
    codes_root = _codes_root(index_root)
    base = ixs.read_index(spark, codes_root)
    if base is None:
        raise ValueError(
            f"ann index at {index_root!r} has no published codes — "
            "run ann_index_publish first"
        )
    id_col = [c for c in base.columns if c not in _CODE_COLS]
    cols = id_col + _CODE_COLS
    out = base.select(*cols)
    fs = ixs.fs_for(index_root, spark)
    committed = ixs.committed_manifest(codes_root, fs=fs)
    merged = (
        {int(b) for b in committed.get("merged_batches", [])}
        if committed
        else set()
    )
    delta_path = ixs._join(codes_root, "delta")
    if fs.exists(delta_path):
        for n in sorted(fs.list(delta_path)):
            if (
                n.startswith("batch_id=")
                and int(n.split("=", 1)[1]) not in merged
            ):
                out = out.unionByName(
                    spark.read.parquet(
                        ixs._join(delta_path, n)
                    ).select(*cols)
                )
    return out


def ann_index_compact(
    index_root: str,
    spark: SparkSession | None = None,
    retired: SDF | None = None,
    id_col: str = "vec_id",
) -> dict:
    """Fold the codes root's delta batches into a new immutable base
    snapshot under the manifest protocol — the same
    `dedup.compact_index` machinery the MinHash/exact standing indexes
    use, applied to the quantized-code table. Probe cost is what
    compaction buys back: each live delta adds one parquet scan +
    union branch to every `ann_index_topk` call, so probe time grows
    with the delta count (the tuning registry's compaction row has the
    measured drift), and a fold returns the probe to its
    single-snapshot plan. ``retired=`` drops vectors by
    id in the same pass (takedowns / retention), exactly as the dedup
    indexes do. The centroid root is NOT compacted — it is one tiny
    published snapshot that only changes on a wholesale re-train."""
    from .dedup import compact_index

    if spark is None:
        spark = SparkSession.getActiveSession()
    return compact_index(
        _codes_root(index_root), spark=spark, retired=retired,
        id_col=id_col,
    )


def ann_index_topk(
    queries: SDF,
    corpus: SDF,
    index_root: str,
    k: int = 5,
    n_probe: int = 2,
    candidates: int = 50,
    spark: SparkSession | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> SDF:
    """Probe the standing index: the tiny query side picks its
    ``n_probe`` best STORED cells, the int8 coarse scan reads ONLY the
    probed cells' persisted codes (base + deltas — no corpus-side
    compute at all), and the exact re-rank joins the surviving
    |queries| x candidates ids back to the caller's full-precision
    ``corpus``. Output contract: identical to
    ``ivf_quantized_topk(all_indexed_vectors, queries, centroids)`` —
    bit-for-bit, which q174's oracle (q171's SQL on the same corpus)
    pins end to end THROUGH the publish/append/probe lifecycle."""
    spark = spark or queries.sparkSession
    cents = _stored_cents(spark, index_root).select("cell", "centroid")
    codes = read_ann_index(spark, index_root)
    src_id = [c for c in codes.columns if c not in _CODE_COLS][0]
    return _int8_probe(
        codes.withColumnRenamed(src_id, "match_id"),
        cents, queries, corpus, k, n_probe, candidates, id_col, vec_col,
    )


__all__ = [
    "ann_index_publish",
    "ann_index_append",
    "ann_index_compact",
    "ann_index_topk",
    "read_ann_index",
]
