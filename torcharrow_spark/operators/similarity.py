"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast join of the (small)
query set against the (huge) corpus; per-row dot products run as
zip_with/aggregate expressions, and top-k per query is a bounded window.
Scale path: random-hyperplane LSH bucketing so each query only scans its
bucket — hyperplane weights are md5-derived, so fully deterministic and
oracle-reproducible.

Two measured rules shape this module (sf0.1, local[32]):
  * per-VECTOR quantities (norms, bucket ids) are computed in a
    projection BEFORE any join — computing them per-PAIR multiplies the
    work by the pair blowup;
  * the hyperplane weights are pseudo-random but constant, so they are
    computed driver-side with hashlib (bit-identical to the md5 SQL
    formula) and shipped as array literals — an md5 call per row x dim
    x plane otherwise dominates the whole query.
"""

from __future__ import annotations

import hashlib
import logging
import math
import sys

import numpy as np
import pyarrow as pa
import pyspark.sql.types as T
from pyspark import cloudpickle
from pyspark.sql import DataFrame as SDF
from pyspark.sql import Window
from pyspark.sql import functions as F

_log = logging.getLogger("torcharrow_spark.similarity")

# the pair kernel ships to Python workers by value: a fresh worker then
# unpickles it without importing the whole operators package (~0.25 s
# per worker, measured on q42's first passes at sf0.01)
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# Fallback weight-table size when a dimension probe finds no rows.
_DEFAULT_DIM = 64

#: target expected bucket population for ``n_planes='auto'`` — a few
#: hundred vectors per bucket keeps the per-bucket quadratic step
#: (cosine_pairs) and the per-probe scan (lsh_topk) executor-cheap
#: while recall stays high; 128 reproduces every pin this repo ever
#: measured (4 planes at 2k vectors, 8 at 20k, 11 at 200k, 14 at 2M)
AUTO_TARGET_BUCKET = 128

#: N*Q budget ceiling for `quantized_rerank_topk`'s coarse stage, which
#: is a DELIBERATE full scan — |corpus| x |queries| pairs, each an
#: interpreted HOF fold over `dim` code elements — so its cost model is
#: C = N * Q * dim element products. Measured on local[32] (sf1 corpus,
#: 20k x 24 x 64 = 30.7M element products in ~2 s of executor time):
#: ~5e8 element products per core-second through the interpreted fold.
#: The ceiling caps the coarse stage at ~1 core-hour per 1000 cores
#: (≈ 2e15 element products on a 1000-executor/8-core cluster): above
#: it, the full scan is the plan that eats the cluster and callers MUST
#: switch to `ivf_quantized_topk` (probe trained cells, int8-scan only
#: the probed cells, exact re-rank — recall 0.95 at 10% of the bytes on
#: the sf1 corpus; CHANGES.md's "pin gate and nothing else" entry keeps
#: the retired recall tier's values). Advisory, not enforced: the
#: operator serves any size; the registry row (tuning.py) publishes
#: the trade.
QUANTIZED_SCAN_NQD_CEILING = 2 * 10**15


def auto_n_planes(
    n_vectors: int, target_bucket: int = AUTO_TARGET_BUCKET
) -> int:
    """The documented hyperplane sizing rule as code (r8 — mirrors
    ``dedup.simhash_auto_bits``): expected bucket
    population is n / 2^planes, so
    ``planes = ceil(log2(n / target_bucket))`` clamped to [1, 30]
    (bucket ids are ints built from 2^i bit weights). Before this, the
    docstrings said n_planes "MUST grow with the corpus" but every
    call site sized it by hand — the sf100 decade needed a manual
    +log2(10) bump, exactly the forgotten-parameter
    failure auto sizing removes.

    Reproducibility note (same trade as ``simhash_auto_bits`` and
    ``semantic_dedup(n_clusters='auto')``): the chosen plane count —
    and hence which true pairs the LSH partition splits — depends on
    the corpus size at call time; pin an explicit int for strict
    run-to-run comparability. The arithmetic is plain IEEE
    ``ceil(log2(n / target))``, reproduced verbatim by the SQL oracles
    (DuckDB's log2 is correctly rounded, like CPython's)."""
    import math

    return max(
        1, min(30, math.ceil(math.log2(max(n_vectors, 1) / target_bucket)))
    )


def _resolve_n_planes(corpus: SDF, n_planes, op: str) -> int:
    """'auto' -> corpus-count-driven sizing (one bounded count() job —
    metadata-cheap on parquet; pass an int to skip it)."""
    if n_planes != "auto":
        return int(n_planes)
    n = corpus.count()
    planes = auto_n_planes(n)
    _log.info(
        "%s n_planes='auto': corpus=%d vectors -> %d planes "
        "(2^%d buckets, ~%d vectors/bucket expected)",
        op, n, planes, planes, max(1, n >> planes),
    )
    return planes


def _infer_dim(df: SDF, vec_col: str) -> int:
    """Embedding dimensionality via a one-row probe (LIMIT 1 job, no
    scan). Embedding columns are fixed-dim by construction; the weight
    literals are sized to the real dim because an oversized literal
    (e.g. 1024 doubles x planes x sides) bloats the generated code ~7x
    in wall-clock at sf0.1."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"]) if row and row["d"] is not None else _DEFAULT_DIM


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine(a, b):
    """Per-pair cosine; prefer the precomputed-norm form inside joins."""
    d = _dot(a, b)
    na, nb = _norm(a), _norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def _cosine_from(dot, na, nb):
    """cosine given per-vector norms — same expression shape (and thus
    bit-identical doubles) as `cosine`, minus the per-pair norm work."""
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


#: tile edge of the pair kernel's clean sweep: one TILE x TILE block of
#: float64 accumulators (2 MB) per step bounds memory at any bucket
#: size while amortizing numpy's per-call dispatch
_TILE = 512


def _elect_onset(dim: int) -> int:
    """Member count above which the pair kernel elects a bucket: the
    `_emit_pairs` onset rule with member_bytes = id(8) + norm(8) + dim
    floats(4d) + struct overhead, so wide vectors elect early enough
    that the collect_list buffer stays bounded at any dim (r8)."""
    from .dedup import DEFAULT_ELECT_THRESHOLD, ELECT_BYTES_BOUND

    return min(
        DEFAULT_ELECT_THRESHOLD, max(2, ELECT_BYTES_BOUND // (32 + 4 * dim))
    )


def _norm_ok(n) -> bool:
    # Spark's `n > 0`: NULL is false, NaN orders greatest
    return n is not None and (n > 0 or math.isnan(n))


def _exact_cos(va, na, vb, nb):
    """One pair through the JVM expression
    ``_cosine_from(_dot(va, vb), na, nb)``; None is SQL NULL. The when()
    fallback gives exactly 0.0 unless both norms pass `> 0`; zip_with
    pads the shorter vector with NULL, and any NULL product makes the
    fold NULL; Spark's `/` is NULL on a zero divisor."""
    if not (_norm_ok(na) and _norm_ok(nb)):
        return 0.0
    if va is None or vb is None or len(va) != len(vb):
        return None
    dot = 0.0
    for x, y in zip(va, vb):
        if x is None or y is None:
            return None
        dot = dot + x * y
    den = na * nb
    return None if den == 0 else dot / den


def _survives(cos, null, thr: float):
    """`cosine >= thr` as Spark's filter reads it: NULL never passes,
    NaN orders greatest."""
    return ~null & ((cos >= thr) | np.isnan(cos))


def _cos_tile(AT, na, BT, nb, thr: float):
    """`_exact_cos` over every (a, b) pair of the columns of AT x BT
    (vectors stored dimension-major, so each step reads contiguous
    rows), vectorized: the strict left fold of `_dot` runs one
    dimension at a time, so each product and each add is the same
    correctly rounded float64 op the JVM performs (f32 -> f64 widening
    is exact) and every cosine is bit-identical. Returns (cosines,
    survivor mask)."""
    acc = np.zeros((AT.shape[1], BT.shape[1]))
    with np.errstate(all="ignore"):
        for d in range(len(AT)):
            acc += np.multiply.outer(AT[d], BT[d])
        den = np.multiply.outer(na, nb)
        ok = np.logical_and.outer(
            (na > 0) | np.isnan(na), (nb > 0) | np.isnan(nb)
        )
        cos = np.where(ok, acc / den, 0.0)
        return cos, _survives(cos, ok & (den == 0), thr)


def _nulls(arr):
    return arr.is_null().to_numpy(zero_copy_only=False)


def _bucket_tiles(sa, thr: float, onset: int):
    """The embedding-pair kernel core over ONE bucket: ``sa`` is the
    bucket's Arrow struct array of (i id, v vector, n norm) members in
    sorted order. Returns ``(rep_of, tiles)``; ``tiles`` yields
    ``(a, b, cos, hit)`` — member positions a and b, the cosine of every
    (a[x], b[y]) pair and its survivor mask (`_survives`), pairs outside
    the a<b set masked off. `_bucket_drops` and `_bucket_pairs` consume
    it; the SQL oracles replay the same semantics.

    * Hostile members — a NULL id, vector, element or norm, or a length
      other than the bucket's clean dimension (the most common clean
      length) — are split off: clean x clean pairs run the vectorized
      `_cos_tile` sweep, and only the pairs that touch a hostile member
      run `_exact_cos`, O(h*m) calls for h hostile members.
    * Election: a bucket above ``onset`` members collapses its clean
      members into exact-byte classes of (vector, norm) — members the
      cosine cannot tell apart, a strict refinement of the xxhash64
      vector classes `_emit_pairs` elects by. The class's first member
      is its rep; the pair set becomes C(reps, 2) + one (rep, member)
      star per other class member, with real cosines. Hostile members
      are never collapsed. ``rep_of`` maps every position to its rep
      (itself when not elected)."""
    m = len(sa)
    iv, vv, nv = sa.flatten()
    offs = np.asarray(vv.offsets, dtype=np.int64)
    rel, lens = offs - offs[0], np.diff(offs)
    elems = vv.values.slice(offs[0], rel[-1])
    base = ~_nulls(iv) & ~_nulls(vv) & ~_nulls(nv)
    if elems.null_count:
        run = np.concatenate(([0], np.cumsum(_nulls(elems))))
        base &= run[rel[1:]] == run[rel[:-1]]
    dim = 0
    if base.any():
        ls, counts = np.unique(lens[base], return_counts=True)
        dim = int(ls[counts.argmax()])
    clean = base & (lens == dim)
    C = np.nonzero(clean)[0]
    col = np.cumsum(clean) - 1  # position -> column of VT
    VT = np.asarray(elems.to_numpy(zero_copy_only=False), dtype=np.float64)[
        np.arange(dim)[:, None] + rel[C]
    ]
    ns = np.asarray(nv.to_numpy(zero_copy_only=False), dtype=np.float64)
    rep_of, reps = np.arange(m), C
    if m > onset and len(C):
        key = np.ascontiguousarray(np.column_stack([VT.T, ns[C]]))
        _, first, inv = np.unique(
            key.view(np.dtype((np.void, key.strides[0]))).ravel(),
            return_index=True,
            return_inverse=True,
        )
        rep_of[C] = C[first[inv]]
        reps = C[np.sort(first)]

    def tiles():
        Vr, nr = VT.take(col[reps], axis=1), ns[reps]
        for a0 in range(0, len(reps), _TILE):
            a = reps[a0:a0 + _TILE]
            for b0 in range(a0, len(reps), _TILE):
                b = reps[b0:b0 + _TILE]
                cos, hit = _cos_tile(
                    Vr[:, a0:a0 + _TILE], nr[a0:a0 + _TILE],
                    Vr[:, b0:b0 + _TILE], nr[b0:b0 + _TILE], thr,
                )
                yield a, b, cos, hit & (a[:, None] < b[None, :])
        tails = np.nonzero(rep_of != np.arange(m))[0]
        by_rep = tails[np.argsort(rep_of[tails], kind="stable")]
        cuts = np.nonzero(np.diff(rep_of[by_rep]))[0] + 1
        for star in np.split(by_rep, cuts):
            if len(star):
                r = rep_of[star[:1]]
                cos, hit = _cos_tile(
                    VT.take(col[r], axis=1), ns[r],
                    VT.take(col[star], axis=1), ns[star], thr,
                )
                yield r, star, cos, hit
        H = np.nonzero(~clean)[0]
        hostile = {h: (vv[h].as_py(), nv[h].as_py()) for h in H}

        def exact(others, h):
            with np.errstate(all="ignore"):
                got = [
                    _exact_cos(
                        *(hostile.get(k) or (VT[:, col[k]], ns[k])), *hostile[h]
                    )
                    for k in others
                ]
            null = np.array([c is None for c in got], dtype=bool)
            cos = np.array([0.0 if c is None else c for c in got])
            return cos, _survives(cos, null, thr)

        for h in H:
            # clean reps on either side, later hostile members after:
            # every pair touching a hostile member runs exactly once
            lo = reps[reps < h]
            hi = np.union1d(reps[reps > h], H[H > h])
            if len(lo):
                cos, hit = exact(lo, h)
                yield lo, np.array([h]), cos[:, None], hit[:, None]
            if len(hi):
                cos, hit = exact(hi, h)
                yield np.array([h]), hi, cos[None, :], hit[None, :]

    return rep_of, tiles()


def _bucket_drops(sa, thr: float, onset: int):
    """Positions `semantic_dedup` drops in one bucket: every member with
    an earlier member at cosine >= thr, over the FULL pair set even
    when the core elected. Each tile is ORed column-wise into the drop
    mask; an elected member t is byte-identical to its rep r, so full
    emission drops t iff r is dropped or r has a survivor partner
    before t (partners inside the class come through the star)."""
    rep_of, tiles = _bucket_tiles(sa, thr, onset)
    m = len(rep_of)
    drop = np.zeros(m, dtype=bool)
    first = np.full(m, m)  # each member's earliest later survivor partner
    for a, b, _cos, hit in tiles:
        drop[b[hit.any(axis=0)]] = True
        rows = hit.any(axis=1)
        first[a[rows]] = np.minimum(
            first[a[rows]], b[hit[rows].argmax(axis=1)]
        )
    drop |= drop[rep_of] | (first[rep_of] < np.arange(m))
    return np.nonzero(drop)[0]


def _bucket_pairs(sa, thr: float, onset: int):
    """(a, b, cosine) of every surviving pair `cosine_pairs` emits for
    one bucket — member positions, a before b."""
    _rep_of, tiles = _bucket_tiles(sa, thr, onset)
    out = [[np.empty(0, int)], [np.empty(0, int)], [np.empty(0)]]
    for a, b, cos, hit in tiles:
        ai, bi = np.nonzero(hit)
        for part, arr in zip(out, (a[ai], b[bi], cos[ai, bi])):
            part.append(arr)
    return tuple(np.concatenate(part) for part in out)


def _map_buckets(buckets: SDF, schema, bucket_rows) -> SDF:
    """One mapInArrow kernel over the ``ms`` bucket arrays (r13: LSH
    and cluster buckets are few and fat, so the boundary crossing ships
    ~300 B/vector once, where a JVM pair plan explodes C(m, 2) rows each
    carrying two dim-float arrays and folds every dot through an
    interpreted aggregate() lambda). ``bucket_rows(sa)`` returns one
    bucket's output columns; ``schema`` is the output."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)

    def kern(batches):
        for batch in batches:
            col = batch.column(0)
            parts = [[pa.array([], type=f.type)] for f in arrow_schema]
            for r in range(batch.num_rows):
                if col[r].is_valid:
                    for part, arr in zip(parts, bucket_rows(col[r].values)):
                        part.append(arr)
            yield pa.RecordBatch.from_arrays(
                [pa.concat_arrays(p) for p in parts], schema=arrow_schema
            )

    return buckets.select("ms").mapInArrow(kern, schema)


def _member_buckets(
    df: SDF, key: str, id_col: str, vec_col: str, norm_col: str
) -> SDF:
    """One row per ``key`` group of 2+ members: ``ms`` = the sorted
    array of (i id, v vector, n norm) structs the pair kernel reads."""
    members = F.struct(
        F.col(id_col).alias("i"),
        F.col(vec_col).alias("v"),
        F.col(norm_col).alias("n"),
    )
    return (
        df.groupBy(key)
        .agg(F.sort_array(F.collect_list(members)).alias("ms"))
        .where(F.size("ms") >= 2)
    )


def _bucket_drop_ids(
    buckets: SDF, threshold: float, id_col: str, onset: int
) -> SDF:
    """semantic_dedup's within-bucket drop set: (id,) of every member
    `_bucket_drops` drops. Measured 3.1 -> 0.8 s on q138's dedup stage
    at sf0.1 against the JVM pair plan, output identical (r13)."""
    thr = float(threshold)
    id_t = buckets.schema["ms"].dataType.elementType["i"].dataType

    def drops(sa):
        return [sa.flatten()[0].take(pa.array(_bucket_drops(sa, thr, onset)))]

    return _map_buckets(
        buckets, T.StructType([T.StructField(id_col, id_t, True)]), drops
    )


def _bucket_pair_cosines(buckets: SDF, threshold: float, onset: int) -> SDF:
    """cosine_pairs' pair stage: (id_a, id_b, cosine) of every pair
    `_bucket_pairs` emits. Measured 1.27 -> 0.52 s on q42's pair stage
    at sf0.1 against the JVM pair plan, identical rows (r13)."""
    thr = float(threshold)
    id_t = buckets.schema["ms"].dataType.elementType["i"].dataType

    def pairs(sa):
        a, b, cos = _bucket_pairs(sa, thr, onset)
        ids = sa.flatten()[0]
        return [ids.take(pa.array(a)), ids.take(pa.array(b)), pa.array(cos)]

    return _map_buckets(
        buckets,
        T.StructType(
            [
                T.StructField("id_a", id_t, True),
                T.StructField("id_b", id_t, True),
                T.StructField("cosine", T.DoubleType(), True),
            ]
        ),
        pairs,
    )


def _top_n(df: SDF, part: str, order, n: int, rank: str = "rank") -> SDF:
    """Rows ranked 1..``n`` within each ``part`` group under ``order``,
    the rank in column ``rank`` — the one bounded row_number() window
    behind every top-k tail, candidate pool and cell probe (Spark plans
    it with a WindowGroupLimit, so no full per-group sort runs)."""
    w = Window.partitionBy(part).orderBy(*order)
    return df.withColumn(rank, F.row_number().over(w)).where(F.col(rank) <= n)


def _topk_rows(scored: SDF, k: int) -> SDF:
    """The shared top-k tail over (query_id, match_id, cosine) rows: per
    query the ``k`` highest cosines, ties to the lower match_id."""
    order = [F.col("cosine").desc(), F.col("match_id").asc()]
    return _top_n(scored, "query_id", order, k).select(
        "query_id", "match_id", "cosine", "rank"
    )


def _corpus_side(corpus: SDF, id_col: str, vec_col: str, *extra) -> SDF:
    """(match_id, c_vec, c_norm, *extra): norms are per vector, computed
    before any join."""
    return corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
        *extra,
    )


def _query_side(
    queries: SDF, id_col: str, vec_col: str, *extra, double: bool = False
) -> SDF:
    """(query_id, q_vec, q_norm, *extra); ``double=True`` casts q_vec's
    elements to double, the form the int8 coarse scan reads."""
    v = F.col(vec_col)
    if double:
        v = F.transform(v, lambda x: x.cast("double"))
    return queries.select(
        F.col(id_col).alias("query_id"),
        v.alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
        *extra,
    )


def _pair_cosine():
    """Exact cosine of a joined (c_vec, c_norm) x (q_vec, q_norm) row."""
    return _cosine_from(
        _dot(F.col("q_vec"), F.col("c_vec")), F.col("q_norm"), F.col("c_norm")
    ).alias("cosine")


def _non_self(pairs: SDF, score) -> SDF:
    """(query_id, match_id, score) of every pair but a query with itself."""
    return pairs.where(F.col("match_id") != F.col("query_id")).select(
        "query_id", "match_id", score
    )


def brute_force_topk(
    corpus: SDF,
    queries: SDF,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> SDF:
    """Exact cosine top-k: broadcast the query set against the corpus.
    Cost is |corpus| x |queries| dot products, all JVM-side; norms are
    one-per-vector, computed before the join; the per-query top-k window
    is bounded by k so no full sort materializes."""
    q = F.broadcast(_query_side(queries, id_col, vec_col))
    pairs = _corpus_side(corpus, id_col, vec_col).crossJoin(q)
    return _topk_rows(_non_self(pairs, _pair_cosine()), k)


def _plane_weights(plane: int, dim: int):
    """Deterministic pseudo-random weight w[d] in [-7.5, 7.5]: value of
    the first hex nibble of md5('{plane},{d}') minus 7.5 — the exact
    value the SQL oracle derives with substr(md5(...), 1, 1)."""
    return [
        int(hashlib.md5(f"{plane},{d}".encode()).hexdigest()[0], 16) - 7.5
        for d in range(dim)
    ]


def _hyperplane_proj(vec, plane: int, dim: int) -> F.Column:
    """<v, w_plane> — weights shipped as an array literal and indexed
    with element_at (slicing the literal would copy it per row).

    The weight array rides as ONE ``F.expr`` of CAST('repr' AS DOUBLE)
    literals, not ``F.lit(list)`` — which decomposes into one py4j
    round trip per element, ~1.9 s of driver-side Python per
    bucket-expression construction at 16 planes x 64 dims (guide §5.4;
    the r12 kmeans-centroid pattern). Every weight is a half-integer
    in [-7.5, 7.5], exactly representable, and repr round-trips with a
    correctly-rounded string->double cast, so each parsed literal is
    the identical IEEE double (pinned by
    test_hyperplane_proj_sql_weights_match_column_api)."""
    w = F.expr(
        "array("
        + ",".join(
            f"CAST('{x!r}' AS DOUBLE)" for x in _plane_weights(plane, dim)
        )
        + ")"
    )
    idx = F.sequence(F.lit(0), F.size(vec) - 1)
    terms = F.transform(
        idx, lambda d: F.element_at(w, d + 1) * F.element_at(vec, d + 1).cast("double")
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)


def _hyperplane_sign(vec, plane: int, dim: int) -> F.Column:
    """Sign bit of <v, w_plane>."""
    return F.when(_hyperplane_proj(vec, plane, dim) >= 0, F.lit(1)).otherwise(
        F.lit(0)
    )


def lsh_bucket(
    vec, n_planes: int = 4, dim: int = _DEFAULT_DIM, plane_ids=None
) -> F.Column:
    """Random-hyperplane LSH bucket id in [0, 2^n_planes). ``plane_ids``
    selects WHICH hyperplanes (md5 seed ids) form the hash — bit i of
    the bucket is the sign of plane_ids[i] — letting multiple
    independent tables share this machinery (see lsh_topk_multitable);
    default planes are 0..n_planes-1."""
    ids = list(plane_ids) if plane_ids is not None else list(range(n_planes))
    bucket = F.lit(0)
    for i, p in enumerate(ids):
        bucket = bucket + _hyperplane_sign(vec, p, dim) * F.lit(2 ** i)
    return bucket.cast("int")


#: multi-probe perturbation enumeration is restricted to the 2^j masks
#: over the j lowest-|margin| planes; 12 keeps the per-QUERY candidate
#: array at 4096 structs (queries are the small broadcast side) while
#: covering every useful perturbation — flips of high-margin planes
#: have near-zero collision probability for the query's true neighbors
_MAX_PERTURB_PLANES = 12


def lsh_probe_buckets(
    vec, n_planes: int = 4, dim: int = _DEFAULT_DIM, n_probe: int = 1,
    plane_ids=None,
) -> F.Column:
    """Multi-probe LSH bucket set via PERTURBATION SETS (Lv et al.
    2007, public): a point near a hyperplane could have landed on
    either side, so the buckets most likely to hold a query's missed
    neighbors are the ones reached by flipping LOW-|projection| planes.
    Candidate perturbations are all subsets of the j = min(n_planes,
    12) lowest-margin planes, scored by the SUM of flipped |margins|
    (the query-aware success-probability ordering); the ``n_probe``
    best-scoring subsets — always starting with the empty set, i.e. the
    base bucket — become the probe sequence. Multi-bit flips matter:
    flipping the two lowest margins often beats flipping one moderate
    margin, and single-bit probing caps coverage at n_planes + 1
    buckets — at 32 buckets that ceiling capped recall at ~0.5 on the
    sf1 stress corpus (r4 finding) regardless of probe budget.

    Raises recall without adding planes (which would split every bucket
    for every query); cost is exactly ``n_probe`` bucket scans per
    query, no re-hash, no extra shuffle shape. Returns array<int> of
    distinct bucket ids (length min(n_probe, 2^j))."""
    if n_probe < 1:
        raise ValueError("n_probe must be >= 1")
    ids = list(plane_ids) if plane_ids is not None else list(range(n_planes))
    projs = [_hyperplane_proj(vec, p, dim) for p in ids]
    base = F.lit(0)
    for i, proj in enumerate(projs):
        base = base + F.when(proj >= 0, F.lit(2 ** i)).otherwise(F.lit(0))
    base = base.cast("int")
    if n_probe == 1:
        return F.array(base)
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.abs(proj).alias("m"), F.lit(2 ** p).alias("bit")
                )
                for p, proj in enumerate(projs)
            ]
        )
    )
    jj = min(n_planes, _MAX_PERTURB_PLANES)
    low = F.slice(ranked, 1, jj)

    def _mask_struct(mask):
        score = F.lit(0.0)
        xorm = F.lit(0)
        for i in range(jj):
            bit_set = mask.bitwiseAND(F.lit(1 << i)) != F.lit(0)
            s = F.element_at(low, i + 1)
            score = score + F.when(bit_set, s["m"]).otherwise(F.lit(0.0))
            xorm = xorm + F.when(bit_set, s["bit"]).otherwise(F.lit(0))
        return F.struct(score.alias("score"), xorm.alias("xorm"))

    cand = F.transform(
        F.sequence(F.lit(0), F.lit(2 ** jj - 1)), _mask_struct
    )
    top = F.slice(F.array_sort(cand), 1, min(n_probe, 2 ** jj))
    return F.transform(top, lambda s: base.bitwiseXOR(s["xorm"].cast("int")))


def lsh_topk(
    corpus: SDF,
    queries: SDF,
    k: int = 5,
    n_planes="auto",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> SDF:
    """Approximate top-k: bucket corpus and queries by hyperplane signs,
    join on bucket (equi-join -> hash shuffle, 2^n_planes x less work than
    brute force), then per-query top-k within the bucket.

    ``n_probe > 1`` turns on multi-probe (see :func:`lsh_probe_buckets`):
    each query also scans the neighbor buckets across its lowest-margin
    hyperplanes — recall rises toward brute force at a cost of
    ``n_probe`` bucket scans per query, while the corpus-side work and
    the join shape are unchanged (only the tiny broadcast query side
    explodes).

    Sizing rule (same as :func:`cosine_pairs`): expected bucket size is
    corpus_size / 2^n_planes, so pick
    n_planes ≈ log2(corpus_size / target_bucket_size) — each query
    scores ~n_probe buckets, so the per-query cost is n_probe x bucket
    size, not the corpus. The default ``n_planes='auto'`` applies the
    rule itself via :func:`auto_n_planes`; pin an int for strict
    run-to-run comparability."""
    n_planes = _resolve_n_planes(corpus, n_planes, "lsh_topk")
    dim = _infer_dim(corpus, vec_col)
    c = _corpus_side(
        corpus, id_col, vec_col,
        lsh_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
    )
    q = F.broadcast(
        _query_side(
            queries, id_col, vec_col,
            F.explode(
                lsh_probe_buckets(F.col(vec_col), n_planes, dim, n_probe)
            ).alias("bucket"),
        )
    )
    return _topk_rows(_non_self(c.join(q, "bucket"), _pair_cosine()), k)


#: plane-id namespace stride between LSH tables: table t hashes with
#: md5 seed ids [t*100 .. t*100+n_planes-1], so tables are pairwise
#: independent and table 0 reproduces the single-table operator exactly
_TABLE_STRIDE = 100


def _table_planes(t: int, n_planes: int) -> list:
    return [t * _TABLE_STRIDE + p for p in range(n_planes)]


def lsh_topk_multitable(
    corpus: SDF,
    queries: SDF,
    k: int = 5,
    n_planes="auto",
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> SDF:
    """Multi-TABLE LSH approximate top-k: ``n_tables`` independent
    hyperplane sets, candidates unioned across tables, exact-scored and
    deduplicated, then per-query top-k — the orthodox recall lever when
    multi-probe saturates. A neighbor missed by one table's partition
    is found unless EVERY table splits it: candidate probability goes
    1 - (1 - p)^L for per-table collision p, the boost that matters in
    the weak-neighbor regime of the sf1 recall curve (single table +
    8-probe plateaued at ~0.68 recall@10 there; CHANGES.md's "pin gate
    and nothing else" entry keeps the retired recall tier's values).

    Cost model vs multi-probe: multi-probe multiplies only the QUERY
    side (tiny, broadcast); each extra table re-keys the CORPUS —
    shuffle volume and memory scale with n_tables. So: raise n_probe
    first, add tables when probing saturates, and size n_planes per
    table for a few thousand vectors per bucket exactly as in
    :func:`lsh_topk`. Within each table the same perturbation-set
    multi-probe applies (n_probe buckets per table per query).

    Dedup is an aggregate, not a distinct: candidates found by several
    tables carry identical cosines, so groupBy(query, match).max(cos)
    collapses them with map-side partial aggregation — duplicates die
    before the shuffle instead of riding it.

    ``n_planes='auto'`` (the default) sizes each table's plane count by
    :func:`auto_n_planes` from the corpus count; pin an int for strict
    run-to-run comparability."""
    if n_tables < 1:
        raise ValueError("n_tables must be >= 1")
    n_planes = _resolve_n_planes(corpus, n_planes, "lsh_topk_multitable")
    dim = _infer_dim(corpus, vec_col)
    c_buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                lsh_bucket(
                    F.col(vec_col), n_planes, dim, _table_planes(t, n_planes)
                ).alias("b"),
            )
            for t in range(n_tables)
        ]
    )
    c = _corpus_side(
        corpus, id_col, vec_col, F.explode(c_buckets).alias("tb")
    ).select(
        "match_id", "c_vec", "c_norm",
        F.col("tb.t").alias("t"), F.col("tb.b").alias("bucket"),
    )
    q_buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                lsh_probe_buckets(
                    F.col(vec_col), n_planes, dim, n_probe,
                    _table_planes(t, n_planes),
                ).alias("bs"),
            )
            for t in range(n_tables)
        ]
    )
    q = F.broadcast(
        _query_side(
            queries, id_col, vec_col, F.explode(q_buckets).alias("tb")
        ).select(
            "query_id", "q_vec", "q_norm",
            F.col("tb.t").alias("t"),
            F.explode(F.col("tb.bs")).alias("bucket"),
        )
    )
    scored = (
        _non_self(c.join(q, ["t", "bucket"]), _pair_cosine())
        .groupBy("query_id", "match_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    return _topk_rows(scored, k)


def cosine_pairs(
    corpus: SDF,
    threshold: float = 0.95,
    n_planes="auto",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> SDF:
    """Embedding-cosine near-duplicate pairs: LSH bucketing, then exact
    cosine within each bucket. Group-and-pair rather than a self-join: a
    self-join of the derived (bucket, norm) table recomputes the bucket
    and norm pipeline for both sides; one groupBy(bucket) computes it
    once and shuffles each vector once. Norms and bucket ids are
    per-vector, computed before the shuffle. A bucket with m vectors
    still costs O(m^2) dot products — that is the quadratic step the
    2^n_planes-way partition confines.

    Sizing rule: expected bucket size is corpus_size / 2^n_planes, so
    pick n_planes ≈ log2(corpus_size / target_bucket_size). n_planes
    MUST grow with the corpus, and since r8 the
    default ``'auto'`` applies the rule ITSELF via
    :func:`auto_n_planes` — one bounded count() picks
    ceil(log2(n / 128)) planes clamped to [1, 30], so a forgotten
    parameter at 10^9 vectors cannot re-create the quadratic blowup
    (the sf100 decade previously needed a manual +log2(10) bump). Each
    extra plane halves per-bucket work but splits some true near-dup
    pairs across buckets (recall/cost trade-off inherent to
    single-table hyperplane LSH); pin an explicit int for strict
    run-to-run comparability."""
    n_planes = _resolve_n_planes(corpus, n_planes, "cosine_pairs")
    dim = _infer_dim(corpus, vec_col)
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        _norm(F.col(vec_col)).alias("__norm__"),
        lsh_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
    )
    # pair emission + exact cosine + threshold in one Arrow kernel over
    # the bucket arrays (r13)
    return _bucket_pair_cosines(
        _member_buckets(c, "bucket", id_col, vec_col, "__norm__"),
        threshold,
        _elect_onset(dim),
    )


def semantic_dedup(
    corpus: SDF,
    n_clusters="auto",
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> SDF:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    public method family): cluster the embedding space, compute exact
    pairwise cosines only WITHIN each cluster, and keep one
    representative per near-duplicate neighborhood — the curation pass
    that removes paraphrase-level duplicates exact/minhash dedup cannot
    see.

    This form: cells are the deterministic md5-pick centroids the IVF
    index uses (swap in `kmeans()` centroids for trained clusters — the
    pair machinery is identical), assignment is max cosine-to-centroid
    (one zero-shuffle projection), and a vector is DROPPED iff some
    lower-id vector in its cluster has cosine >= threshold to it
    (keep-min-id). This one-pass dominance rule is deterministic,
    distributed, and SQL-reproducible; it is slightly more aggressive
    than SemDeDup's sequential within-cluster greedy scan (which
    re-checks only against KEPT items — inherently order-sequential),
    an accepted approximation documented here.

    Scale design: the quadratic step is confined per cluster (size
    n_clusters ~ sqrt(corpus) like IVF so cluster populations stay a
    few thousand); the pair kernel's tiles bound its memory;
    cross-cluster near-dups are missed by design — SemDeDup's own
    approximation, priced against never comparing across cells.
    Returns ``(id, cluster, keep)`` for every input vector.

    ``n_clusters='auto'`` (default, r5) applies the sqrt sizing rule
    ITSELF — one cheap count() picks ceil(sqrt(corpus)) cells clamped
    to [2, 4096] — mirroring ``simhash_pairs(bits='auto')``, so a
    forgotten parameter at 10^9 vectors cannot re-create the quadratic
    blowup the operator exists to avoid (expected cluster population
    stays ~sqrt(corpus)). The chosen count is logged; pin an explicit
    int for run-to-run comparability (oracle queries do). Same
    reproducibility trade as simhash auto-bits: the cell count — hence
    the missed cross-cluster pairs — depends on corpus size at call
    time.

    ``centroids=`` (r5) accepts TRAINED cell centers — a list of
    dim-float vectors, e.g. ``kmeans(corpus)[1]`` — in place of the
    md5-pick cells; cluster ids are then indices into that list.
    Trained cells tighten clusters around the true density, which
    raises within-cluster recall at the same cell count (measured in
    bench.py's recall table)."""
    if centroids is not None:
        cents = [(i, [float(x) for x in v]) for i, v in enumerate(centroids)]
    else:
        if n_clusters == "auto":
            n = corpus.count()
            n_clusters = max(2, min(4096, math.ceil(math.sqrt(max(n, 1)))))
            _log.info(
                "semantic_dedup n_clusters='auto': corpus=%d vectors "
                "-> %d clusters", n, n_clusters,
            )
        cents = _centroids(corpus, n_clusters, id_col, vec_col)
    sims = _cell_sims(vec_col, cents)
    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        _norm(F.col(vec_col)).alias("__n__"),
        F.array_max(sims)["c"].alias("cluster"),
    )
    # the drop decision is the ONLY consumer of the pair cosines, so it
    # runs inside the pair kernel (r13)
    dropped = (
        _bucket_drop_ids(
            _member_buckets(assigned, "cluster", id_col, vec_col, "__n__"),
            threshold,
            id_col,
            _elect_onset(_infer_dim(corpus, vec_col)),
        )
        .distinct()
        .withColumn("__dropped__", F.lit(True))
    )
    return (
        assigned.select(id_col, "cluster")
        .join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(~F.col("__dropped__"), F.lit(True)).alias("keep"),
        )
    )


def _centroids(corpus: SDF, n_cells: int, id_col: str, vec_col: str):
    """Deterministic centroid pick: the n_cells corpus vectors with the
    smallest md5(id) — reproducible without k-means iterations (swap in
    trained centroids for a production index; the operator only needs
    SOME fixed partition of the space). Collects n_cells x dim floats —
    bytes, not data."""
    rows = (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy(F.md5(F.col("cid").cast("string")), F.col("cid"))
        .limit(n_cells)
        .collect()
    )
    return [(r["cid"], [float(x) for x in r["cv"]]) for r in rows]


def _cell_sims(vec_col, cents):
    """Array of (cosine-to-centroid, cell-index) structs, one per cell.

    Built as ONE ``F.expr`` over generated SQL text instead of k x dim
    Column-API literal calls — ``F.lit(list)`` costs one py4j round
    trip per element (~2 s per construction at 8 x 64; twice that in
    `ivf_topk`, which builds this for cells AND probes). The parsed
    tree (zip_with/aggregate fold order, cast placement, the /norm
    divide, struct field order for the array_max tie-break) is
    identical to the Column-API form, so results are bit-identical
    (pinned by test_cell_sims_sql_expr_matches_column_api). Float
    literals ride as CAST('repr' AS DOUBLE): repr round-trips and the
    string->double cast is correctly rounded, then constant-folded."""
    vec = "`" + vec_col.replace("`", "``") + "`"
    parts = []
    for idx, (_cid, cv) in enumerate(cents):
        arr = "array(" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in cv) + ")"
        nw = math.sqrt(sum(x * x for x in cv)) or 1.0
        d = (
            f"aggregate(zip_with({vec}, {arr}, "
            "(x, y) -> CAST(x AS DOUBLE) * y), "
            "CAST('0.0' AS DOUBLE), (acc, v) -> acc + v)"
        )
        parts.append(
            f"struct({d} / CAST('{nw!r}' AS DOUBLE) AS s, {idx} AS c)"
        )
    return F.expr("array(" + ",".join(parts) + ")")


def ivf_topk(
    corpus: SDF,
    queries: SDF,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> SDF:
    """IVF (inverted-file) approximate top-k — the second scale path next
    to LSH: partition the corpus into `n_cells` Voronoi cells around
    deterministic centroids; each query probes its `n_probe` nearest
    cells and scores exactly within them. n_probe == n_cells degrades to
    exact brute force (tested), n_probe << n_cells reads ~n_probe/n_cells
    of the corpus per query. Assignment is a per-row argmax over centroid
    literals (no shuffle); the probe join is a hash equi-join on cell id.

    Sizing rule: n_cells ≈ √corpus_size balances the two linear terms —
    per-row assignment cost scales with n_cells while per-probe scan
    cost scales with corpus_size / n_cells; their sum is minimized at
    the square root (the standard IVF heuristic). The default 16 suits
    ~10^2-10^4 vectors; a 10^8-vector corpus wants ~10^4 cells (train
    the centroid table with operators/clustering.kmeans at that scale —
    centroid literals stop being practical past a few thousand cells;
    switch the argmax to a broadcast-join scoring over a centroid
    DataFrame)."""
    cents = _centroids(corpus, n_cells, id_col, vec_col)
    c = _corpus_side(
        corpus, id_col, vec_col,
        F.array_max(_cell_sims(vec_col, cents))["c"].alias("cell"),
    )
    probes = F.slice(
        F.reverse(F.array_sort(_cell_sims(vec_col, cents))), 1, n_probe
    )
    q = F.broadcast(
        _query_side(
            queries, id_col, vec_col,
            F.explode(F.transform(probes, lambda p: p["c"])).alias("cell"),
        )
    )
    return _topk_rows(_non_self(c.join(q, "cell"), _pair_cosine()), k)


def normalize_embeddings(df: SDF, vec_col: str = "embedding") -> SDF:
    """L2-normalize a vector column in place: v / ||v||.  Pure HOF
    projection (aggregate for the sum of squares, transform for the
    scale) — zero shuffles, whole-stage codegen, linear at any scale.
    The fold is left-to-right over the array, so the accumulation order
    (and thus the float result) is identical on every engine that folds
    sequentially.  Zero vectors are left unchanged (norm 0 -> scale 1)."""
    v = F.col(vec_col)
    ss = F.aggregate(
        v, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    )
    norm = F.sqrt(ss)
    safe = F.when(norm == 0.0, F.lit(1.0)).otherwise(norm)
    return df.withColumn(
        vec_col, F.transform(v, lambda x: x.cast("double") / safe)
    )


def group_centroids(
    df: SDF, group_col: str, vec_col: str = "embedding", scale_bits: int = 24
) -> SDF:
    """Per-group mean vector (average pooling) — the building block for
    class prototypes, IVF seeding, and embedding-space curation.

    Components are quantized to integers with floor(x * 2^scale_bits
    + 1/2) — pure IEEE double arithmetic (a power-of-two multiply is
    exact), so unlike a float->DECIMAL cast the quantized values are
    bit-identical on every engine, and the integer sums are exact and
    aggregation-order independent.  2^-24 ~ 6e-8 is below float32
    epsilon at unit scale, so for float32 embeddings the quantization
    is lossless in effect.  Plan: posexplode -> one HashAggregate on
    (group, dim) -> reassemble ordered arrays; one shuffle total, and
    the aggregated table is |groups| x dim rows — tiny at any corpus
    size."""
    scale = float(1 << scale_bits)
    q = F.floor(F.col("__x__").cast("double") * F.lit(scale) + F.lit(0.5)).cast(
        "long"
    )
    ex = df.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("__pos__", "__x__")
    )
    agg = ex.withColumn("__q__", q).groupBy(group_col, "__pos__").agg(
        (F.sum("__q__").cast("double") / F.count(F.lit(1)) / F.lit(scale)).alias(
            "__m__"
        ),
        F.count(F.lit(1)).alias("__n__"),
    )
    return agg.groupBy(group_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos__", "__m__"))),
            lambda s: s["__m__"],
        ).alias("centroid"),
        F.first("__n__").alias("n_vectors"),
    )


def quantize_embeddings(
    df: SDF,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
) -> SDF:
    """Per-vector affine quantization of float embeddings to
    ``bits``-bit integers (the standard 4x storage/IO compression
    before ANN indexing): ``q = floor((x - min) / scale + 0.5)`` with
    ``scale = (max - min) / (2^bits - 1)`` — zero-shuffle array HOFs,
    reconstruction error <= scale/2 per element.

    Determinism: elements cast to double first (float->double is
    exact), min/max/scale/rounding are then fixed double expressions
    (floor(x+0.5) is explicit half-up — engines disagree on bare
    round()'s tie rule, floor does not) — so quantized codes are
    bit-identical anywhere.  Constant vectors quantize to code 0 with
    scale 0.  Returns (id, qvec: array<int>, v_min, v_scale)."""
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    df2 = df.select(F.col(id_col), dv.alias("__v__"))
    mn, scale, q = _affine_codes(F.col("__v__"), bits)
    return df2.select(
        id_col,
        q.alias("qvec"),
        mn.alias("v_min"),
        scale.alias("v_scale"),
    )


def _affine_codes(dv, bits: int):
    """The affine quantization expressions — ONE definition, and the one
    ``bits`` check, for every int8 path: :func:`quantize_embeddings`,
    :func:`assign_quantized_cells` and through it
    :func:`ivf_quantized_topk` and the standing index's publish and
    append. The q170/q171 oracles replay these codes term-for-term, so
    the paths must be divergence-proof by construction. ``dv`` is a
    double-array Column; returns (min, scale, codes)."""
    if not (2 <= bits <= 16):
        raise ValueError("bits must be in [2, 16]")
    levels = (1 << bits) - 1
    mn = F.array_min(dv)
    mx = F.array_max(dv)
    scale = (mx - mn) / F.lit(float(levels))
    q = F.transform(
        dv,
        lambda x: F.when(
            scale > 0, F.floor((x - mn) / scale + F.lit(0.5))
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    return mn, scale, q


def _code_stats(qvec):
    """(sum(codes), sum(codes^2)) of an int code array: the per-vector
    terms of the coarse scan's expanded dequantized norm."""
    return (
        F.aggregate(qvec, F.lit(0.0), lambda a, x: a + x.cast("double")),
        F.aggregate(
            qvec,
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        ),
    )


def _int8_approx_cosine(qsum_dot):
    """The quantized-scan cosine of a joined (qvec, v_min, v_scale,
    q_sum, qsq) x (q_vec, q_norm) row, given sum(query) ``qsum_dot``
    (``q_sum``/``qsq`` are sum(codes)/sum(codes^2), `_code_stats`):
    ``cos = (v_min * sum(query) + scale * <codes, query>) /
    sqrt(nm2) / |query|`` with the dequantized norm EXPANDED
    (``nm2 = n*min^2 + 2*min*scale*sum(q) + scale^2*sum(q^2)``) so no
    float vector ever materializes; zero-denominator guards replace
    each factor with 1."""
    qvec, q_vec = F.col("qvec"), F.col("q_vec")
    v_min, v_scale, q_norm = F.col("v_min"), F.col("v_scale"), F.col("q_norm")
    idx = F.sequence(F.lit(0), F.size(qvec) - 1)
    dot_codes = F.aggregate(
        F.transform(
            idx,
            lambda d: F.element_at(qvec, d + 1).cast("double")
            * F.element_at(q_vec, d + 1),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    approx_dot = v_min * qsum_dot + v_scale * dot_codes
    n_dim = F.size(qvec).cast("double")
    nm2 = (
        n_dim * v_min * v_min
        + F.lit(2.0) * v_min * v_scale * F.col("q_sum")
        + v_scale * v_scale * F.col("qsq")
    )
    return (
        approx_dot
        / F.when(nm2 > 0, F.sqrt(nm2)).otherwise(F.lit(1.0))
        / F.when(q_norm > 0, q_norm).otherwise(F.lit(1.0))
    )


def _vec_sum(vec):
    """sum(query), the query-side term of the coarse scan's dot."""
    return F.aggregate(vec, F.lit(0.0), lambda a, x: a + x)


def dequantize_embeddings(
    df: SDF, id_col: str = "vec_id", out_col: str = "embedding"
) -> SDF:
    """Inverse of :func:`quantize_embeddings`:
    ``x ~ v_min + q * v_scale`` (zero-shuffle projection)."""
    rec = F.transform(
        F.col("qvec"),
        lambda q: F.col("v_min") + q.cast("double") * F.col("v_scale"),
    )
    return df.select(id_col, rec.alias(out_col))


def _cent_table(centroids: SDF, cell_col: str, cent_col: str) -> SDF:
    """The broadcast centroid table every cell-scoring step joins:
    (__cell__, __cv__ centroid, __cn__ its norm) — n_cells rows of dim
    floats shipped to every executor."""
    return F.broadcast(
        centroids.select(
            F.col(cell_col).alias("__cell__"),
            F.col(cent_col).alias("__cv__"),
            _norm(F.col(cent_col)).alias("__cn__"),
        )
    )


def _cell_scores(
    side: SDF, cents: SDF, sid: str, vec: str, norm: str, carry, sim: str
) -> SDF:
    """``side`` x every cell of ``cents``: (sid, *carry, __cell__, sim),
    ``sim`` the cosine of column ``vec`` (norm ``norm``) to the cell's
    centroid."""
    return side.crossJoin(cents).select(
        sid,
        *carry,
        "__cell__",
        _cosine_from(
            _dot(F.col(vec), F.col("__cv__")), F.col(norm), F.col("__cn__")
        ).alias(sim),
    )


def _best_cell(
    side: SDF, cents: SDF, sid: str, vec: str, norm: str, carry
) -> SDF:
    """Each row's argmax-cosine cell, ties to the lower cell id:
    (sid, *carry, cell). One HashAggregate of max(struct(sim, -cell)),
    map-side combined, so the shuffle carries one partial struct per
    row, NOT the n_cells-expanded rows."""
    return (
        _cell_scores(side, cents, sid, vec, norm, carry, "__sim__")
        .groupBy(sid)
        .agg(
            F.max(
                F.struct(
                    F.col("__sim__"), (-F.col("__cell__")).alias("__nc__")
                )
            ).alias("__m__"),
            *[F.first(c).alias(c) for c in carry],
        )
        .select(sid, *carry, (-F.col("__m__.__nc__")).alias("cell"))
    )


def _probe_cells(
    side: SDF, cents: SDF, sid: str, vec: str, norm: str, n_probe: int
) -> SDF:
    """Each row's ``n_probe`` best cells under a bounded window, ties to
    the lower cell id: (sid, vec, norm, cell), one row per probe."""
    scored = _cell_scores(side, cents, sid, vec, norm, [vec, norm], "__psim__")
    return _top_n(
        scored,
        sid,
        [F.col("__psim__").desc(), F.col("__cell__").asc()],
        n_probe,
        "__r__",
    ).select(sid, vec, norm, F.col("__cell__").alias("cell"))


def ivf_topk_df(
    corpus: SDF,
    queries: SDF,
    centroids: SDF,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    cent_col: str = "centroid",
) -> SDF:
    """IVF top-k with a centroid TABLE instead of centroid literals —
    the path past a few thousand cells, where `ivf_topk`'s per-cell
    expression list stops being practical (generated code grows with
    n_cells). ``centroids`` is ``(cell int, centroid array<float>)``,
    e.g. ``kmeans(corpus)`` output enumerated, or any trained index.

    Scale design: assignment scores corpus x broadcast(centroids) —
    n_cells rows of dim floats broadcast to every executor — and
    reduces to one cell per vector with a ``max_by`` HashAggregate
    (map-side combine: the shuffle carries one partial struct per
    vector, NOT the n_cells-expanded rows). Query probes take the
    ``n_probe`` best cells per query with a bounded window over the
    (tiny) query side. The probe join + exact scoring + top-k window
    are identical to :func:`ivf_topk`, so n_probe == n_cells again
    degrades to exact brute force."""
    cents = _cent_table(centroids, cell_col, cent_col)
    c = _best_cell(
        _corpus_side(corpus, id_col, vec_col),
        cents, "match_id", "c_vec", "c_norm", ["c_vec", "c_norm"],
    )
    q_probes = F.broadcast(
        _probe_cells(
            _query_side(queries, id_col, vec_col),
            cents, "query_id", "q_vec", "q_norm", n_probe,
        )
    )
    return _topk_rows(_non_self(c.join(q_probes, "cell"), _pair_cosine()), k)


def _rerank(
    coarse: SDF,
    corpus: SDF,
    q: SDF,
    k: int,
    candidates: int,
    id_col: str,
    vec_col: str,
) -> SDF:
    """Exact verification of candidates only: per query the
    top-``candidates`` of ``coarse``'s (query_id, match_id,
    approx_cosine) rows, joined by id to the full-precision ``corpus``
    and to the broadcast query side ``q`` (query_id, q_vec, q_norm),
    re-scored with the exact cosine, then the top-k tail. The join
    reads |queries| x candidates rows — noise at corpus scale."""
    cand = _top_n(
        coarse,
        "query_id",
        [F.col("approx_cosine").desc(), F.col("match_id").asc()],
        candidates,
    ).select("query_id", "match_id")
    rescored = (
        cand.join(_corpus_side(corpus, id_col, vec_col), "match_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "match_id", _pair_cosine())
    )
    return _topk_rows(rescored, k)


def quantized_rerank_topk(
    corpus: SDF,
    queries: SDF,
    k: int = 5,
    candidates: int = 50,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> SDF:
    """Two-stage ANN: int-quantized coarse scan + full-precision
    re-rank — the q123 `quantize_embeddings` machinery used as a
    retrieval path, not only a storage stat.

    Stage 1 scans the WHOLE corpus in its ``bits``-bit quantized form:
    per-vector affine codes (4x fewer bytes than float32 at 8 bits, 8x
    vs the float64 parquet) are dequantized on the fly inside one JVM
    fold — ``cos_q = (v_min * sum(q) + scale * <q_codes, query>) /
    norms`` never materializes a float vector — and the per-query
    top-``candidates`` survive a bounded window. Stage 2 (`_rerank`)
    re-scores ONLY those candidates against the full-precision vectors
    and emits the exact-cosine top-k.

    Budget accounting vs probe-based ANN: at 8 bits the full
    quantized scan reads the SAME bytes as float32-probing 25% of the
    cells — the trained-IVF operating point — but sees EVERY vector,
    so recall is bounded by int8 ranking fidelity (top-k must land in
    the quantized top-``candidates``), not by which cells the true
    neighbors fell into. Measured on the weak-neighbor sf1 corpus:
    recall@10 = 1.00 at 50 candidates vs trained-IVF 0.89 at the same
    byte budget (CHANGES.md's "pin gate and nothing else" entry keeps
    the retired recall tier's values). No training, no seed
    sensitivity, no skew: the scan is
    embarrassingly parallel and the only shuffle is the bounded
    top-candidates window.

    Cost ceiling: the coarse stage is linear in corpus x queries —
    C = N * Q * dim interpreted-fold element products. Past
    ``QUANTIZED_SCAN_NQD_CEILING`` (module constant + tuning.py
    registry row: ~1 core-hour per 1000 cores) switch to
    :func:`ivf_quantized_topk`, which probes trained IVF cells and
    int8-scans ONLY those — sublinear at the same re-rank quality."""
    q = _query_side(queries, id_col, vec_col, double=True)
    q_sum, qsq = _code_stats(F.col("qvec"))
    # sum(codes) and sum(codes^2) once per corpus vector; <codes, query>
    # per (vector, query) pair inside the fold — no dequantized array
    # materializes
    c = quantize_embeddings(corpus, vec_col, id_col, bits=bits).select(
        F.col(id_col).alias("match_id"),
        "qvec",
        "v_min",
        "v_scale",
        q_sum.alias("q_sum"),
        qsq.alias("qsq"),
    )
    approx = _int8_approx_cosine(_vec_sum(F.col("q_vec")))
    coarse = _non_self(
        c.crossJoin(F.broadcast(q)), approx.alias("approx_cosine")
    )
    return _rerank(coarse, corpus, q, k, candidates, id_col, vec_col)


def assign_quantized_cells(
    corpus: SDF,
    centroids: SDF,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    cent_col: str = "centroid",
) -> SDF:
    """The quantized-index BUILD — stage 1 of :func:`ivf_quantized_topk`
    and the frame :func:`operators.annindex.ann_index_publish` persists:
    per corpus vector, affine int codes (`_affine_codes`) plus its
    argmax-cosine cell against the broadcast centroid table
    (`_best_cell`: the shuffle carries one struct of codes + 2 doubles
    per vector, ties to the LOWER cell id), with the coarse-scan stats
    (q_sum, qsq) projected on top. Output:
    ``(id, qvec, v_min, v_scale, cell, q_sum, qsq)``."""
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = corpus.select(F.col(id_col), dv.alias("__v__"))
    mn, scale, codes = _affine_codes(F.col("__v__"), bits)
    coded = base.select(
        id_col,
        "__v__",
        _norm(F.col("__v__")).alias("__n__"),
        codes.alias("qvec"),
        mn.alias("v_min"),
        scale.alias("v_scale"),
    )
    cols = ["qvec", "v_min", "v_scale"]
    q_sum, qsq = _code_stats(F.col("qvec"))
    return _best_cell(
        coded, _cent_table(centroids, cell_col, cent_col),
        id_col, "__v__", "__n__", cols,
    ).select(id_col, *cols, "cell", q_sum.alias("q_sum"), qsq.alias("qsq"))


def _int8_probe(
    codes: SDF,
    centroids: SDF,
    queries: SDF,
    corpus: SDF,
    k: int,
    n_probe: int,
    candidates: int,
    id_col: str,
    vec_col: str,
    cell_col: str = "cell",
    cent_col: str = "centroid",
) -> SDF:
    """Stages 2-4 of :func:`ivf_quantized_topk` over a stage-1 code
    frame ``codes`` — (match_id, qvec, v_min, v_scale, cell, q_sum,
    qsq), built in-plan or read from a standing index: the tiny query
    side takes its ``n_probe`` best cells and broadcasts, the probed
    cells' codes score against their queries under the expanded
    dequantized-norm algebra, and `_rerank` verifies the per-query
    top-``candidates`` exactly."""
    q = _query_side(queries, id_col, vec_col, double=True)
    probes = F.broadcast(
        _probe_cells(
            q, _cent_table(centroids, cell_col, cent_col),
            "query_id", "q_vec", "q_norm", n_probe,
        ).withColumn("qsum_dot", _vec_sum(F.col("q_vec")))
    )
    approx = _int8_approx_cosine(F.col("qsum_dot"))
    coarse = _non_self(
        codes.join(probes, "cell"), approx.alias("approx_cosine")
    )
    return _rerank(coarse, corpus, q, k, candidates, id_col, vec_col)


def ivf_quantized_topk(
    corpus: SDF,
    queries: SDF,
    centroids: SDF,
    k: int = 5,
    n_probe: int = 2,
    candidates: int = 50,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    cent_col: str = "centroid",
) -> SDF:
    """Sublinear high-recall ANN: trained-IVF cell probing x int8
    coarse scan x exact re-rank — the composition of
    :func:`ivf_topk_df` (which probes 25% of cells for 0.89 recall)
    and :func:`quantized_rerank_topk` (which scans 100% of int8 codes
    for 1.00 recall). Probing IVF cells bounds WHICH codes are read;
    quantization bounds the BYTES per code; the exact re-rank restores
    full-precision ranking over the surviving candidates. Effective
    byte budget vs a float32 full scan:
    ``(n_probe / n_cells) * (bits / 32)`` — e.g. 2/8 cells at 8 bits
    reads 6.25% of the full-scan bytes; recall is bounded by cell
    luck ONLY for neighbors outside the probed cells (the int8 stage
    does not lose in-cell neighbors: the full int8 scan measured
    recall 1.00).

    Stage shapes (all bounded): (1) index build —
    :func:`assign_quantized_cells`, one shuffle of |corpus| rows of dim
    int8-codes + 2 doubles; at 100 TB this is the index you persist
    once and read forever (:mod:`operators.annindex`); (2) probe — the
    tiny query side takes its ``n_probe`` best cells under a bounded
    window and BROADCASTS; (3) coarse — probed cells' codes score
    against their queries via the same expanded dequantized-norm
    algebra as :func:`quantized_rerank_topk` (no float vector
    materializes), and the per-query top-``candidates`` survive a
    bounded window; (4) re-rank — an id-keyed join of |queries| x
    candidates rows against the full-precision vectors. Stages 2-4 are
    the one probe the standing index runs too. A corpus vector lives
    in exactly ONE cell, so no candidate pair duplicates across probes.

    Reference owes nothing here (torcharrow has no ANN surface); the
    bar is this repo's own recall ladder — recall 0.95 at 9.96%
    effective bytes on the sf1 weak-neighbor corpus (512 trained
    cells, 204 probes; CHANGES.md's "pin gate and nothing else" entry
    keeps the retired recall tier's values), the sf0.01 floors in
    tests/test_operators.py, and tuning.py's ``quantized_rerank_topk``
    N*Q ceiling, past which callers must switch to THIS composition."""
    c = assign_quantized_cells(
        corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col)),
        centroids, bits, "match_id", vec_col, cell_col, cent_col,
    )
    return _int8_probe(
        c, centroids, queries, corpus, k, n_probe, candidates,
        id_col, vec_col, cell_col, cent_col,
    )
