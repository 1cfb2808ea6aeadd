"""Distributed k-means (Lloyd's algorithm) over an array-typed feature
column — the centroid trainer behind IVF-style ANN partitioning and a
building block for embedding-space corpus curation (topic balancing,
cluster-stratified sampling) in training-data pipelines.

100 TB design:
- Assignment is a per-row argmin against k broadcast centroid LITERALS —
  zero shuffle, whole-stage codegen, no UDF.
- The centroid update is ONE HashAggregate of k groups x dim columns with
  map-side partial aggregation: each executor contributes k x dim partial
  sums (bytes), so shuffle volume is independent of row count.
- Per-iteration cost is one scan; `cache=True` persists the projected
  (id, vector) frame so iterations 2..n read executor-local blocks.
- Centroid sums use DECIMAL(38,12): exact and order-independent, so the
  fitted centroids are bit-deterministic regardless of partitioning,
  cluster size, or AQE decisions — the same property the exact-money
  aggregates rely on (queries.py float-determinism policy). A float sum
  would make the fit depend on reduce order.
- Initialization takes the k rows with the smallest md5(id) — a
  deterministic, engine-independent pseudo-random sample (same device as
  operators/preprocess.split_column), collected as k x dim floats.

Empty clusters keep their previous centroid (standard Lloyd's fallback).
"""

from __future__ import annotations

import typing as _ty

from pyspark.sql import DataFrame as SDF
from pyspark.sql import functions as F

from .similarity import _infer_dim

__all__ = ["kmeans", "kmeans_assign"]


def _dsql(v: float) -> str:
    """Exact SQL text for a Python float: repr() is the shortest
    round-tripping decimal and Spark's string->double cast is
    correctly rounded, so the parsed literal is the identical IEEE
    double; ConstantFolding collapses the cast before planning."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _qid(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sq_dists(vec_col: str, cents: _ty.List[_ty.List[float]]):
    """Array of (squared-L2-distance, cluster-index) structs, one per
    centroid; array_min picks nearest with index tie-break.

    Built as ONE ``F.expr`` over generated SQL text rather than k x dim
    Column-API literal calls: ``F.lit(list)`` decomposes into one py4j
    round trip per element, which costs ~2 s per construction at
    8 x 64 dims — pure driver-side Python, re-paid on every Lloyd
    iteration (guide §5.4 driver-side work). The parsed expression tree
    (zip_with/aggregate fold, cast placement, tie-break struct order)
    is identical to the Column-API form, so results are bit-identical
    (pinned by test_kmeans_sql_expr_matches_column_api)."""
    vec = _qid(vec_col)
    parts = []
    for idx, c in enumerate(cents):
        arr = "array(" + ",".join(_dsql(x) for x in c) + ")"
        d = (
            f"aggregate(zip_with({vec}, {arr}, "
            "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            "CAST('0.0' AS DOUBLE), (acc, v) -> acc + v)"
        )
        parts.append(f"struct({d} AS d, {idx} AS c)")
    return F.expr("array(" + ",".join(parts) + ")")


def kmeans_assign(
    df: SDF,
    centroids: _ty.List[_ty.List[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> SDF:
    """Nearest-centroid assignment (argmin squared L2, ties to the lower
    cluster index). Zero-shuffle narrow projection."""
    return df.select(
        F.col(id_col),
        F.array_min(_sq_dists(vec_col, centroids))["c"].alias("cluster"),
    )


def _init_centroids(df: SDF, k: int, id_col: str, vec_col: str):
    rows = (
        df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.col("i").cast("string")), F.col("i"))
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r["v"]] for r in rows]


def _init_centroids_pp(df: SDF, k: int, id_col: str, vec_col: str,
                       rounds: int = 4):
    """Deterministic kmeans++-style D^2 seeding (r6, r5 verdict ask
    #5): seeds are drawn with probability proportional to squared
    distance from the chosen set — the standard init that stops two
    seeds landing in one dense blob — but the "randomness" is the md5
    priority device the engine uses everywhere, so the fit stays
    bit-reproducible across engines and partitionings.

    Mechanics: each point carries a fixed deterministic uniform
    u = (md5(id) 60-bit prefix + 1) / 2^60; a weighted draw by weight
    w picks argmax u^(1/w), i.e. argmax ln(u)/w (Efraimidis-Spirakis
    weighted sampling, public) — evaluated as ONE TakeOrderedAndProject
    per round, never a driver-side scan. Points at distance 0 from the
    chosen set (exact duplicates of a seed) get -inf keys and can never
    be re-picked. Batching ~(k-1)/rounds picks per round trades a
    little seeding quality (in-round picks don't repel each other) for
    a 4-scan cost — the k-means|| oversampling idea (Bahmani et al.,
    public) at its cheapest."""
    first = (
        df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.col("i").cast("string")), F.col("i"))
        .limit(1)
        .collect()
    )
    cents = [[float(x) for x in first[0]["v"]]]
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
        ).cast("double")
        + 1.0
    ) / float(1 << 60)
    per_round = max(1, -(-(k - 1) // rounds))
    while len(cents) < k:
        take = min(per_round, k - len(cents))
        d2 = F.array_min(_sq_dists(vec_col, cents))["d"]
        key = F.when(d2 > 0, F.log(u) / d2).otherwise(
            F.lit(float("-inf"))
        )
        rows = (
            df.select(F.col(id_col), F.col(vec_col), key.alias("__key__"))
            .orderBy(F.col("__key__").desc(), F.col(id_col))
            .limit(take)
            .collect()
        )
        got = 0
        for r in rows:
            v = [float(x) for x in r[vec_col]]
            if v not in cents:  # k x dim driver-side check, bytes
                cents.append(v)
                got += 1
        if got == 0:  # fewer distinct points than k: stop early
            break
    return cents


def kmeans(
    df: SDF,
    k: int = 8,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache: bool = True,
    init: str = "md5",
) -> _ty.Tuple[SDF, _ty.List[_ty.List[float]]]:
    """Fit k-means and return ``(assignments, centroids)`` where
    assignments is a DataFrame ``[id_col, cluster:int]`` under the FINAL
    centroids. ``max_iter`` update steps are performed; each is one scan
    plus a k x dim aggregate. Centroids are plain Python floats (k x dim
    — bytes on the driver, never data).

    ``init='md5'`` (default) seeds from the k md5-smallest ids — the
    cheapest deterministic sample, and the form external SQL oracles
    replay (q67/q138). ``init='kmeans++'`` seeds by deterministic D^2
    weighting (`_init_centroids_pp`) — better-spread seeds, fewer
    Lloyd steps to a good fit, the standard recall lever for trained
    IVF cells; costs ~4 extra scans and stays bit-deterministic."""
    dim = _infer_dim(df, vec_col)
    feat = df.select(F.col(id_col), F.col(vec_col))
    if cache:
        feat = feat.persist()
    try:
        if init == "kmeans++":
            cents = _init_centroids_pp(feat, k, id_col, vec_col)
        elif init == "md5":
            cents = _init_centroids(feat, k, id_col, vec_col)
        else:
            raise ValueError(f"unknown init {init!r} (md5 | kmeans++)")
        # r13 (guide §5.4, measured decomposition in
        # `git show 5f1e4e3:OPTIMIZATION_r13.md`):
        # the per-iteration wall was dominated by DRIVER-side
        # construction of the 64 per-dim Column-API agg expressions
        # (~0.6 s/iteration of py4j round trips at dim=64 — the same
        # cost class r12's _sq_dists SQL-text change removed from the
        # assignment side), not by centroid-literal re-analysis: an
        # interleaved A/B of this literal form against a
        # broadcast-data + transform() constant-shape form measured
        # 3.27 vs 3.38 s/iteration (bit-identical updates), so the
        # join-based form was REJECTED and the agg build is collapsed
        # to TWO F.expr calls instead — one count, one array() of the
        # identical per-dim decimal sums (element i == the old s{i}
        # column exactly; pinned by
        # test_kmeans_array_agg_matches_column_api).
        vec = _qid(vec_col)
        sums_sql = (
            "array("
            + ",".join(
                f"sum(cast({vec}[{i}] as decimal(38,12)))"
                for i in range(dim)
            )
            + ") AS s"
        )
        for _ in range(max_iter):
            asg = feat.select(
                F.col(vec_col),
                F.array_min(_sq_dists(vec_col, cents))["c"].alias("cluster"),
            )
            upd = asg.groupBy("cluster").agg(
                F.expr("count(*) AS n"), F.expr(sums_sql)
            )
            cents = list(cents)
            for r in upd.collect():
                cents[r["cluster"]] = [
                    float(r["s"][i]) / r["n"] for i in range(dim)
                ]
        return kmeans_assign(feat, cents, id_col, vec_col), cents
    finally:
        if cache:
            feat.unpersist()
