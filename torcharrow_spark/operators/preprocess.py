"""Frame-level ML preprocessing at cluster scale.

`functional.scale_to_0_1` / `scale_to_z_score` (reference
functional.py:568-596) are column-level and use a whole-frame window —
fine single-node, a single-partition bottleneck on a cluster. These
variants compute the frame statistics with one aggregate (exact decimal
sums → deterministic doubles) and broadcast the 1-row result back, so
scaling stays embarrassingly parallel.
"""

from __future__ import annotations

import typing as _ty

from pyspark.sql import DataFrame as SDF
from pyspark.sql import Window
from pyspark.sql import functions as F

from torcharrow_spark.memo import memo

#: monotonically unique suffix for pushdown_barrier metric names (the
#: analyzer requires observed-metrics names to be unique per query
#: unless the subtrees are identical, which reused DataFrames are).
import itertools as _itertools

_BARRIER_IDS = _itertools.count()


def pushdown_barrier(df: SDF) -> SDF:
    """Stop Catalyst from pushing consumer FILTERS below this point
    (r13, measured on q129): a deterministic predicate sinks through
    Project (by alias substitution) and through RepartitionOperation,
    so ``spread_narrow_source(df) -> heavy projection -> caller's
    .where(signal)`` collapses back into the narrow FILE SCAN — the
    giant signal expression then runs in the scan's single task and
    the spread exchange above it spreads the already-filtered rows
    (measured: the q129 Gopher gate at 1.86 s single-threaded vs
    0.35 s behind this barrier at sf0.1, identical rows).

    The barrier is a ``CollectMetrics`` node (``df.observe``) with one
    ``count(1)`` metric: observed metrics must reflect exactly the
    rows that pass through the node, so predicate pushdown through it
    is forbidden BY DESIGN (it is not in PushPredicateThroughNonJoin's
    ``canPushThrough`` set) — a supported, documented optimizer fence,
    zero extra exchange, no row or schema change. The metric itself is
    never read.

    Use it ONLY above a fired spread (small-bytes, compute-heavy
    source): on a healthy multi-split layout, pushing cheap predicates
    into the scan is exactly what row-group skipping wants."""
    return df.observe(
        f"__ta_barrier_{next(_BARRIER_IDS)}__", F.count(F.lit(1)).alias("n")
    )


def spread_narrow_source(df: SDF) -> SDF:
    """Widen a NARROW file-backed plan before compute-heavy per-row
    work (r7). A parquet scan parallelizes at best one task per row
    group, so a single-file/single-row-group source (a vendor's
    one-file dump, a small-SF bench table) runs everything fused into
    the scan — shingling, hashing, decode — in ONE task while the rest
    of the cluster idles: measured at sf0.1 (one row group), widening
    cut minhash 48%, simhash 41%, span-stripping 56% wall.

    The widening is ADAPTIVE, keyed on what the plan already shows:
    a no-op unless the df is (a) still scan-shaped and file-backed
    (a FileScan leaf and no Exchange in the pre-AQE physical plan —
    a post-shuffle df is already spread; ``sparkPlan`` is
    planning-only, safe to inspect, never executes), and (b) narrow
    in its ACTUAL planned scan splits — ``df.rdd.getNumPartitions()``,
    which counts row-group/maxPartitionBytes splits, not files, so a
    healthy 100 GB single file with ~800 row groups is correctly left
    alone (r7 review: a file-count test would have exchanged all
    100 GB to save nothing) and a million-file organic table never
    materializes its path list on the driver. Narrow = the scan uses
    at most half the cluster's parallelism; the widening fires down
    to 2-core clusters. When it fires it pays one exchange of the
    source's bytes — exactly the trade a single-row-group vendor dump
    wants, and invisible at any healthy layout. The spread exchange
    is pinned by its own test as a ROUND-ROBIN repartition — never a
    key-ed shuffle, so no skew and no text ever rides a partitioning
    KEY.

    Exchange matching (r8): "already spread" means a SHUFFLE
    exchange — ``Exchange hashpartitioning/rangepartitioning/
    RoundRobinPartitioning/SinglePartition`` — not the bare substring
    "Exchange", which also matched ``BroadcastExchange``. Plans whose
    only exchange IS a broadcast (a broadcast-joined filter over a
    still-narrow probe scan) are INTENTIONALLY left unspread, now as a
    documented decision rather than a substring accident: probing
    their split count (`df.rdd`) would fire the broadcast-side job at
    PLANNING time — a side effect this helper's no-op guarantee
    forbids — and none of this engine's heavy per-row operators put
    compute after a broadcast join without an aggregation (which
    spreads on its own shuffle) in between. An operator that does can
    repartition explicitly before the heavy projection."""
    import re

    try:
        plan = df._jdf.queryExecution().sparkPlan().toString()
    except Exception:
        return df
    shuffle_exchange = re.search(
        r"Exchange (hashpartitioning|rangepartitioning"
        r"|RoundRobinPartitioning|SinglePartition)",
        plan,
    )
    if (
        shuffle_exchange
        or "BroadcastExchange" in plan  # documented skip, see docstring
        or not ("FileScan" in plan or "BatchScan" in plan)
    ):
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    # r13 (guide §5.4): the split-count probe below costs ~0.45 s of
    # DRIVER time per call (df.rdd materializes the full physical plan
    # and its partition packing), paid by every text_stats/dedup build
    # inside the bench's timed region. The decision is a pure function
    # of (plan shape, file layout, parallelism), so it is memoized
    # keyed on the expr-id-normalized plan string and the identity of
    # the scanned files (`memo`): an overwritten source decides again.
    # Metadata only (a bool per plan shape); no rows are cached.
    # The probe is NOT job-free: ``sparkPlan`` does not yet hold the
    # exchanges EnsureRequirements adds, and under AQE ``df.rdd``
    # executes those shuffle stages, so a miss can run Spark jobs while
    # the query is being built.
    try:
        spread = memo(
            ("spread", par, re.sub(r"#\d+", "#x", plan)),
            lambda: df.rdd.getNumPartitions() * 2 <= par,
            session=df.sparkSession,
            paths=df.inputFiles(),
        )
    except Exception:
        return df
    return df.repartition(par) if spread else df


def lineage_cut(df: SDF, eager: bool = False) -> SDF:
    """Truncate ``df``'s lineage so downstream consumers re-read a
    materialized block instead of re-executing the upstream plan (the
    guide's §5 recompute-vs-store lever; every checkpoint in this
    engine routes through here, so one place decides how a cut is
    stored).

    Two storage modes, selected by whether the context has a
    checkpoint directory:

    * Default — ``localCheckpoint``: blocks live on the executors that
      computed them, zero extra I/O, but NON-REPLICATED with truncated
      lineage, so on a real cluster an executor loss (preemption,
      dynamic deallocation, OOM-kill) makes the job unrecoverable.
      The right local-mode trade: a local[] session has exactly one
      "executor", whose loss kills the app anyway.
    * Reliable — ``checkpoint``: when the session has a checkpoint
      directory configured (``sparkContext.setCheckpointDir(...)`` or
      ``spark.checkpoint.dir`` at launch), blocks are written to that
      (typically fault-tolerant, e.g. HDFS/object-store) directory and
      survive executor loss. At the 100 TB design point this is the
      availability-correct mode; it costs one write+read of the cut
      frame through the checkpoint store.

    ``eager=False`` defers materialization to the first action (the
    cut frame is usually consumed immediately and possibly under a
    different job description); iterative algorithms that measure
    per-round progress pass ``eager=True``. Neither form is job-free at
    call time: under AQE the cut plans its RDD, which runs every
    upstream shuffle stage while the query is being built.
    """
    try:
        jsc = df.sparkSession.sparkContext._jsc
        has_dir = jsc.sc().getCheckpointDir().isDefined()
    except Exception:
        has_dir = False
    if has_dir:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


#: r9: per-map-task POST-AMPLIFICATION row budget. A scan fused with a
#: row-amplifying generator (the shingle explode) multiplies rows
#: BEFORE the first exchange, invisible to Spark's byte-based split
#: sizing — at the retired sf40 evidence tier (32 cores), default
#: 128 MB splits packed a 2M-doc corpus into ~32 map tasks whose fused
#: explode produced ~33M rows EACH, and the shuffle writers' map-side
#: sorts spilled 3.3 GB to disk. On a 4-core local[4] session, a 36 MB
#: one-file corpus (1 MiB row groups) planned 4 splits: q21's auto
#: jaccard spilled 1.46 GB without the cap and nothing with it, at
#: equal rows (CHANGES.md). 2^21 rows/task reproduces the sf40 fix: with
#: the shingle density below, the cap lands on exactly the 4 MB split
#: width that was hand-measured to cut that spill 88% at bit-identical
#: shuffle bytes. Sized for sort-buffer comfort (2M rows x ~50 B
#: record+pointer ≈ 100 MB per task), not wall time.
AMPLIFIED_SORT_ROWS_BUDGET = 1 << 21

#: Post-explode rows per COMPRESSED input byte for word-shingle
#: generators: ~one shingle row per word, a word is ~6 bytes of
#: uncompressed text, parquet text compresses ~3x — so ~0.5 rows per
#: stored byte, independent of document length (docs/split and
#: shingles/doc cancel). Deliberately a density, not a per-doc fanout:
#: it makes the cap computable from the operator's own semantics with
#: ZERO plan-time jobs (mode='auto' jaccard stays job-free).
SHINGLE_ROWS_PER_INPUT_BYTE = 0.5


def _bare_scan_parquet_paths(df: SDF):
    """Root paths IF df's analyzed plan is exactly a parquet file scan,
    optionally under SubqueryAlias / attribute-only Project nodes (the
    shapes where a re-read + column re-select is semantically
    identical). None for anything else — a Filter, a computed
    projection, a join: re-reading would silently drop them, so the
    caller must no-op instead."""
    try:
        node = df._jdf.queryExecution().analyzed()
        while True:
            cls = node.getClass().getSimpleName()
            if cls == "SubqueryAlias":
                node = node.child()
            elif cls == "Project":
                pl = node.projectList()
                for i in range(pl.size()):
                    if (
                        pl.apply(i).getClass().getSimpleName()
                        != "AttributeReference"
                    ):
                        return None
                node = node.child()
            elif cls.startswith("LogicalRelation"):
                rel = node.relation()
                if rel.getClass().getSimpleName() != "HadoopFsRelation":
                    return None
                if "Parquet" not in rel.fileFormat().getClass().getSimpleName():
                    return None
                loc = rel.location()
                paths = loc.rootPaths()
                return (
                    [str(paths.apply(j)) for j in range(paths.size())],
                    int(loc.sizeInBytes()),
                )
            else:
                return None
    except Exception:
        return None


def _scan_session(parent, max_partition_bytes: int):
    """A conf-scoped CHILD SparkSession (same SparkContext, isolated
    SQLConf) that differs from the parent in exactly two confs sized
    for the amplified regime. Split planning reads the conf of the
    session that CREATED the file relation (measured — a per-read
    option is ignored and rebinding a plan to another session does not
    re-plan its splits), so a scan created here carries the sizing for
    its whole life while the parent session's conf is never touched:

    * ``spark.sql.files.maxPartitionBytes`` = the cap — bounds the
      MAP side (the fused explode's per-task sort);
    * ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` = 4x the cap
      — bounds the REDUCE side: AQE coalesces every post-shuffle stage
      of a query built over this scan toward this many bytes per task,
      and the amplified family's reduce stages carry wide array
      payloads (sorted shingle-hash arrays) whose in-memory rows run
      ~6-8x their shuffle bytes. Measured at the sf40 evidence tier
      (r9): the scan cap alone left 1.18 GB of disk spill in ONE
      35-task reduce stage coalesced to 64 MB targets; 16 MB targets
      drive disk spill to ZERO at identical rows, +1.3% shuffle bytes
      (pure partition framing). On a real cluster the same targets
      just mean proportionally more reduce tasks — the provisioning
      direction that holds at 100 TB.

    Cached per (parent, cap) — sessions are cheap but not free.
    Runtime confs (session timezone, shuffle width, AQE, ANSI) are
    cloned from the parent so the child plans identically in every
    other respect."""
    cache = getattr(parent, "_torcharrow_scan_sessions", None)
    if cache is None:
        cache = {}
        parent._torcharrow_scan_sessions = cache
    child = cache.get(max_partition_bytes)
    if child is None:
        child = parent.newSession()
        cache[max_partition_bytes] = child
    # refresh runtime confs on EVERY call (not just creation): a parent
    # conf changed after the child was cached (a user retuning shuffle
    # width) must be seen by plans built through the child; driver-only,
    # ~ms
    for row in parent.sql("SET").collect():
        try:
            child.conf.set(row["key"], row["value"])
        except Exception:
            pass  # static / non-settable conf
    child.conf.set(
        "spark.sql.files.maxPartitionBytes", str(max_partition_bytes)
    )
    child.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        str(max_partition_bytes * 4),
    )
    return child


_BYTE_SUFFIX = {
    "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
}


def _parse_bytes_conf(value: str) -> int:
    """Spark byte-size conf strings: '134217728b', '4m', '1g', '128'."""
    v = value.strip().lower()
    for suf in sorted(_BYTE_SUFFIX, key=len, reverse=True):
        if v.endswith(suf):
            return int(float(v[: -len(suf)])) * _BYTE_SUFFIX[suf]
    return int(v)


def cap_amplified_scan(
    df: SDF,
    rows_per_input_byte: float = SHINGLE_ROWS_PER_INPUT_BYTE,
    rows_budget: int | None = None,
) -> SDF:
    """Amplification-aware scan-split sizing (r9 — default engine
    behavior, previously a hand-set `tuning.py` conf).

    Spark sizes scan splits by INPUT bytes, but an operator that fuses
    a row-amplifying generator into the scan (shingle explode before
    the first exchange) multiplies the rows each map task must sort
    for its shuffle write — at 128 MB splits over a large-file corpus
    that is tens of millions of post-explode rows per task, and the
    map-side sorts spill to disk (see AMPLIFIED_SORT_ROWS_BUDGET for
    the runs). The amplifying OPERATOR knows its own fanout, so
    it calls this at its scan boundary: if ``df`` is a bare parquet
    scan whose effective split bytes would exceed
    ``rows_budget / rows_per_input_byte``, the SAME source is re-read
    through a conf-scoped child session (`_scan_session`) that caps
    ``spark.sql.files.maxPartitionBytes`` — more, narrower map tasks;
    ZERO new exchanges, bit-identical shuffle bytes, no plan-time
    jobs, and the user's session conf untouched.

    No-ops (each deliberate):
    * plans that are not a bare parquet scan (+ attribute projections)
      — a re-read cannot reproduce filters/joins, and post-exchange
      plans are already task-parallel at shuffle width;
    * effective split bytes already at/below the cap (every bench-SF
      table — the cap only binds on corpora with >= tens of MB per
      planned split, so small-scale plans and their byte anchors are
      untouched);
    * the session conf already set at/below the cap (the operator
      respects a stricter manual setting).
    """
    spark = df.sparkSession
    try:
        budget = (
            rows_budget if rows_budget is not None
            else AMPLIFIED_SORT_ROWS_BUDGET
        )
        cap = max(1 << 20, int(budget / max(rows_per_input_byte, 1e-9)))
        cap = 1 << (cap.bit_length() - 1)  # pow2 bucket: bounded cache
        conf_max = _parse_bytes_conf(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        if conf_max <= cap:
            return df
        scan = _bare_scan_parquet_paths(df)
        if scan is None:
            return df
        paths, total_bytes = scan
        nparts = df.rdd.getNumPartitions()
        eff_split = total_bytes / max(nparts, 1)
        if eff_split <= cap * 1.25:
            return df
        capped = _scan_session(spark, cap).read.parquet(*paths)
        if set(df.columns) - set(capped.columns):
            return df  # unexpected layout drift — keep the original
        capped = capped.select(*df.columns)
        if capped.schema != df.schema:
            return df
        return capped
    except Exception:
        return df


def scaled_frame(
    df: SDF,
    columns: _ty.List[str],
    method: str = "z",
    decimals: int = 2,
) -> SDF:
    """Append `{col}_scaled` for each column. method='z': (x-mean)/std_pop;
    method='minmax': (x-min)/(max-min). Mean/std derive from exact
    DECIMAL sums, so results are identical under any partitioning."""
    aggs = []
    for c in columns:
        # 18 digits: dec*dec stays within the 38-digit cap on every engine
        dec = F.col(c).cast(f"decimal(18,{decimals})")
        aggs += [
            F.count(F.col(c)).alias(f"__n_{c}"),
            F.sum(dec).cast("double").alias(f"__s_{c}"),
            F.sum(dec * dec).cast("double").alias(f"__q_{c}"),
            F.min(F.col(c)).cast("double").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("double").alias(f"__mx_{c}"),
        ]
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    for c in columns:
        n = F.col(f"__n_{c}")
        mean = F.col(f"__s_{c}") / n
        var = F.col(f"__q_{c}") / n - mean * mean
        sd = F.sqrt(var)
        x = F.col(c).cast("double")
        if method == "z":
            scaled = F.when(sd > 0, (x - mean) / sd).otherwise(F.lit(0.0))
        elif method == "minmax":
            rng = F.col(f"__mx_{c}") - F.col(f"__mn_{c}")
            scaled = F.when(rng > 0, (x - F.col(f"__mn_{c}")) / rng).otherwise(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-x))
            )
        else:
            raise ValueError(method)
        out = out.withColumn(f"{c}_scaled", scaled)
    drop = [col for c in columns for col in
            (f"__n_{c}", f"__s_{c}", f"__q_{c}", f"__mn_{c}", f"__mx_{c}")]
    return out.drop(*drop)


def hash_split(
    df: SDF,
    key_col: str,
    fractions: _ty.Sequence[float] = (0.9, 0.1),
    seed: int = 0,
) -> _ty.List[SDF]:
    """Deterministic train/val/test split: a row's bucket is a pure
    function of (seed, key) — the first 48 bits of md5(f"{seed}|{key}")
    as a fraction of 2^48 — so the same row lands in the same split
    under ANY partitioning, cluster size, or engine (df.sample does
    not guarantee that), and an external SQL oracle can reproduce the
    assignment bit-for-bit. Narrow projection + filter per split: no
    shuffle, each output is independently usable. Fractions must sum
    to <= 1; the tail fraction absorbs rounding."""
    if sum(fractions) > 1 + 1e-9:
        raise ValueError("fractions must sum to <= 1")
    frac = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}|"), F.col(key_col).cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("double")
        / float(2 ** 48)
    )
    outs, lo = [], 0.0
    for i, f_i in enumerate(fractions):
        hi = 1.0 if i == len(fractions) - 1 and abs(lo + f_i - 1) < 1e-9 else lo + f_i
        outs.append(df.where((frac >= lo) & (frac < hi)))
        lo = hi
    return outs


def split_column(
    df: SDF,
    key_col: str,
    fractions: _ty.Sequence[float] = (0.9, 0.1),
    seed: int = 0,
    name: str = "split",
) -> SDF:
    """Split label (0..n-1) as a column instead of separate frames —
    same deterministic assignment as hash_split."""
    frac = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}|"), F.col(key_col).cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("double")
        / float(2 ** 48)
    )
    label = F.lit(len(fractions) - 1)
    bounds, lo = [], 0.0
    for f_i in fractions[:-1]:
        lo += f_i
        bounds.append(lo)
    for i in reversed(range(len(bounds))):
        label = F.when(frac < bounds[i], i).otherwise(label)
    return df.withColumn(name, label)


def _key_frac(key_col: str, namespace: str) -> F.Column:
    """Uniform [0,1) value that is a pure function of (namespace, key):
    first 48 bits of md5 over 2^48 — the same engine-independent
    arithmetic as hash_split, but namespaced so sampling decisions are
    independent of split assignments for the same key."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(namespace), F.col(key_col).cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("double")
        / float(2 ** 48)
    )


def hash_sample(df: SDF, fraction: float, key_col: str, seed: int = 0) -> SDF:
    """Deterministic Bernoulli sample: keep a row iff its key hashes
    below ``fraction``.  Unlike ``df.sample`` the decision is a pure
    function of (seed, key) — stable under repartitioning, cluster
    resizing, reruns, and reproducible by an external SQL engine — and
    it is a narrow zero-shuffle filter, so it composes with pushdown
    and costs one projection at any scale."""
    if not 0 <= fraction <= 1:
        raise ValueError("fraction must be in [0, 1]")
    return df.where(_key_frac(key_col, f"sample:{seed}|") < F.lit(float(fraction)))


def stratified_sample(
    df: SDF,
    strata_col: str,
    fractions: _ty.Mapping[_ty.Any, float],
    key_col: str,
    seed: int = 0,
    default_fraction: float = 0.0,
) -> SDF:
    """Per-stratum deterministic sampling (the scalable form of
    ``df.sampleBy``): each stratum value gets its own keep-fraction;
    strata absent from ``fractions`` use ``default_fraction``.  The
    threshold is a broadcast-free CASE ladder over the (small) strata
    map — still a zero-shuffle narrow filter."""
    thr = F.lit(float(default_fraction))
    for value, f_i in sorted(fractions.items(), key=lambda kv: str(kv[0])):
        if not 0 <= f_i <= 1:
            raise ValueError(f"fraction for stratum {value!r} must be in [0, 1]")
        thr = F.when(F.col(strata_col) == F.lit(value), F.lit(float(f_i))).otherwise(thr)
    return df.where(_key_frac(key_col, f"sample:{seed}|") < thr)


def weighted_sample(
    df: SDF, n: int, weight_col: str, key_col: str, seed: int = 0
) -> SDF:
    """Weighted sampling WITHOUT replacement of ``n`` rows — the
    Efraimidis–Spirakis A-ES scheme: each row draws u ~ U(0,1) and the
    ``n`` largest priorities u^(1/w) win, which yields exactly the
    sequential weighted-without-replacement distribution (Efraimidis &
    Spirakis, IPL 2006, public).

    u is the deterministic md5 fraction of (seed, key) — reruns,
    repartitioning, and external engines reproduce the identical
    sample.  The top-n is orderBy+limit, which Spark executes as
    TakeOrderedAndProject: each partition keeps its local n, only
    n*partitions tiny rows reach the driver-side merge — no global
    sort, no full shuffle, scale-safe for the n this API is for
    (n << corpus).  Rows with weight <= 0 are excluded (their
    selection probability is 0)."""
    if n <= 0:
        raise ValueError("n must be positive")
    w = F.col(weight_col).cast("double")
    pri = F.pow(_key_frac(key_col, f"sample:{seed}|"), F.lit(1.0) / w)
    return (
        df.where(w > 0)
        .withColumn("__pri__", pri)
        .orderBy(F.col("__pri__").desc())
        .limit(n)
        .drop("__pri__")
    )


def mix_proportions(
    df: SDF,
    group_col: str,
    props: _ty.Mapping[_ty.Any, float],
    key_col: str,
    seed: int = 0,
) -> SDF:
    """Rebalance a multi-source corpus to target mixture proportions —
    the "dataset mixing" step of a training pipeline (e.g. 50% web,
    30% books, 20% code).  Downsamples only: the output is the LARGEST
    corpus with exactly the requested proportions, total
    T = min_g(n_g / p_g); each group keeps T*p_g/n_g of its rows via
    the deterministic per-key hash filter (stable under reruns and
    repartitioning).  Groups absent from ``props`` are dropped.

    The only non-distributed work is one groupBy-count whose result
    (one row per SOURCE, not per data row) is collected to compute the
    per-group keep fractions — bounded by the number of corpora."""
    if not props:
        raise ValueError("props must be non-empty")
    for g, p in props.items():
        if p <= 0:
            raise ValueError(f"proportion for {g!r} must be > 0")
    counts = {
        r[0]: r[1]
        for r in df.where(F.col(group_col).isin(list(props)))
        .groupBy(group_col)
        .count()
        .collect()
    }
    missing = [g for g in props if not counts.get(g)]
    if missing:
        raise ValueError(f"groups with no rows: {missing}")
    total = min(counts[g] / p for g, p in props.items())
    keep = {g: total * p / counts[g] for g, p in props.items()}
    thr = F.lit(-1.0)  # groups outside props never pass
    for g in sorted(keep, key=str):
        thr = F.when(F.col(group_col) == F.lit(g), F.lit(keep[g])).otherwise(thr)
    return df.where(_key_frac(key_col, f"sample:{seed}|") < thr)


def binned_quantile(
    df: SDF,
    col: str,
    qs: _ty.Sequence[float],
    lo: float | None = None,
    hi: float | None = None,
    n_bins: int = 1024,
) -> SDF:
    """Histogram-interpolated approximate quantiles — the 100 TB scale
    path next to the exact ``Column.quantile`` (which ranks real data
    values): one bounded HashAggregate over ``n_bins`` groups, error
    <= one bin width, NO global sort and no shuffle proportional to
    distinct values.

    All arithmetic after the exact integer bin counts is a fixed
    sequence of IEEE double ops (same literal operand order on any
    engine), so results are deterministic and oracle-reproducible:
    for target rank ``r = clamp(q * N, 1, N)`` inside the first bin
    whose cumulative count reaches ``r``,
    ``est = lo + width * (bin + (r - cum_before) / bin_count)``.

    ``lo``/``hi`` default to the column's exact min/max (min/max are
    order-independent, so the derived histogram is deterministic too).
    The cumulative step is a window over n_bins rows — bounded by
    construction, never data-sized.  Returns ``(q, value)`` rows.
    """
    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"quantile {q} outside [0, 1]")
    c = F.col(col).cast("double")
    base = df.where(c.isNotNull()).select(c.alias("__v__"))
    if lo is None or hi is None:
        base = base.crossJoin(
            F.broadcast(
                base.agg(
                    F.min("__v__").alias("__lo__"),
                    F.max("__v__").alias("__hi__"),
                )
            )
        )
    else:
        base = base.select(
            "__v__",
            F.lit(float(lo)).alias("__lo__"),
            F.lit(float(hi)).alias("__hi__"),
        )
    w = (F.col("__hi__") - F.col("__lo__")) / F.lit(float(n_bins))
    # degenerate hi==lo (single-value column): width 0 would divide by
    # zero — NaN->int only "works" under non-ANSI; guard like the
    # grouped form so a user-supplied ANSI session is safe too
    bin_ = F.when(F.col("__hi__") == F.col("__lo__"), F.lit(0)).otherwise(
        F.least(
            F.greatest(
                F.floor((F.col("__v__") - F.col("__lo__")) / w).cast("int"),
                F.lit(0),
            ),
            F.lit(n_bins - 1),
        )
    )
    hist = base.groupBy(
        bin_.alias("bin"), F.col("__lo__"), F.col("__hi__")
    ).agg(F.count(F.lit(1)).alias("n"))
    win = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    hist = hist.select(
        "bin",
        "__lo__",
        "__hi__",
        "n",
        F.sum("n").over(win).alias("cum"),
        (F.sum("n").over(win) - F.col("n")).alias("cum_before"),
    ).crossJoin(
        F.broadcast(
            base.agg(F.count(F.lit(1)).alias("__total__"))
        )
    )
    qcol = F.explode(
        F.array(*[F.lit(float(q)) for q in qs])
    ).alias("q")
    width = (F.col("__hi__") - F.col("__lo__")) / F.lit(float(n_bins))
    r = F.least(
        F.greatest(F.col("q") * F.col("__total__"), F.lit(1.0)),
        F.col("__total__").cast("double"),
    )
    est = F.when(F.col("__hi__") == F.col("__lo__"), F.col("__lo__")).otherwise(
        F.col("__lo__")
        + width * (F.col("bin") + (r - F.col("cum_before")) / F.col("n"))
    )
    return (
        hist.select("*", qcol)
        .where(
            (F.col("cum") >= r) & (F.col("cum_before") < r)
        )
        .select(F.col("q"), est.alias("value"))
    )


def winsorize(
    df: SDF,
    col: str,
    lo_q: float = 0.01,
    hi_q: float = 0.99,
    n_bins: int = 1024,
    out_col: str | None = None,
) -> SDF:
    """Clip a numeric column to its [lo_q, hi_q] binned-quantile range
    (outlier suppression before normalization — a standard feature
    step).  Thresholds come from :func:`binned_quantile` (bounded agg,
    no sort), broadcast back as a 1-row cross join; the clip itself is
    a zero-shuffle codegen projection."""
    out = out_col or col
    bq = binned_quantile(df, col, [lo_q, hi_q], n_bins=n_bins)
    thr = bq.groupBy().agg(
        F.min(F.when(F.col("q") == lo_q, F.col("value"))).alias("__wlo__"),
        F.max(F.when(F.col("q") == hi_q, F.col("value"))).alias("__whi__"),
    )
    c = F.col(col).cast("double")
    clipped = F.least(F.greatest(c, F.col("__wlo__")), F.col("__whi__"))
    return (
        df.crossJoin(F.broadcast(thr))
        .withColumn(out, F.when(c.isNotNull(), clipped))
        .drop("__wlo__", "__whi__")
    )


def binned_cdf(
    df: SDF,
    col: str,
    n_bins: int = 1024,
    out_col: str | None = None,
) -> SDF:
    """Approximate percentile-rank (empirical CDF) feature for every
    row — the scale path next to ``F.percent_rank()``, whose global
    window is a single-partition sort of the entire dataset.

    Scale design: one bounded ``n_bins``-group HashAggregate builds
    the histogram; its cumulative table (window over <= n_bins rows)
    broadcasts back and each row's CDF is a zero-shuffle codegen
    projection: ``cdf = (cum_before + (x - bin_lo)/width * bin_n) / N``
    — within-bin linear interpolation, error <= one bin's mass.
    Deterministic: exact integer counts, then a fixed double-op
    sequence (same literal order on any engine).  Null inputs yield
    null CDF."""
    out = out_col or f"{col}_cdf"
    c = F.col(col).cast("double")
    base = df.where(c.isNotNull()).select(c.alias("__v__"))
    mm = base.agg(
        F.min("__v__").alias("__lo__"),
        F.max("__v__").alias("__hi__"),
        F.count(F.lit(1)).alias("__n__"),
    )
    b = base.crossJoin(F.broadcast(mm))
    w = (F.col("__hi__") - F.col("__lo__")) / F.lit(float(n_bins))
    # hi==lo guard (constant column): ANSI-safe, everything in bin 0
    bin_ = F.when(F.col("__hi__") == F.col("__lo__"), F.lit(0)).otherwise(
        F.least(
            F.greatest(
                F.floor((F.col("__v__") - F.col("__lo__")) / w).cast("int"),
                F.lit(0),
            ),
            F.lit(n_bins - 1),
        )
    )
    hist = b.groupBy(bin_.alias("__bin__")).agg(
        F.count(F.lit(1)).alias("__bn__")
    )
    hw = Window.orderBy("__bin__").rowsBetween(Window.unboundedPreceding, 0)
    hist = hist.select(
        "__bin__",
        "__bn__",
        (F.sum("__bn__").over(hw) - F.col("__bn__")).alias("__cumb__"),
    )
    enriched = (
        df.crossJoin(F.broadcast(mm))
        .withColumn(
            "__bin__",
            F.when(
                c.isNotNull(),
                F.when(F.col("__hi__") == F.col("__lo__"), F.lit(0)).otherwise(
                    F.least(
                        F.greatest(
                            F.floor((c - F.col("__lo__")) / w).cast("int"),
                            F.lit(0),
                        ),
                        F.lit(n_bins - 1),
                    )
                ),
            ),
        )
        .join(F.broadcast(hist), "__bin__", "left")
    )
    # constant column: frac 0 -> cdf 0 for every row, matching
    # percent_rank's all-ties result (and no 0/0 under ANSI)
    frac = F.when(F.col("__hi__") == F.col("__lo__"), F.lit(0.0)).otherwise(
        F.least(
            F.greatest((c - (F.col("__lo__") + F.col("__bin__") * w)) / w,
                       F.lit(0.0)),
            F.lit(1.0),
        )
    )
    cdf = (F.col("__cumb__") + frac * F.col("__bn__")) / F.col("__n__")
    return enriched.withColumn(
        out, F.when(c.isNotNull(), cdf)
    ).drop("__bin__", "__bn__", "__cumb__", "__lo__", "__hi__", "__n__")


def _join_null_safe(left: SDF, right: SDF, keys: _ty.List[str]) -> SDF:
    """``left.join(right, keys)`` with a NULL key matching NULL. The key
    columns appear once, taken from ``left``, so a ``left`` already
    hash-partitioned on them still serves the group-keyed aggregate or
    window above the join without a new exchange."""
    cond = [F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}")) for k in keys]
    rest = [F.col(f"r.{c}") for c in right.columns if c not in keys]
    return left.alias("l").join(right.alias("r"), cond).select("l.*", *rest)


def grouped_binned_quantile(
    df: SDF,
    col: str,
    qs: _ty.Sequence[float],
    by: _ty.Sequence[str],
    n_bins: int = 1024,
) -> SDF:
    """Per-group histogram-interpolated quantiles (e.g. per-language
    length p95 for curation thresholds) — the grouped form of
    :func:`binned_quantile`.

    Scale design: per-group min/max/count in one HashAggregate joined
    back on the group key (regular hash join — the group count may be
    large, nothing assumes it fits a broadcast); then ONE
    (group x bin)-keyed HashAggregate bounded at groups * n_bins rows;
    the cumulative window partitions BY GROUP over <= n_bins rows each
    (bounded per partition, never data-sized).  Same exact-integer +
    fixed-double-op arithmetic as the ungrouped form, so results are
    deterministic and engine-reproducible.

    Returns one row per (group, q): ``by... , q, value``. A NULL group
    key forms a group like any other: both joins with ``bounds`` match
    keys null-safely, as :func:`grouped_binned_cdf` does.
    """
    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"quantile {q} outside [0, 1]")
    keys = list(by)
    c = F.col(col).cast("double")
    base = df.where(c.isNotNull()).select(*keys, c.alias("__v__"))
    bounds = base.groupBy(*keys).agg(
        F.min("__v__").alias("__lo__"),
        F.max("__v__").alias("__hi__"),
        F.count(F.lit(1)).alias("__total__"),
    )
    b = _join_null_safe(bounds, base, keys)
    w = (F.col("__hi__") - F.col("__lo__")) / F.lit(float(n_bins))
    # degenerate single-value groups (width 0): everything in bin 0
    bin_ = F.when(F.col("__hi__") == F.col("__lo__"), F.lit(0)).otherwise(
        F.least(
            F.greatest(
                F.floor((F.col("__v__") - F.col("__lo__")) / w).cast("int"),
                F.lit(0),
            ),
            F.lit(n_bins - 1),
        )
    )
    hist = b.groupBy(*keys, bin_.alias("bin")).agg(
        F.count(F.lit(1)).alias("n")
    )
    hw = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hist = _join_null_safe(
        hist.select(
            *keys,
            "bin",
            "n",
            F.sum("n").over(hw).alias("cum"),
            (F.sum("n").over(hw) - F.col("n")).alias("cum_before"),
        ),
        bounds,
        keys,
    )
    qcol = F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    width = (F.col("__hi__") - F.col("__lo__")) / F.lit(float(n_bins))
    r = F.least(
        F.greatest(F.col("q") * F.col("__total__"), F.lit(1.0)),
        F.col("__total__").cast("double"),
    )
    est = F.when(F.col("__hi__") == F.col("__lo__"), F.col("__lo__")).otherwise(
        F.col("__lo__")
        + width * (F.col("bin") + (r - F.col("cum_before")) / F.col("n"))
    )
    return (
        hist.select("*", qcol)
        .where((F.col("cum") >= r) & (F.col("cum_before") < r))
        .select(*keys, F.col("q"), est.alias("value"))
    )


def grouped_binned_cdf(
    df: SDF,
    col: str,
    by: _ty.Sequence[str],
    n_bins: int = 1024,
    out_col: str | None = None,
) -> SDF:
    """Per-group empirical-CDF feature for every row (e.g. "where does
    this doc's length sit within ITS language?") — the grouped form of
    :func:`binned_cdf` and the scale path next to
    ``percent_rank().over(Window.partitionBy(group))``, which sorts
    every group's rows.

    Scale design: per-group min/max/count in one HashAggregate; ONE
    (group x bin) HashAggregate bounded at groups * n_bins rows; the
    cumulative window partitions BY GROUP over <= n_bins rows each.
    The histogram joins back on (group, bin) — a regular hash join
    keyed on the group columns (never assumes the group count fits a
    broadcast). Same hi==lo degenerate-group guard and within-bin
    linear interpolation as the ungrouped form; null VALUES yield null
    CDF, while a NULL group KEY forms a group like any other — every
    internal join/window runs on a struct of the key columns, whose
    equality is null-safe in Spark (plain name-based equality would
    silently give null-keyed groups a null CDF; advisor finding r3,
    matching grouped_heavy_hitters' null-safe keys)."""
    keys = list(by)
    if not keys:
        raise ValueError("use binned_cdf() for the ungrouped form")
    out = out_col or f"{col}_cdf"
    c = F.col(col).cast("double")
    gk = F.struct(*[F.col(k) for k in keys])
    base = df.where(c.isNotNull()).select(gk.alias("__gk__"), c.alias("__v__"))
    bounds = base.groupBy("__gk__").agg(
        F.min("__v__").alias("__lo__"),
        F.max("__v__").alias("__hi__"),
        F.count(F.lit(1)).alias("__n__"),
    )
    b = base.join(bounds, "__gk__")
    w = (F.col("__hi__") - F.col("__lo__")) / F.lit(float(n_bins))
    bin_ = F.when(F.col("__hi__") == F.col("__lo__"), F.lit(0)).otherwise(
        F.least(
            F.greatest(
                F.floor((F.col("__v__") - F.col("__lo__")) / w).cast("int"),
                F.lit(0),
            ),
            F.lit(n_bins - 1),
        )
    )
    hist = b.groupBy("__gk__", bin_.alias("__bin__")).agg(
        F.count(F.lit(1)).alias("__bn__")
    )
    hw = (
        Window.partitionBy("__gk__")
        .orderBy("__bin__")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hist = hist.select(
        "__gk__",
        "__bin__",
        "__bn__",
        (F.sum("__bn__").over(hw) - F.col("__bn__")).alias("__cumb__"),
    )
    enriched = (
        df.withColumn("__gk__", gk)
        .join(bounds, "__gk__", "left")
        .withColumn(
            "__bin__",
            F.when(
                c.isNotNull(),
                F.when(F.col("__hi__") == F.col("__lo__"), F.lit(0)).otherwise(
                    F.least(
                        F.greatest(
                            F.floor((c - F.col("__lo__")) / w).cast("int"),
                            F.lit(0),
                        ),
                        F.lit(n_bins - 1),
                    )
                ),
            ),
        )
        .join(hist, ["__gk__", "__bin__"], "left")
    )
    frac = F.when(F.col("__hi__") == F.col("__lo__"), F.lit(0.0)).otherwise(
        F.least(
            F.greatest((c - (F.col("__lo__") + F.col("__bin__") * w)) / w,
                       F.lit(0.0)),
            F.lit(1.0),
        )
    )
    cdf = (F.col("__cumb__") + frac * F.col("__bn__")) / F.col("__n__")
    return enriched.withColumn(
        out, F.when(c.isNotNull(), cdf)
    ).drop("__gk__", "__bin__", "__bn__", "__cumb__", "__lo__", "__hi__", "__n__")


def equi_depth_buckets(
    df: SDF,
    col: str,
    k: int,
    n_bins: int = 1024,
    out_col: str | None = None,
) -> SDF:
    """Equi-depth (quantile) bucketing: label every row 0..k-1 by which
    of the k approximately-equal-population quantile ranges its value
    falls in — the distributed replacement for ``ntile()`` over a
    global window (single-partition sort) when only the bucket label
    matters, and the data-driven sibling of the fixed-border
    ``functional.bucketize``.

    Thresholds are the (1/k .. (k-1)/k) binned quantiles (bounded
    histogram aggregate, deterministic arithmetic); the labeling pass
    is a zero-shuffle projection against the k-1 broadcast thresholds.
    Rows >= the last threshold get bucket k-1; nulls stay null."""
    if k < 2:
        raise ValueError("k must be >= 2")
    qs = [i / k for i in range(1, k)]
    bq = binned_quantile(df, col, qs, n_bins=n_bins)
    thr = bq.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("q"), F.col("value")))
        ).alias("__thr__")
    )
    c = F.col(col).cast("double")
    # bucket = number of thresholds <= x  (aggregate over k-1 elements)
    label = F.aggregate(
        F.col("__thr__"),
        F.lit(0),
        lambda acc, t: acc + F.when(c >= t["value"], 1).otherwise(0),
    )
    out = out_col or f"{col}_bucket"
    return (
        df.crossJoin(F.broadcast(thr))
        .withColumn(out, F.when(c.isNotNull(), label))
        .drop("__thr__")
    )


def robust_scaled(
    df: SDF,
    columns: _ty.Sequence[str],
    n_bins: int = 1024,
) -> SDF:
    """Append ``{col}_scaled = (x - median) / IQR`` for each column —
    the outlier-resistant scaler (sklearn RobustScaler semantics)
    completing the z-score / min-max family in :func:`scaled_frame`.

    Quantiles come from the binned-histogram scale path (bounded
    aggregate per column, no global sort); the three thresholds
    broadcast as one row per column and the scaling pass is a
    zero-shuffle projection.  Zero-IQR columns (constant bulk) scale
    to 0.0, matching scaled_frame's zero-std convention."""
    out = df
    for c in columns:
        bq = binned_quantile(df, c, [0.25, 0.5, 0.75], n_bins=n_bins)
        thr = bq.groupBy().agg(
            F.min(F.when(F.col("q") == 0.25, F.col("value"))).alias(f"__q1_{c}"),
            F.min(F.when(F.col("q") == 0.5, F.col("value"))).alias(f"__q2_{c}"),
            F.min(F.when(F.col("q") == 0.75, F.col("value"))).alias(f"__q3_{c}"),
        )
        x = F.col(c).cast("double")
        iqr = F.col(f"__q3_{c}") - F.col(f"__q1_{c}")
        scaled = F.when(iqr > 0, (x - F.col(f"__q2_{c}")) / iqr).otherwise(
            F.lit(0.0)
        )
        out = (
            out.crossJoin(F.broadcast(thr))
            .withColumn(f"{c}_scaled", F.when(x.isNotNull(), scaled))
            .drop(f"__q1_{c}", f"__q2_{c}", f"__q3_{c}")
        )
    return out


def pack_documents(
    df: SDF,
    id_col: str,
    token_col: str,
    budget: int,
    n_shards: int = 256,
    seed: int = 0,
) -> SDF:
    """Pack documents into fixed-token-budget training bins (sequence
    packing for pretraining): every document gets a ``(shard, bin,
    offset)`` placement such that each bin's documents are written
    contiguously and a new bin starts whenever the running total
    crosses ``budget`` (next-fit packing: a bin may overshoot by at
    most one document's tail — the standard streaming-packing
    trade-off; documents longer than ``budget`` occupy bins alone).

    Scale design: documents scatter to ``n_shards`` hash shards (md5
    of (seed, id) — deterministic, uniform), and packing runs PER
    SHARD as one cumulative-sum window over that shard's documents in
    hash order — one shuffle, per-partition sort bounded by the shard
    size, no global sequential pass.  Placement is a pure function of
    (seed, ids, token counts): reruns, repartitionings, and external
    engines produce the identical packing.

    Returns ``(id, n_tokens, shard, bin, offset)`` where ``offset``
    is the document's first token position within its bin."""
    if budget < 1:
        raise ValueError("budget must be positive")
    if n_shards < 1:
        raise ValueError("n_shards must be positive")
    key = F.md5(F.concat(F.lit(f"pack:{seed}|"), F.col(id_col).cast("string")))
    t = F.col(token_col).cast("long")
    base = df.select(
        F.col(id_col),
        t.alias("n_tokens"),
        F.pmod(
            F.conv(F.substring(key, 1, 12), 16, 10).cast("long"),
            F.lit(n_shards),
        ).alias("shard"),
        key.alias("__order__"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("__order__", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    # integer DIV/%, not double division: exact on any engine at any
    # cumulative magnitude (a double round-trip drifts past 2^53)
    placed = base.select(
        id_col,
        "n_tokens",
        "shard",
        (cum - F.col("n_tokens")).alias("__cb__"),
    )
    return placed.select(
        id_col,
        "n_tokens",
        "shard",
        F.expr(f"__cb__ DIV {int(budget)}").alias("bin"),
        (F.col("__cb__") % F.lit(int(budget))).alias("offset"),
    )


def pack_documents_nosplit(
    df: SDF,
    id_col: str,
    token_col: str,
    budget: int,
    n_shards: int = 256,
    seed: int = 0,
) -> SDF:
    """Sequence packing where NO document straddles a bin boundary —
    the form pretraining pipelines need when an attention mask can't
    span bins (:func:`pack_documents` is the contiguous-offset
    next-fit form that lets tails straddle).

    Algorithm (geometric size-class packing, fully data-parallel):
    each doc's SIZE CLASS is the largest power of two <=
    budget DIV n_tokens — the per-bin capacity. Within each
    (shard, class) docs are ranked in deterministic hash order and
    placed capacity-per-bin: bin = rank DIV capacity, offset = running
    sum of the bin's previous members. capacity * n_tokens <=
    (budget DIV n_tokens) * n_tokens <= budget, so nothing straddles;
    a FULL bin's fill exceeds ~50% (capacity >= q/2 and each doc >
    budget/(q+1)), approaching 100% as docs shrink relative to the
    budget. Power-of-two classes keep the class count at
    ~log2(budget) — exact per-size classes (capacity = q itself) pack
    full bins tighter (q/(q+1)) but create up to ``budget`` classes,
    and every (shard, class) cell pays one partial final bin, which
    DOMINATED waste on real corpora (measured fill 0.07 at budget 2048
    on the sf0.01 documents vs 0.75+ geometric). Zero cross-partition
    coordination (first-fit-decreasing packs tighter but is inherently
    sequential); exactly one shuffle on (shard); per-partition window
    sorts bounded by shard size. Placement is a pure function of
    (seed, ids, token counts) — reruns, any parallelism, and external
    SQL engines reproduce it bit-for-bit (the class ladder is integer
    CASE arithmetic, no floating log2).

    Docs with n_tokens > budget (would never fit) or n_tokens < 1 are
    EXCLUDED from the output — screen them upstream (a quality gate
    bounds document length anyway). Returns
    ``(id, n_tokens, shard, size_class, bin, offset)`` where
    ``size_class`` IS the bin capacity (power of two), with
    offset + n_tokens <= budget guaranteed on every row; bins are
    numbered within each (shard, size_class)."""
    if budget < 1:
        raise ValueError("budget must be positive")
    if n_shards < 1:
        raise ValueError("n_shards must be positive")
    key = F.md5(F.concat(F.lit(f"packns:{seed}|"), F.col(id_col).cast("string")))
    t = F.col(token_col).cast("long")
    q = F.col("__q__")
    # capacity = largest power of two <= budget DIV n_tokens, as an
    # integer CASE ladder (floor(log2()) on doubles is not guaranteed
    # correctly rounded across engines at exact powers)
    cap = F.lit(1)
    p = 2
    while p <= budget:
        cap = F.when(q >= p, F.lit(p)).otherwise(cap)
        p *= 2
    base = df.where((t >= 1) & (t <= budget)).select(
        F.col(id_col),
        t.alias("n_tokens"),
        F.pmod(
            F.conv(F.substring(key, 1, 12), 16, 10).cast("long"),
            F.lit(n_shards),
        ).alias("shard"),
        key.alias("__order__"),
    ).select(
        # DIV on the already-cast LONG alias — the raw column may be a
        # double (DIV requires integral/decimal operands) or carry a
        # name that needs backtick quoting; `n_tokens` is clean.
        F.col(id_col),
        F.col("n_tokens"),
        F.col("shard"),
        F.expr(f"{int(budget)} DIV n_tokens").alias("__q__"),
        F.col("__order__"),
    ).select(
        id_col, "n_tokens", "shard", cap.alias("size_class"), "__order__"
    )
    rw = Window.partitionBy("shard", "size_class").orderBy("__order__", id_col)
    ranked = base.select(
        id_col,
        "n_tokens",
        "shard",
        "size_class",
        (F.row_number().over(rw) - 1).alias("__r__"),
    )
    binned = ranked.select(
        id_col,
        "n_tokens",
        "shard",
        "size_class",
        F.expr("__r__ DIV size_class").alias("bin"),
        F.col("__r__"),
    )
    ow = (
        Window.partitionBy("shard", "size_class", "bin")
        .orderBy("__r__")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return binned.select(
        id_col,
        "n_tokens",
        "shard",
        "size_class",
        "bin",
        (F.sum("n_tokens").over(ow) - F.col("n_tokens")).alias("offset"),
    )


def packing_efficiency(packed: SDF, budget: int) -> SDF:
    """One-row packing report for a `pack_documents_nosplit` output:
    total bins, packed tokens, capacity, and fill fraction — the number
    a pipeline watches when tuning budget/shards (bounded aggregate:
    one HashAggregate over (shard, class, bin) then one global row)."""
    per_bin = packed.groupBy("shard", "size_class", "bin").agg(
        F.sum("n_tokens").alias("__fill__")
    )
    return per_bin.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("__fill__").alias("packed_tokens"),
        (F.count(F.lit(1)) * F.lit(int(budget))).alias("capacity_tokens"),
        (
            F.sum("__fill__").cast("double")
            / (F.count(F.lit(1)) * F.lit(int(budget))).cast("double")
        ).alias("fill_frac"),
    )


def weighted_sample_per_group(
    df: SDF,
    k: int,
    weight_col: str,
    key_col: str,
    by: _ty.Sequence[str],
    seed: int = 0,
) -> SDF:
    """Per-group weighted sampling WITHOUT replacement (A-ES, same
    priority u^(1/w) as :func:`weighted_sample`): keep the top-``k``
    priorities within each group — the stratified form (k length-
    weighted docs per language, k spend-weighted users per cohort).

    One shuffle on the group key; within each group a row_number
    window keeps k (partition-local sort, never global).  Priorities
    are deterministic md5 fractions, so the selection is reproducible
    at any parallelism and by an external engine.  Rows with
    weight <= 0 are excluded."""
    if k <= 0:
        raise ValueError("k must be positive")
    keys = list(by)
    if not keys:
        raise ValueError("use weighted_sample() for the ungrouped form")
    w = F.col(weight_col).cast("double")
    pri = F.pow(_key_frac(key_col, f"sample:{seed}|"), F.lit(1.0) / w)
    win = Window.partitionBy(*keys).orderBy(
        F.desc("__pri__"), F.col(key_col)
    )
    return (
        df.where(w > 0)
        .withColumn("__pri__", pri)
        .withColumn("__rn__", F.row_number().over(win))
        .where(F.col("__rn__") <= k)
        .drop("__pri__", "__rn__")
    )


def skew_report(
    df: SDF,
    key_cols: _ty.List[str],
    top_k: int = 20,
) -> SDF:
    """Shuffle-skew diagnostic: the ``top_k`` hottest key tuples of a
    prospective shuffle/join key with their row counts and corpus
    share, plus each key's multiple of the MEAN key population — the
    number an operator owner reads before picking a plan (broadcast the
    other side, salt the key, or let AQE's skew-join split it; this
    round's `_emit_pairs` salting threshold came from exactly this kind
    of measurement). One HashAggregate with map-side combine + a
    TakeOrderedAndProject over the aggregated (key-cardinality-sized)
    table — never a sort of the corpus. Output:
    ``(*key_cols, n_rows, share, x_mean)`` ordered hottest-first."""
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    stats = counts.agg(
        F.sum("n_rows").alias("__total__"),
        F.count(F.lit(1)).alias("__nkeys__"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            *key_cols,
            "n_rows",
            (F.col("n_rows").cast("double") / F.col("__total__").cast("double"))
            .alias("share"),
            (
                F.col("n_rows").cast("double")
                * F.col("__nkeys__").cast("double")
                / F.col("__total__").cast("double")
            ).alias("x_mean"),
        )
        .orderBy(F.desc("n_rows"), *key_cols)
        .limit(top_k)
    )
