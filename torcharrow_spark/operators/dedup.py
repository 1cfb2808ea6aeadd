"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
  * every stage is a narrow projection or one hash-shuffle on a
    uniformly-distributed hash key — no skew, no driver round-trips;
  * candidate generation (LSH bands / shared shingles) bounds the pair
    space so the quadratic step only touches near-duplicates;
  * result-determining hashes (exact-dedup content hash, minhash,
    simhash) are md5-based (JVM built-in, whole-stage codegen) so an
    external SQL oracle can reproduce them bit-for-bit; hashes that
    only shuffle/bucket intermediates (the Jaccard operators' shingle
    keys) use the cheaper Spark-native xxhash64 — final Jaccard values
    come from exact verification and are hash-independent.

All functions take and return plain pyspark DataFrames, so they compose
with the facade (`DataFrame.to_spark()`) and raw Spark pipelines alike.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame as SDF
from pyspark.sql import functions as F

from torcharrow_spark.memo import memo
from torcharrow_spark.operators.preprocess import lineage_cut

_log = logging.getLogger("torcharrow_spark.dedup")


def _norm_text(col):
    """Normalization used before hashing: lowercase + collapse whitespace."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


#: default per-bucket member bound above which `_emit_pairs` ELECTS
#: representatives instead of emitting every pair (r5 verdict ask #1).
#: C(2^18, 2) ~ 3.4e10 pairs is the most total work one bucket may
#: demand before the policy kicks in — still spread by the salted path,
#: but beyond this a bucket is pathological duplication (a boilerplate
#: text repeated 10^6-10^7x is NORMAL in a 100-TB crawl) and emitting
#: its quadratic pair set is the wrong plan no matter how it is spread.
#: Organic hot buckets measured at sf1 stay under ~8k members, so this
#: never fires on real data distributions; it exists for the cliff.
DEFAULT_ELECT_THRESHOLD = 1 << 18

#: r8: the member-count threshold alone let a
#: WIDE-payload bucket build a huge collect_list buffer before election
#: fired — cosine/semantic members carry the full embedding vector
#: (~290 B at dim 64, ~4 KB at dim 1024) vs ~16 B for minhash band
#: members, so 2^18 members meant ~75 MB (dim 64) to ~1 GB (dim 1024)
#: of aggregation buffer per hot bucket. The election onset is
#: therefore ALSO bytes-bounded: effective threshold =
#: min(elect_threshold, ELECT_BYTES_BOUND / estimated member width).
#: 32 MiB keeps narrow members at exactly the 2^18 onset (32 MiB/16 B
#: = 2^21 > 2^18 — zero behavior change for minhash/jaccard/simhash)
#: while dim-64 vectors elect at ~116k members and dim-1024 at ~8k,
#: capping the per-bucket buffer at ~32 MB regardless of payload.
ELECT_BYTES_BOUND = 1 << 25

#: default emission chunk, sized by SPARK'S STAGE-BOUNDARY BUFFERING,
#: not by pair arithmetic (r6 finding, measured): `_emit_pairs` returns
#: a UNION of its small and salted branches, and UnionExec is a
#: whole-stage-codegen boundary — the double-Generate emission pipeline
#: is drained through BufferedRowIterator, which buffers EVERY output
#: row of one stage-input row in a LinkedList before the consumer sees
#: the first one (Generate's codegen loops emit a whole input row's
#: fanout per processNext call). Per-task peak memory is therefore
#: fanout_per_input_row * ~80 B (UnsafeRow + list node overhead
#: dominates the 16-byte pair payload), NO MATTER how small the pair
#: rows are. The r5 chunk of 8192 meant C(8192,2) ~ 34M buffered rows
#: ~ 2.7 GB per task — measured OOM at 16 GB heap with 4 concurrent
#: emission tasks of 12k-member buckets, and GC churn tax on every
#: surviving emission (the real source of q46's emission cost). At
#: 1024, worst-case buffered fanout is C(1024,2) ~ 524k rows ~ 40 MB
#: on the small branch and csz^2 <= 1M rows ~ 80 MB per salted
#: chunk-pair — safe even on 4 GB executors, while the shuffle-byte
#: overhead of the finer salted grid stays negligible
#: (~8*(2*csz)/csz^2 = 0.016 B per emitted pair).
DEFAULT_EMIT_CHUNK = 1024

#: simhash auto-sizing clamp bounds (r9: module constants so the docs
#: in simhash_pairs / tuning.REGISTRY derive from the code — a review
#: found both texts still said "[16, 32]" after the r8 un-clamp).
#: The 64 ceiling is what the two-digest construction in `simhash`
#: physically provides (one signed long); the 16 floor is the smallest
#: width whose block keyspace doesn't funnel a 10^4-doc corpus into a
#: handful of buckets (r3 stress finding).
SIMHASH_MIN_BITS = 16
SIMHASH_MAX_BITS = 64


def _emit_pairs(
    grouped: SDF,
    arr_col: str,
    chunk: int = DEFAULT_EMIT_CHUNK,
    elect_key=None,
    elect_threshold: int = DEFAULT_ELECT_THRESHOLD,
    link_reps: bool = True,
    member_bytes: int = 16,
) -> SDF:
    """Memory-bounded ordered-pair emission from per-group sorted arrays:
    posexplode each element as an anchor, then explode only its TAIL
    slice — every row materializes O(group_size) elements, never the
    C(m, 2) pair array a single ``flatten(transform(...))`` builds in
    one value. Found by the sf1 stress harness: SimHash's block keys
    have a small value space, so one hot (block, value) group at 50k
    docs built a multi-GB pair array and OOMed the executor; the same
    hazard exists for any group-and-pair site fed a heavily duplicated
    corpus (identical MinHash band keys, boilerplate shingles).

    Total emitted work is still Σ C(m, 2) — bounding that is the job of
    the upstream keying (band width, prefix filter, block bits sizing).
    This function bounds two things:

    * PEAK MEMORY (the tail-slice trick above, plus — since r6 — the
      ``chunk`` sizing itself: see DEFAULT_EMIT_CHUNK; the stage-
      boundary buffer holds one input row's ENTIRE fanout, so the real
      per-task memory bound is fanout-per-row, capped here at ~1M
      pair rows ~ 80 MB), so hot groups degrade to throughput, not
      executor death;
    * since r5, PER-TASK EMISSION: a group larger than ``chunk``
      members is SALTED — its sorted array is cut into equal chunks,
      every ordered chunk-pair (ci <= cj) becomes its own row, and the
      chunk-pair rows are hash-repartitioned so the C(m, 2) emission of
      one adversarial bucket (a boilerplate text duplicated 10^5x = one
      task emitting 5*10^9 pairs) spreads across the cluster, each task
      bounded by ~csz^2 pairs per chunk-pair. The effective chunk size
      grows as ceil(m / 256) past 256*chunk members so the chunk-pair
      index array stays <= 33k structs even for pathological groups;
      per-row fanout therefore stays <= chunk^2 up to m = 256*chunk
      (= 2^18 at the defaults — exactly DEFAULT_ELECT_THRESHOLD, where
      election takes over when an elect_key exists and `_elect_audit`
      flags the rest). The common case (every group <= ``chunk``)
      keeps the zero-shuffle plan: the small branch is untouched and
      the big branch's exchange carries zero rows; the shared upstream
      aggregate's exchange is reused across the two branches
      (ReuseExchange), so no second corpus shuffle exists.

    Since r6 the TOTAL work of a pathological bucket is bounded too
    (r5 verdict ask #1): when ``elect_key`` is given (a Column lambda
    mapping an array element to its 64-bit exact-equivalence class key
    — e.g. a hash of the doc's full signature / shingle set / vector;
    members with equal keys are INDISTINGUISHABLE to the calling
    operator), a bucket larger than ``elect_threshold`` members is
    COLLAPSED before emission: one representative per class (the
    class's first element in the array's natural sort order, i.e. min
    id), pairs emitted only among representatives, plus — when
    ``link_reps`` (default) — one linear "star" pair (rep, member) per
    collapsed non-representative. The star preserves every property
    downstream consumers rely on:

    * connected components / near-dup clusters are IDENTICAL to full
      emission (the star keeps each class connected to its rep, and
      rep-rep pairs carry all cross-class edges);
    * keep-first drop rules (semantic_dedup) are IDENTICAL: a member's
      rep is its class MIN, so every "exists an earlier similar doc"
      witness that full emission finds via a non-rep is also found via
      that non-rep's (earlier) rep, whose key-equal element has the
      same similarity;
    * only the explicit pair LIST is thinned — C(m, 2) within a class
      becomes m - 1 star pairs; the full class membership is
      recoverable by grouping on the class key upstream (e.g.
      `exact_dedup_ids`, `simhash`, full-signature groupBy).

    A 10^7-duplicated boilerplate text thus costs 10^7 - 1 star rows
    instead of 5*10^13 pairs. If a bucket over the threshold is made of
    genuinely DISTINCT classes, election cannot help (the quadratic
    output is semantically demanded) and the salted path below carries
    it; `_elect_audit` flags such buckets (``cap_bound``) for operator
    intervention. The elect branch's predicates are no-ops on organic
    data (every bucket <= elect_threshold), and elect_key=None keeps
    the exact r5 plan.

    Peak-memory note: the bucket ARRAY itself (built by the caller's
    collect_list) still materializes m elements in one aggregation
    buffer (~16 B/member: ~160 MB at 10^7) — survivable, and the next
    ceiling (~10^8 members) is exactly the corpus shape where running
    `exact_dedup` FIRST (the standard pipeline order, as q129/q145 do)
    is the right plan anyway.

    Since r8 the election onset is also BYTES-bounded: callers pass
    ``member_bytes`` — the estimated serialized
    width of one array element — and the effective threshold is
    ``min(elect_threshold, ELECT_BYTES_BOUND / member_bytes)``, so
    wide-payload members (embedding vectors) elect proportionally
    earlier and the per-bucket collect_list buffer stays ~32 MB no
    matter the payload. The default 16 B (a bare id + class-key
    struct) leaves every narrow-member operator at exactly the member
    threshold.

    Returns columns ``__a__``, ``__b__`` (array element type), pairs
    ordered by the array's sort order (``__a__`` precedes ``__b__``)."""
    if elect_key is None:
        return _emit_pairs_impl(grouped, arr_col, chunk)
    elect_threshold = min(
        int(elect_threshold),
        max(2, ELECT_BYTES_BOUND // max(int(member_bytes), 1)),
    )
    # STRUCTURE MATTERS MORE THAN ROW COUNTS HERE (found the hard way:
    # a first cut routed giant buckets through their own where()+union
    # branches, and q46's sf0.1 steady went 5s -> 58-75s with ZERO
    # electable rows — each extra union branch re-executed the ENTIRE
    # upstream pipeline, because self-union triggers relation
    # deduplication, the cloned lambda-heavy subtrees no longer
    # canonicalize equal, and ReuseExchange misses; for simhash the
    # re-executed upstream is the 16-aggregate HOF vote projection,
    # sometimes landing in ONE task. SURVEY §4.3 case study #4.)
    #
    # So election is A PER-ROW EXPRESSION, not a branch: every bucket
    # row rewrites itself to (bare anchor array, per-anchor star-target
    # lists) behind a lazily-evaluated CASE WHEN — organic rows keep
    # their array UNTOUCHED with NULL stars — and the pair flows
    # through EXACTLY the r5 two-branch emission (small zero-shuffle /
    # big salted) below. The plan keeps r5's consumer count, so no
    # upstream re-execution exists to be slow.
    #
    # AND EXPRESSION SHARING MATTERS MORE THAN BIG-O (the second thing
    # found the hard way, r6): a first cut kept the sorted (key,
    # member) array as its own projected column `__kd__` and referenced
    # it from several sibling expressions. Catalyst freely SUBSTITUTES
    # a projected alias into every consumer (CollapseProject, filter
    # pushdown) — the optimized plan carried TWENTY copies of the
    # O(m log m) sort, and the copies inlined under per-element lambdas
    # (`element_at(<full sort expr>, i)`) turned the bucket rewrite
    # O(m^2): 19s at m=3000, 247s at m=12000, class count irrelevant
    # (measured). The only substitution barrier Catalyst respects here
    # is a LAMBDA BINDING — a NamedLambdaVariable cannot be inlined
    # through. So the sorted array is bound exactly once per row as a
    # lambda variable (`transform(array(kd), kd_ -> ...)`), every
    # downstream use references the variable, and star lists are built
    # by O(m) RUN-SLICING on the sorted array (run starts -> one slice
    # per class) instead of a filter-per-rep scan. SURVEY §4.3 case
    # study #5.
    # memo key: elect_key is fingerprinted by the expression string it
    # produces on a probe column (2-3 py4j calls) — the lambdas at the
    # call sites are pure field accessors / hashes, so equal strings
    # mean equal expressions
    _fp = str(elect_key(F.col("__fp_probe__")))

    def _build_election_cols():
        return _build_emit_election_cols(
            arr_col, elect_key, elect_threshold, link_reps
        )

    g0_cols, g1_cols = memo(
        ("emit_ub", arr_col, elect_threshold, bool(link_reps), _fp),
        _build_election_cols,
    )
    g1 = grouped.select(*g0_cols).select(*g1_cols)
    return _emit_pairs_units(g1, "__ss__", arr_col, chunk)


def _build_emit_election_cols(arr_col, elect_key, elect_threshold, link_reps):
    """Column construction for `_emit_pairs`' election rewrite —
    extracted so `memo` can reuse the (immutable) trees across
    calls: a Column is an unresolved expression bound to no data or
    path, keyed by its pure construction parameters, so a hit is the
    tree the miss would have built. Body unchanged from the in-line r6
    form; see the block comments in `_emit_pairs` for why the structure
    is what it is."""
    arr = F.col(arr_col)

    def _units_of(kd_):
        # kd_: array<struct<k, m>> sorted by (k, m) — equal-key runs
        # are adjacent, each run ascending in m. Returns struct<b, s>:
        # b the bare rep array (one per class, rep = run head = class
        # MIN member) sorted by m, s the per-rep star-target lists
        # ALIGNED with b (s[i] = the tail members of b[i]'s run) — the
        # alignment `_emit_pairs_units` indexes by anchor position.
        n = F.size(kd_)
        # 1-based run-start positions; i=1 short-circuits the when()
        # and greatest() keeps the predecessor index legal even under
        # eager branch evaluation
        starts = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: F.when(i == F.lit(1), F.lit(True)).otherwise(
                F.element_at(kd_, i)["k"]
                != F.element_at(kd_, F.greatest(i - F.lit(1), F.lit(1)))["k"]
            ),
        )
        # exclusive run ends: the next run's start, n+1 for the last
        ends = F.concat(
            F.slice(starts, 2, F.size(starts)), F.array(n + F.lit(1))
        )
        empty = F.transform(F.slice(kd_, 1, 0), lambda x: x["m"])
        if link_reps:
            units = F.zip_with(
                starts,
                ends,
                lambda s, e: F.struct(
                    F.element_at(kd_, s)["m"].alias("m"),
                    F.transform(
                        F.slice(kd_, s + F.lit(1), e - s - F.lit(1)),
                        lambda x: x["m"],
                    ).alias("s"),
                ),
            )
        else:
            units = F.transform(
                starts,
                lambda s: F.struct(
                    F.element_at(kd_, s)["m"].alias("m"), empty.alias("s")
                ),
            )
        # runs are in class-KEY order, not member order — sort by m
        # (struct comparison is field-wise; m unique, s never
        # tie-breaks), then split into the parallel (b, s) arrays
        su = F.sort_array(units)
        return F.struct(
            F.transform(su, lambda u: u["m"]).alias("b"),
            F.transform(su, lambda u: u["s"]).alias("s"),
        )

    # (class-key, member) sorted so equal-key runs are adjacent;
    # evaluated only on elected rows (CASE lazy per row), and bound as
    # a lambda variable so no optimizer rule can re-inline it per
    # element (see the block comment above)
    kd = F.sort_array(
        F.transform(arr, lambda x: F.struct(elect_key(x).alias("k"), x.alias("m")))
    )
    ub = F.element_at(
        F.transform(
            F.array(F.when(F.size(arr) > F.lit(elect_threshold), kd)),
            lambda kd_: F.when(kd_.isNotNull(), _units_of(kd_)),
        ),
        1,
    )
    g0_cols = [ub.alias("__ub__"), arr.alias("__raw__")]
    ubc = F.col("__ub__")
    # TWO parallel columns per bucket row: the BARE anchor array the
    # emission posexplodes and tail-slices exactly as r5 (organic rows
    # pass through UNTOUCHED — zero per-member wrapping, measured 14%
    # emission tax when anchors rode as structs), plus __ss__, the
    # star-target lists aligned with the bare array — NULL on organic
    # rows, so the per-anchor star lookup is a null-propagating
    # element_at that costs one null check on organic data
    g1_cols = [
        F.when(ubc.isNotNull(), ubc["b"])
        .otherwise(F.col("__raw__"))
        .alias(arr_col),
        F.when(ubc.isNotNull(), ubc["s"]).alias("__ss__"),
    ]
    return g0_cols, g1_cols


def _emit_pairs_units(grouped: SDF, stars_col: str, bare_col: str,
                      chunk: int) -> SDF:
    """The r5 emission machinery over parallel (bare, stars) arrays:
    the same small/big two-branch plan as `_emit_pairs_impl`, anchors
    posexploded from ``bare_col`` EXACTLY as r5 (bare elements — no
    per-anchor wrapper, so organic rows pay only a null check over
    r5), plus per-anchor star targets looked up by position in
    ``stars_col`` (array<array<elem>> aligned with the bare array;
    NULL on organic rows, so the lookup null-propagates). An anchor
    with stars pays one concat — on the big branch only on its
    DIAGONAL chunk-pair, where each element anchors exactly once, so
    star pairs never duplicate.

    Star lists are themselves CHUNK-BOUNDED (r7): a
    collapsed class of m members puts m-1 star targets on its single
    rep anchor, so the inline ``concat(tail, st)`` would make one
    input row's Generate fanout m-1 — ~800 MB buffered at the union
    boundary for a 10^7-member class, past the ~80 MB bound ``chunk``
    was sized to guarantee. A star list longer than ``chunk`` is
    therefore NULLed out of the inline lookup on both branches and
    emitted by the dedicated overflow branch below: slice into
    <= ``chunk`` segments (one row each, fanout <= ceil(m/chunk)
    segment rows), hash-spread the segments across the cluster, then
    explode each segment (fanout <= ``chunk``) — the same two-stage
    shape as the salted chunk-pair path, with the exchange as the
    pipeline breaker between the two explodes. Organic rows (NULL
    stars) cost the overflow branch zero rows, and its upstream scan
    reuses the grouped aggregate's exchange like the small/big pair
    branches do. Returns ``__a__``/``__b__`` (bare element type).

    r13: every Column below is a pure function of (bare_col, stars_col,
    chunk), so the whole set is built once per shape via `memo`
    (same trees, a fraction of the py4j cost)."""
    c = memo(
        ("emit_units", bare_col, stars_col, chunk),
        lambda: _build_emit_units_cols(bare_col, stars_col, chunk),
    )
    small_pairs = grouped.where(c["small_pred"]).select(*c["ex_cols"]).select(
        *c["small_out"]
    )
    step2 = grouped.where(c["big_pred"]).select(*c["step1_cols"]).select(
        *c["step2_cols"]
    )
    # pinned partition count — AQE byte-based coalescing would
    # re-serialize the chunk-pair explosion (see _emit_pairs_impl)
    n_part = grouped.sparkSession.sparkContext.defaultParallelism * 2
    big_pairs = (
        step2.repartition(n_part, *c["spread_keys"])
        .select(*c["ex2_cols"])
        .select(*c["big_out"])
    )
    star_pairs = (
        grouped.where(c["stars_notnull"])
        .select(*c["z1_cols"])
        .select(*c["z2_cols"])
        .select(*c["z3_cols"])
        .where(c["ovf_pred"])
        .select(*c["seg_cols"])
        .repartition(n_part, *c["seg_keys"])
        .select(*c["star_out"])
    )
    return small_pairs.unionByName(big_pairs).unionByName(star_pairs)


def _chunk_pair_cols(arr, chunk: int):
    """The salted chunk-pair split both emitters share: the chunk size
    ``__csz__``, the exploded chunk-index pairs ``__p__`` (project both
    beside the group's array as ``__arr__``), and the next projection's
    ``__ci__``/``__cj__`` indices with their ``__ca__``/``__cb__``
    slices of ``__arr__``."""
    m = F.size(arr)
    # csz first, nch derived: the chunk size floors at ``chunk`` and
    # grows as ceil(m/256) for pathological groups, so nch <= 256 (the
    # chunk-pair index array stays small) AND per-row fanout stays
    # csz^2 <= chunk^2 up to m = 256*chunk (see DEFAULT_EMIT_CHUNK)
    csz = F.greatest(F.lit(chunk), F.ceil(m / F.lit(256))).cast("int")
    nch = F.ceil(m / csz).cast("int")
    idx = F.sequence(F.lit(0), nch - 1)
    # all ordered chunk-index pairs (i, j) with i <= j: at most
    # 256*257/2 = 32,896 small structs per group row
    idx_pairs = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.slice(idx, i + 1, F.size(idx)),
                lambda j: F.struct(i.alias("i"), j.alias("j")),
            ),
        )
    )

    def chunk_slice(side: str):
        return F.slice(
            F.col("__arr__"),
            F.col(f"__p__.{side}") * F.col("__csz__") + 1,
            F.col("__csz__"),
        )

    return csz.alias("__csz__"), F.explode(idx_pairs).alias("__p__"), [
        F.col("__p__.i").alias("__ci__"),
        F.col("__p__.j").alias("__cj__"),
        chunk_slice("i").alias("__ca__"),
        chunk_slice("j").alias("__cb__"),
    ]


def _build_emit_units_cols(bare_col: str, stars_col: str, chunk: int) -> dict:
    """Column construction for `_emit_pairs_units`, extracted verbatim
    for `memo` reuse (see the docstring above for the plan shape)."""
    bare = F.col(bare_col)
    inline_ok = lambda s: s.isNotNull() & (F.size(s) > 0) & (  # noqa: E731
        F.size(s) <= F.lit(chunk)
    )

    small_pred = F.size(bare) <= chunk
    ex_cols = [
        F.posexplode(bare_col).alias("__i__", "__a__"),
        bare.alias("__arr__"),
        F.col(stars_col).alias("__ss__"),
    ]
    tail = F.slice(F.col("__arr__"), F.col("__i__") + 2, F.size("__arr__"))
    # NULL __ss__ (organic row) or empty/oversize star list -> just the
    # tail; the element_at index is always in-bounds (__ss__ aligned
    # with the bare array), NULL input null-propagates
    st = F.element_at(F.col("__ss__"), F.col("__i__") + 1)
    targets = F.when(inline_ok(st), F.concat(tail, st)).otherwise(tail)
    small_out = [F.col("__a__"), F.explode(targets).alias("__b__")]

    big_pred = F.size(bare) > chunk
    csz, pairs, chunk_cols = _chunk_pair_cols(bare, chunk)
    step1_cols = [
        bare.alias("__arr__"),
        F.col(stars_col).alias("__ss__"),
        csz,
        pairs,
    ]
    # star slices ride only the DIAGONAL chunk-pairs (where they are
    # consumed): off-diagonal rows carry NULL, so the star payload
    # crosses the exchange exactly once
    step2_cols = chunk_cols + [
        F.when(
            (F.col("__p__.i") == F.col("__p__.j"))
            & F.col("__ss__").isNotNull(),
            # oversize star lists go NULL here (the overflow branch
            # owns them) so they never cross the chunk-pair exchange
            F.transform(
                F.slice(
                    F.col("__ss__"),
                    F.col("__p__.i") * F.col("__csz__") + 1,
                    F.col("__csz__"),
                ),
                lambda s: F.when(F.size(s) <= F.lit(chunk), s),
            ),
        ).alias("__cs__"),
    ]
    spread_keys = [
        F.col("__ci__"), F.col("__cj__"), F.xxhash64(F.col("__cb__"))
    ]
    ex2_cols = [
        F.col("__ci__"),
        F.col("__cj__"),
        F.col("__cb__"),
        F.col("__cs__"),
        F.posexplode("__ca__").alias("__i__", "__a__"),
    ]
    tail2 = F.when(
        F.col("__ci__") == F.col("__cj__"),
        F.slice(F.col("__cb__"), F.col("__i__") + 2, F.size("__cb__")),
    ).otherwise(F.col("__cb__"))
    st2 = F.element_at(F.col("__cs__"), F.col("__i__") + 1)
    targets2 = F.when(
        st2.isNotNull() & (F.size(st2) > 0), F.concat(tail2, st2)
    ).otherwise(tail2)
    big_out = [F.col("__a__"), F.explode(targets2).alias("__b__")]

    # overflow branch: (rep, star-segment) rows for star lists the
    # inline paths refused. zip first (one Generate row per anchor —
    # the bare array never rides along duplicated), filter to the rare
    # oversize lists, two-stage explode with the exchange in between.
    stars_notnull = F.col(stars_col).isNotNull()
    z1_cols = [
        F.col(bare_col).alias("__mm__"), F.col(stars_col).alias("__sl__")
    ]
    z2_cols = [F.explode(F.arrays_zip("__mm__", "__sl__")).alias("__z__")]
    z3_cols = [
        F.col("__z__.__mm__").alias("__a__"),
        F.col("__z__.__sl__").alias("__st__"),
    ]
    ovf_pred = F.size("__st__") > chunk
    nseg = F.ceil(F.size("__st__") / F.lit(chunk)).cast("int")
    segments = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda c: F.slice(F.col("__st__"), c * F.lit(chunk) + 1, F.lit(chunk)),
    )
    seg_cols = [F.col("__a__"), F.explode(segments).alias("__sc__")]
    seg_keys = [F.col("__a__"), F.xxhash64(F.col("__sc__"))]
    star_out = [F.col("__a__"), F.explode("__sc__").alias("__b__")]

    return {
        "small_pred": small_pred,
        "ex_cols": ex_cols,
        "small_out": small_out,
        "big_pred": big_pred,
        "step1_cols": step1_cols,
        "step2_cols": step2_cols,
        "spread_keys": spread_keys,
        "ex2_cols": ex2_cols,
        "big_out": big_out,
        "stars_notnull": stars_notnull,
        "z1_cols": z1_cols,
        "z2_cols": z2_cols,
        "z3_cols": z3_cols,
        "ovf_pred": ovf_pred,
        "seg_cols": seg_cols,
        "seg_keys": seg_keys,
        "star_out": star_out,
    }


def _emit_pairs_impl(grouped: SDF, arr_col: str, chunk: int) -> SDF:
    """The r5 emission machinery (small zero-shuffle path + salted
    chunk-pair path) — see `_emit_pairs` for the contract. r13: the
    Column set is pure in (arr_col, chunk) and memoized via
    `memo`."""
    c = memo(
        ("emit_impl", arr_col, chunk),
        lambda: _build_emit_impl_cols(arr_col, chunk),
    )
    small_pairs = (
        grouped.where(c["small_pred"])
        .select(*c["ex_cols"])
        .select(*c["small_out"])
    )
    step2 = grouped.where(c["big_pred"]).select(*c["step1_cols"]).select(
        *c["step2_cols"]
    )
    # hash-spread the chunk-pairs: (ci, cj, content-hash) is unique per
    # group x chunk-pair, so one hot bucket's emission parallelizes.
    # The partition count is pinned EXPLICITLY: AQE's coalescing sizes
    # partitions by shuffle BYTES, but a chunk-pair's cost is its
    # downstream chunk^2 pair explosion (~32 KB of input -> ~4M pairs),
    # so byte-based coalescing would re-serialize the hot bucket into
    # one task — the exact failure this path exists to break up.
    n_part = grouped.sparkSession.sparkContext.defaultParallelism * 2
    big_pairs = (
        step2.repartition(n_part, *c["spread_keys"])
        .select(*c["ex2_cols"])
        .select(*c["big_out"])
    )
    return small_pairs.unionByName(big_pairs)


def _build_emit_impl_cols(arr_col: str, chunk: int) -> dict:
    """Column construction for `_emit_pairs_impl`, extracted verbatim
    for `memo` reuse."""
    arr = F.col(arr_col)

    small_pred = F.size(arr) <= chunk
    ex_cols = [
        F.posexplode(arr_col).alias("__i__", "__a__"),
        F.col(arr_col).alias("__arr__"),
    ]
    tail = F.slice(F.col("__arr__"), F.col("__i__") + 2, F.size("__arr__"))
    small_out = [F.col("__a__"), F.explode(tail).alias("__b__")]

    big_pred = F.size(arr) > chunk
    csz, pairs, step2_cols = _chunk_pair_cols(arr, chunk)
    step1_cols = [arr.alias("__arr__"), csz, pairs]
    spread_keys = [
        F.col("__ci__"), F.col("__cj__"), F.xxhash64(F.col("__ca__"))
    ]
    ex2_cols = [
        F.col("__ci__"),
        F.col("__cj__"),
        F.col("__cb__"),
        F.posexplode("__ca__").alias("__i__", "__a__"),
    ]
    # diagonal chunk-pair (ci == cj): tail-slice within the chunk
    # (ca == cb there); off-diagonal: every (a in ca, b in cb) is an
    # ordered pair because the source array is sorted and cj > ci
    tail2 = F.when(
        F.col("__ci__") == F.col("__cj__"),
        F.slice(F.col("__cb__"), F.col("__i__") + 2, F.size("__cb__")),
    ).otherwise(F.col("__cb__"))
    big_out = [F.col("__a__"), F.explode(tail2).alias("__b__")]

    return {
        "small_pred": small_pred,
        "ex_cols": ex_cols,
        "small_out": small_out,
        "big_pred": big_pred,
        "step1_cols": step1_cols,
        "step2_cols": step2_cols,
        "spread_keys": spread_keys,
        "ex2_cols": ex2_cols,
        "big_out": big_out,
    }


def _elect_audit(
    grouped: SDF,
    arr_col: str,
    elect_key,
    elect_threshold: int = DEFAULT_ELECT_THRESHOLD,
    chunk: int = DEFAULT_EMIT_CHUNK,
) -> SDF:
    """skew_report-style companion to `_emit_pairs` election: one row
    per bucket the policy WOULD collapse (members > elect_threshold),
    with the numbers an operator owner needs to judge the bucket —
    ``members``, ``n_classes`` (distinct exact-equivalence classes),
    ``largest_class``, ``pairs_full`` (C(members, 2) that full emission
    would cost), ``pairs_elected`` (C(n_classes, 2) + collapsed star
    rows actually emitted), and ``cap_bound`` (true when even the
    elected rep count exceeds chunk*256, i.e. the salted path's
    per-task work grows again and the bucket's quadratic output is
    semantically demanded — the operator, not the emitter, must decide
    to coarsen its keying or drop the bucket). Bucket key columns pass
    through. Linear per bucket; never emits a pair."""
    arr = F.col(arr_col)
    keys = [c for c in grouped.columns if c != arr_col]
    g = grouped.where(F.size(arr) > F.lit(elect_threshold)).select(
        *keys, F.sort_array(F.transform(arr, elect_key)).alias("__ks__")
    )
    # largest adjacent run over the sorted class keys: one linear fold
    st0 = F.struct(
        F.lit(None).cast("bigint").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )
    fold = F.aggregate(
        F.col("__ks__"),
        st0,
        lambda st, k: F.struct(
            k.alias("prev"),
            F.when(st["prev"].eqNullSafe(k), st["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                st["best"],
                F.when(st["prev"].eqNullSafe(k), st["run"] + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
        ),
        lambda st: st["best"],
    )
    m = F.size("__ks__").cast("long")
    ncl = F.size(F.array_distinct("__ks__")).cast("long")
    return g.select(
        *keys,
        m.alias("members"),
        ncl.alias("n_classes"),
        fold.cast("long").alias("largest_class"),
        (m * (m - 1) / 2).cast("long").alias("pairs_full"),
        ((ncl * (ncl - 1) / 2).cast("long") + (m - ncl)).alias("pairs_elected"),
        (ncl > F.lit(chunk) * 256).alias("cap_bound"),
    )


#: low bits of the packed (id, size) long in direct-mode Jaccard
_PACK_SZ_BITS = 20


def _ceil_exact(x):
    """ceil for PPJoin bounds whose TRUE value is a rational: the double
    product can land epsilon ABOVE the exact integer (0.5 * 4 =
    2.0000000000000004), and a plain ceil then rounds one past the real
    bound — over-pruning a true pair sitting exactly on the boundary and
    breaking the 'identical output to direct mode' contract (advisor
    finding, r3). Sizes are <= ~1e9 so double relative error is < 1e-7
    absolute; subtracting 1e-6 before ceil absorbs it while never
    crossing a genuine non-integer gap (thresholds are user floats with
    coarse precision). Loosening a bound by at most 1 admits a few extra
    candidates — lossless, the exact verify step rejects them."""
    return F.ceil(x - F.lit(1e-6))


# ---------------------------------------------------------------------------
# Exact dedup


def exact_dedup_ids(df: SDF, text_col: str = "text", id_col: str = "doc_id") -> SDF:
    """One surviving id per distinct (normalized) text, keep min id.

    The group key is 120 bits of the md5 digest as two longs (60+60
    bits) — NOT the text itself: at corpus scale the normalized text is
    hundreds of bytes per row and would dominate the shuffle, while two
    longs cost 16 bytes and a 120-bit key makes a cross-text collision
    (~n²/2^121) negligible against any real corpus. Single shuffle;
    map-side partial aggregation applies. The reported `content_hash`
    stays the 48-bit prefix (a pure function of the key) so an external
    SQL oracle can reproduce it."""
    norm = _norm_text(F.col(text_col))
    hex_ = F.md5(norm)
    # 15 hex digits = 60 bits per half: fits a signed long via conv
    # (16 digits can exceed 2^63-1 and null out on the cast)
    hi = F.conv(F.substring(hex_, 1, 15), 16, 10).cast("long")
    lo = F.conv(F.substring(hex_, 16, 15), 16, 10).cast("long")
    h48 = F.conv(F.substring(hex_, 1, 12), 16, 10).cast("long")
    return (
        df.select(
            F.col(id_col),
            hi.alias("__h_hi__"),
            lo.alias("__h_lo__"),
            h48.alias("content_hash"),
        )
        .groupBy("__h_hi__", "__h_lo__")
        .agg(
            F.min(id_col).alias(id_col),
            F.min("content_hash").alias("content_hash"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select(id_col, "content_hash", "dup_count")
    )


def exact_dedup(df: SDF, text_col: str = "text", id_col: str = "doc_id") -> SDF:
    """Full surviving rows (all columns) after exact dedup, keep-min-id."""
    keep = exact_dedup_ids(df, text_col, id_col).select(id_col)
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH


def _shingles(df: SDF, text_col: str, id_col: str, k: int) -> SDF:
    """Distinct k-word shingles per doc, one row per (doc, shingle).

    The word array is materialized in its own projection BEFORE the
    higher-order transform: lambda bodies are interpreted (not codegen),
    and an inline `split(regexp_replace(...))` inside the lambda is
    re-evaluated per shingle position — measured 6.5x slower at sf0.1.

    The scan boundary is planned BOTH ways here (each a no-op outside
    its regime):

    * big-file corpora: the explode amplifies rows ~0.5/input-byte
      BEFORE the first exchange, invisible to Spark's byte-based split
      sizing — `preprocess.cap_amplified_scan` re-reads the source
      through a conf-scoped session so each map task's fused explode
      output stays within the sort-row budget (zero new exchanges,
      bit-identical shuffle bytes; the spill it prevents is measured
      at `preprocess.AMPLIFIED_SORT_ROWS_BUDGET`);
    * single-row-group sources: spread so the scan-fused compute isn't
      serialized into one task (preprocess.spread_narrow_source)."""
    from torcharrow_spark.operators.preprocess import (
        cap_amplified_scan,
        spread_narrow_source,
    )

    df = cap_amplified_scan(df)
    df = spread_narrow_source(df)
    words = F.split(_norm_text(F.col(text_col)), " ")
    return df.select(F.col(id_col), words.alias("__w__")).select(
        F.col(id_col), F.explode(_shingle_array(F.col("__w__"), k)).alias("shingle")
    )


def _shingle_array(words, k: int):
    """Distinct k-word shingles as an array expression; `words` must be a
    bound column (see _shingles), not an inline expression tree."""
    n = F.size(words)
    idx = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, k), " "))
    )


def minhash_signatures(
    df: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 8,
) -> SDF:
    """Per-doc MinHash signature: hash h_s(x) = md5(s || '|' || shingle);
    the signature element for seed s is the lexicographic min hex digest.

    Implementation note (measured at sf0.1): one explode over (doc,
    shingle) + a single groupBy(doc) computing all num_hashes mins as
    separate aggregates. Each block of 4 hash values is sliced out of ONE
    md5 digest (4 x 8 hex chars = 32 bits each) instead of hashing the
    shingle num_hashes times — ceil(num_hashes/4) md5s per shingle. The
    md5s run in whole-stage codegen, min-aggregates combine map-side, so
    the one shuffle carries only docs × num_hashes × 8 bytes. Docs with
    no shingles (< k words) are dropped. Returns (id, sig: array<long>);
    signature element s is hex chars [8*(s%4), 8*(s%4)+8) of
    md5(f'{s//4}|' || shingle) parsed as a 32-bit int — min over LONGS
    keeps the aggregate a HashAggregate with a primitive buffer (min
    over strings demotes the whole stage to Sort+SortAggregate, a
    per-partition sort of every shingle in the corpus)."""
    sh = _shingles(df, text_col, id_col, shingle_k)
    n_digests = (num_hashes + 3) // 4
    sh = sh.select(
        id_col,
        *[
            F.md5(F.concat(F.lit(f"{b}|"), F.col("shingle"))).alias(f"__d{b}__")
            for b in range(n_digests)
        ],
    )
    aggs = [
        F.min(
            F.conv(F.substring(F.col(f"__d{s // 4}__"), (s % 4) * 8 + 1, 8), 16, 10).cast("long")
        ).alias(f"__mh{s}__")
        for s in range(num_hashes)
    ]
    per_doc = sh.groupBy(id_col).agg(*aggs)
    return per_doc.select(
        F.col(id_col),
        F.array(*[F.col(f"__mh{s}__") for s in range(num_hashes)]).alias("sig"),
    )


def minhash_pairs(
    df: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    elect_threshold: int = DEFAULT_ELECT_THRESHOLD,
) -> SDF:
    """Candidate near-duplicate pairs via LSH banding: split the signature
    into `bands` rows-per-band chunks; docs sharing any band key become a
    pair. Group-and-pair instead of self-join: a self-join of the
    (uncached, derived) banded table would recompute the whole
    shingle+signature pipeline for BOTH sides; grouping on (band,
    band_key) — a uniformly distributed hash — computes it once, shuffles
    evenly, and never goes quadratic in the corpus size.

    Buckets over ``elect_threshold`` members collapse to one
    representative per full-signature class before pair emission, plus
    a (rep, member) star per collapsed member — connectivity-exact,
    linear in the duplication (`_emit_pairs` election;
    `minhash_bucket_audit` shows what it touched)."""
    return (
        _emit_pairs(
            _minhash_buckets(df, text_col, id_col, shingle_k, num_hashes, bands),
            "ids",
            elect_key=lambda x: x["s"],
            elect_threshold=elect_threshold,
        )
        .select(F.col("__a__.i").alias("id_a"), F.col("__b__.i").alias("id_b"))
        .distinct()
    )


def _banded_keys(
    df: SDF,
    text_col: str,
    id_col: str,
    shingle_k: int,
    num_hashes: int,
    bands: int,
) -> SDF:
    """Per-doc LSH band keys: (id, __sck__, band, band_key) — one row per
    (doc, band). band_key is the '|'-joined rows-per-band signature
    slice (string of longs, ~40 bytes fixed); __sck__ is the xxhash64 of
    the FULL signature (the exact-equivalence class key used by
    `_emit_pairs` election). Shared by `_minhash_buckets` (same-corpus
    pairing) and `minhash_index`/`dedup_against_index` (incremental)."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, shingle_k, num_hashes)
    return sig.select(
        id_col,
        F.xxhash64(F.col("sig")).alias("__sck__"),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        F.col("sig"),
    ).select(
        id_col,
        "__sck__",
        "band",
        F.array_join(
            F.transform(
                F.slice("sig", F.col("band") * rows_per_band + 1, rows_per_band),
                lambda x: x.cast("string"),
            ),
            "|",
        ).alias("band_key"),
    )


def _minhash_buckets(
    df: SDF,
    text_col: str,
    id_col: str,
    shingle_k: int,
    num_hashes: int,
    bands: int,
) -> SDF:
    """LSH band buckets: (band, band_key, ids) where ids is the sorted
    array of member structs (i: id, s: xxhash64 of the FULL signature —
    the exact-equivalence class key for `_emit_pairs` election: docs
    with equal full signatures are indistinguishable to MinHash, so a
    pathologically duplicated text collapses to one representative;
    8 bytes/member on the bucket shuffle is the price of the policy)."""
    banded = _banded_keys(df, text_col, id_col, shingle_k, num_hashes, bands)
    # memory-bounded emission: a fully-duplicated corpus puts every copy
    # in ONE band bucket — see _emit_pairs
    return (
        banded.groupBy("band", "band_key")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col(id_col).alias("i"), F.col("__sck__").alias("s"))
                )
            ).alias("ids")
        )
        .where(F.size("ids") >= 2)
    )


def minhash_bucket_audit(
    df: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    elect_threshold: int = DEFAULT_ELECT_THRESHOLD,
) -> SDF:
    """Election audit for `minhash_pairs` (see `_elect_audit`): every
    band bucket the collapse policy would touch at ``elect_threshold``,
    with member/class/pair counts — run it at the production threshold
    to see what election is saving, or at a low threshold as a plain
    hot-bucket profile."""
    return _elect_audit(
        _minhash_buckets(df, text_col, id_col, shingle_k, num_hashes, bands),
        "ids",
        lambda x: x["s"],
        elect_threshold,
    )


# ---------------------------------------------------------------------------
# SimHash


def simhash(df: SDF, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> SDF:
    """SimHash over word tokens. Bit j of a token's hash is the top bit
    of hex nibble j of its digest string; the doc's simhash sets bit j
    iff the sum over tokens of (+-1) votes is positive. The digest is
    md5(token) for bits <= 32, extended (r8) with a second independent
    digest md5('1|' || token) for bits 32-63 — one md5 yields only 32
    nibbles, and the old ``bits <= 32`` ceiling forced
    ``simhash_auto_bits`` to CLAMP at 5x10^5+ docs: at 5M docs a
    32-bit/4-block split leaves 8-bit blocks whose (block, value)
    buckets hold >= corpus/256 docs by pigeonhole — quadratic candidate
    growth the sizing rule exists to prevent. 64 bits keeps block
    width growing to ~10^8 docs (15-bit blocks at 5M).

    Entirely higher-order functions over a per-row token-hash array —
    zero shuffles (an explode+groupBy formulation would shuffle every
    token of the corpus). The source is spread first when its file
    layout under-parallelizes (see `_shingles`): the per-token md5 +
    per-bit vote is the whole cost and it fuses into the scan."""
    from torcharrow_spark.operators.preprocess import spread_narrow_source

    df = spread_narrow_source(df)
    assert bits <= 64
    if bits <= 32:
        digest = F.md5
    else:
        # 64 hex nibbles: digest = md5(w) || md5('1|' || w); nibble j
        # of the concat feeds bit j, so bits <= 32 reproduce the old
        # construction exactly
        digest = lambda w: F.concat(  # noqa: E731
            F.md5(w), F.md5(F.concat(F.lit("1|"), w))
        )
    hashes = F.transform(F.split(_norm_text(F.col(text_col)), " "), digest)

    def vote(j: int):
        return F.aggregate(
            F.col("__h__"),
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.conv(F.substring(h, j + 1, 1), 16, 10).cast("int") >= 8, 1).otherwise(-1),
        )

    sim = None
    for j in range(bits):
        # shiftleft, not a 2**j literal: bit 63 (2^63) exceeds signed
        # long as a Python literal; shiftleft(1, 63) is min-long and
        # the wrapping sum still composes the exact 64-bit pattern
        bit = F.when(
            vote(j) > 0, F.shiftleft(F.lit(1).cast("long"), j)
        ).otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else sim + bit
    return df.select(F.col(id_col), hashes.alias("__h__")).select(
        id_col, sim.alias("simhash")
    )


def simhash_groups(df: SDF, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> SDF:
    """Docs sharing an identical simhash bucket (near-dup clusters)."""
    s = simhash(df, text_col, id_col, bits)
    return (
        s.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("rep_id"))
        .where(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard


def ngram_jaccard_pairs(
    df: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    mode: str = "auto",
    elect_threshold: int = DEFAULT_ELECT_THRESHOLD,
) -> SDF:
    """Exact Jaccard similarity over distinct k-shingles.

    mode='direct' computes group-first: shuffle (doc, shingle) ONCE on
    shingle, collect the (sorted) doc list per shingle, and emit the
    C(n,2) ordered pairs from each list with a nested array transform —
    |A ∩ B| is then a pair count. A self-join formulation shuffles the
    shingle table twice; this shuffles it once, and only shingles shared
    by ≥2 docs survive to the pair stage. |A ∪ B| = |A| + |B| − |A ∩ B|.
    Each shingle row carries its doc's size (read off the shingle array
    before the explode — zero extra shuffle), so the classic length
    bound min(|A|,|B|) >= ceil(t·max(|A|,|B|)) prunes candidate pairs
    AT EMISSION and the final jaccard needs no size join-back.
    The shingle key is high-cardinality text → even shuffle; BUT a
    boilerplate shingle shared by m docs costs O(m²) pairs — pair blowup
    is driven by shingle document-frequency, NOT corpus row count, so a
    10k-doc corpus that is 90% boilerplate still explodes in this mode.
    Opt in only when the corpus is known small AND low-duplication
    (measure with `estimate_jaccard_pair_cost` first). Direct mode has
    NO representative election (its packed-long members cannot carry a
    class key; ``elect_threshold`` applies to the prefix plan only) —
    one more reason it is never the scale default.

    mode='prefix' delegates to `ngram_jaccard_pairs_prefix` (PPJoin-style
    prefix filter — identical output, candidates scale with true
    near-dups instead of Σ C(df, 2)).

    mode='auto' (default) is 'prefix': the only plan whose cost is
    bounded under adversarial duplication, and choosing it requires no
    plan-time Spark job (a row-count guard both triggers a blocking
    count() per call and guards the wrong variable). 'direct' is a
    measured micro-optimization for small trusted corpora, never the
    default.

    mode='direct' requires an INTEGRAL id column with 0 <= id < 2^43
    (the (id, size) pack rides one long) and returns id_a/id_b as
    LONG; non-integral id columns are routed to the prefix plan —
    which preserves the id type — at plan time, no job needed."""
    if mode == "auto":
        mode = "prefix"
    if mode == "direct":
        # plan-time type check (free): the packed-long fast path only
        # holds for integral ids; anything else takes the prefix plan,
        # which accepts and preserves any id type
        id_type = dict(df.dtypes).get(id_col, "")
        if id_type not in ("tinyint", "smallint", "int", "bigint"):
            mode = "prefix"
    if mode == "prefix":
        return ngram_jaccard_pairs_prefix(
            df, text_col, id_col, shingle_k, threshold, elect_threshold
        )
    # doc size (distinct-shingle count) is taken from the materialized
    # shingle ARRAY before the explode, so every shingle row carries its
    # doc's size for free — no separate per-doc groupBy, and the
    # classic length filter (jaccard >= t forces min(|A|,|B|) >=
    # ceil(t * max)) applies to each candidate pair AT EMISSION, before
    # the pair-dedup shuffle ever sees it.
    # SHAPE MATTERS (SURVEY §4.3): the array must have exactly ONE
    # consumer expression in the next projection. The obvious spelling
    # — size("__s__") + explode("__s__") side by side — makes Catalyst
    # inline the array build into BOTH consumers (and the word split
    # into all of those), re-evaluating the shingle construction 3x per
    # row (measured 2.9x wall on q21 at sf0.1). Wrapping (size, item)
    # into a struct array inside a single explode keeps one evaluation.
    words = F.split(_norm_text(F.col(text_col)), " ")
    base = (
        df.select(F.col(id_col), words.alias("__w__"))
        .select(
            F.col(id_col), _shingle_array(F.col("__w__"), shingle_k).alias("__s__")
        )
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.col("__s__"),
                    lambda s: F.struct(
                        F.size(F.col("__s__")).alias("sz"), s.alias("sh")
                    ),
                )
            ).alias("z"),
        )
    )
    # shuffle on a 64-bit hash of the shingle, not the 20-30 byte text:
    # ~3x smaller shuffle keys; a cross-shingle collision (~n^2/2^65)
    # could only perturb results if both collided shingles also shared a
    # doc pair — negligible against the corpus sizes this targets
    # (id, sz) packed into ONE long — id in the high 42 bits, size in
    # the low 20 (bounds checked; 2^20 shingles means a ~1M-word doc,
    # far past any quality gate) — so the pair machinery shuffles and
    # aggregates bare 8-byte longs exactly like the exact-dedup path:
    # half the shuffle bytes of an (id, sz) struct and a two-long
    # HashAggregate key instead of four columns. Packed order == id
    # order (sz is functionally determined by id), so sorted pair
    # emission still yields id_a < id_b.
    sz_long = F.col("z.sz").cast("long")
    idl = F.col(id_col).cast("long")
    pk = F.when(
        (sz_long < F.lit(1 << _PACK_SZ_BITS))
        & (idl >= 0)
        & (idl < F.lit(1 << (63 - _PACK_SZ_BITS))),
        F.shiftleft(idl, _PACK_SZ_BITS) + sz_long,
    ).otherwise(
        F.raise_error(
            F.lit(
                "ngram_jaccard_pairs(mode='direct') packs (id, size) into "
                "one long: requires 0 <= id < 2^43 and < 2^20 distinct "
                "shingles per doc"
            )
        ).cast("long")
    )
    shh = base.select(pk.alias("p"), F.xxhash64(F.col("z.sh")).alias("shingle"))
    ids_per_shingle = (
        shh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("p")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    # memory-bounded emission (see _emit_pairs): a boilerplate shingle's
    # C(df, 2) pairs stream row-by-row instead of one giant array —
    # direct mode on a hot corpus stays slow-not-OOM (prefix mode stays
    # the scale default regardless)
    raw = _emit_pairs(ids_per_shingle, "ids")
    mask = F.lit((1 << _PACK_SZ_BITS) - 1)
    sz_a = F.col("__a__").bitwiseAND(mask)
    sz_b = F.col("__b__").bitwiseAND(mask)
    length_ok = F.least(sz_a, sz_b) >= _ceil_exact(
        F.lit(threshold) * F.greatest(sz_a, sz_b)
    )
    # sz rides inside the pair key, so the final jaccard needs NO size
    # join-back at all — the old two hash joins disappear along with
    # the length-pruned pairs
    inter = (
        raw.where(length_ok)
        .groupBy("__a__", "__b__")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a2 = F.col("__a__").bitwiseAND(mask)
    sz_b2 = F.col("__b__").bitwiseAND(mask)
    return inter.select(
        F.shiftrightunsigned(F.col("__a__"), _PACK_SZ_BITS).alias("id_a"),
        F.shiftrightunsigned(F.col("__b__"), _PACK_SZ_BITS).alias("id_b"),
        (
            F.col("inter").cast("double")
            / (sz_a2 + sz_b2 - F.col("inter")).cast("double")
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def estimate_jaccard_pair_cost(
    df: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    sample_mod: int = 64,
) -> dict:
    """Measured guard for opting into ``mode='direct'``: estimate the
    direct plan's pair blowup Σ_shingles C(df, 2) from a deterministic
    1/``sample_mod`` hash-sample of the *shingle key space* (every doc
    contributes, so per-shingle document frequencies in the sample are
    exact, not subsampled — the estimate is unbiased in the keys, not the
    rows). One small aggregate job; returns
    ``{'est_pairs': float, 'max_df': int, 'sampled_shingles': int}``.
    Route to 'direct' only when est_pairs is comfortably small (say
    < 10M) AND max_df is bounded; otherwise stay on the default prefix
    plan. This is intentionally NOT wired into mode='auto' — plan
    construction stays job-free."""
    sh = _shingles(df, text_col, id_col, shingle_k).select(
        F.xxhash64(F.col("shingle")).alias("h")
    )
    row = (
        sh.where(F.pmod(F.col("h"), F.lit(sample_mod)) == 0)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(
            F.coalesce(
                F.sum(F.col("df") * (F.col("df") - 1) / 2.0), F.lit(0.0)
            ).alias("pairs"),
            F.coalesce(F.max("df"), F.lit(0)).alias("max_df"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    return {
        "est_pairs": float(row["pairs"]) * sample_mod,
        "max_df": int(row["max_df"]),
        "sampled_shingles": int(row["n"]),
    }


def ngram_jaccard_pairs_prefix(
    df: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    elect_threshold: int = DEFAULT_ELECT_THRESHOLD,
    checkpoint_survivors: bool = True,
) -> SDF:
    """Prefix-filtered exact Jaccard join (PPJoin-family, public
    algorithm): identical output to `ngram_jaccard_pairs`, asymptotically
    fewer candidates.

    Principle: order all shingles globally by (document frequency,
    shingle) ascending. If jaccard(A, B) >= t then |A ∩ B| >=
    ceil(t/(1+t) * (|A|+|B|)) >= t*|A| (for |B| >= |A|), so A and B MUST
    share at least one shingle among the first |A| - ceil(t*|A|) + 1 of
    each doc's globally-ordered shingles. Candidates are generated only
    from these prefixes — rare shingles first, so hot boilerplate
    shingles almost never enter a prefix — then verified with an exact
    intersection on the docs' full (sorted) shingle-hash arrays.

    Cost model: two extra shuffles (global df count, per-doc arrays)
    buy a candidate set that scales with the number of true near-dups
    instead of with sum-over-shingles C(df, 2). Use this form when the
    corpus has heavy shingle reuse; the direct form wins on small or
    low-duplication corpora.

    100x audit (r7, measured at the sf10 stress tier): every stage is
    LINEAR in the corpus — buckets 234,853 -> 2,348,941, raw pairs
    6.95M -> 69.5M, filtered candidates 3.25M -> 32.5M, wall 14.6 s ->
    144.9 s (9.9x at 10x rows; the 19.9 recorded in
    `git show 5f1e4e3:BENCH_r06.json` was one noisy steady run of the
    byte-identical plan). The dominant exchange
    (~86% of the query's shuffle) is the verify intermediate: one full
    sorted hash array (~52 longs, incompressible 64-bit values — lz4
    lands at ~the 416 B/row entropy floor) crosses the wire per
    surviving candidate, which is the information-theoretic minimum
    for exact intersection of pair-distributed sets (each pair needs
    both arrays co-located; one side must move). Measured rejects:
    shuffle_hash hints on the verify joins (+12% wall, +19% bytes —
    SMJ's sort is cheaper than SHJ's build at this shape), and an
    accumulated-overlap positional filter (k + min(sz - last shared
    prefix pos) >= minoverlap — prunes ZERO extra pairs here: at
    t=0.3 on ~52-shingle docs, candidates overwhelmingly share exactly
    one prefix shingle, and the single-row bound already encodes
    that). Low-threshold set-similarity join is candidate-bound by
    nature; the scale lever is the threshold and shingle width, not
    the plan."""
    sh = _shingles(df, text_col, id_col, shingle_k)
    # 64-bit hash of each shingle: arrays of longs intersect much faster
    # than arrays of strings, and 2^64 makes collisions negligible; the
    # hash only orders/buckets candidates — final pairs come from an
    # exact intersection, so the hash choice never changes the output
    shh = sh.select(id_col, F.xxhash64(F.col("shingle")).alias("h"))
    # document frequency via partial-aggregating groupBy + join-back, NOT
    # a window: WindowExec buffers (and spills) every rows-of-one-key
    # group, so a boilerplate shingle appearing in 10^9 docs becomes one
    # straggler task sorting 10^9 rows. HashAggregate's map-side combine
    # collapses a hot key to one row per map task BEFORE the shuffle; the
    # join-back streams the probe side (one build row per key, no group
    # buffer), and — unlike a window partition — AQE skew-join can SPLIT
    # a skewed join partition across tasks. The extra shuffle is the
    # price of no per-key buffering at 100x scale.
    dfreq = shh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    ranked = shh.join(dfreq, "h")
    # Every collect_list groupBy in this operator sits behind a PINNED
    # repartition on its group key (r6, found at the sf10 tier) for two
    # compounding reasons. (1) ObjectHashAggregate falls back to
    # SORT-BASED aggregation past a small key count, so a map-side
    # partial_collect_list over the corpus-sized shingle table
    # externally sorts each map task's full split — measured tens of
    # GB of sort spill at sf10 — while reducing NOTHING (a partial
    # list-collect only re-groups rows; output bytes == input bytes).
    # With the explicit repartition the planner sees the distribution
    # satisfied and runs the whole aggregate post-shuffle, where each
    # task sorts bytes/n_part (in-memory at any organic scale) and the
    # exchange carries the same bytes the partial's output would have.
    # (2) The pinned width (8x parallelism) keeps AQE from coalescing
    # these exchanges down to byte-proportional task counts that are
    # blind to the consumer's generator amplification (§4.3 case study
    # #3): the bucket exchange's consumer emits tens of millions of
    # candidate rows per task, and at 34 coalesced tasks the candidate
    # shuffle-write SORTER itself spilled (~430 MB of emitted pairs
    # per map task).
    n_wide = df.sparkSession.sparkContext.defaultParallelism * 8
    # per-doc: one sorted (df, h) buffer; the prefix derives from it
    # with narrow array ops
    per_doc = (
        ranked.repartition(n_wide, F.col(id_col))
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "h"))).alias("by_rarity"),
            F.count(F.lit(1)).alias("sz"),
        )
        .select(
            id_col,
            "sz",
            F.transform(F.col("by_rarity"), lambda s: s["h"]).alias("all_h"),
            F.slice(
                F.transform(F.col("by_rarity"), lambda s: s["h"]),
                1,
                (F.col("sz") - _ceil_exact(F.lit(threshold) * F.col("sz")) + 1).cast(
                    "int"
                ),
            ).alias("prefix"),
        )
    )
    # prefix rows carry (position in the doc's rarity order, doc size):
    # the PPJoin positional bound needs both. __ck__ (xxhash64 of the
    # doc's FULL sorted shingle-hash array) is the election class key:
    # exact-duplicate texts share every shingle, so every prefix bucket
    # of a 10^6-duplicated text holds all copies — election collapses
    # each such bucket to per-set representatives + linear stars (which
    # verify to jaccard exactly 1.0 below). 8 bytes/prefix-row is the
    # cost; identical docs share pos per bucket so star pairs pass the
    # positional filter wherever their reps do.
    pref = per_doc.select(
        id_col, "sz", F.xxhash64("all_h").alias("__ck__"),
        F.posexplode("prefix").alias("pos", "h"),
    )
    buckets = (
        pref.repartition(n_wide, F.col("h"))
        .groupBy("h")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col(id_col).alias("id"), "pos", "sz", "__ck__")
                )
            ).alias("ids")
        )
        .where(F.size("ids") >= 2)
    )
    # memory-bounded emission (see _emit_pairs)
    raw = _emit_pairs(
        buckets, "ids", elect_key=lambda x: x["__ck__"],
        elect_threshold=elect_threshold,
    ).select(
        F.col("__a__.id").alias("id_a"), F.col("__a__.pos").alias("pos_a"),
        F.col("__a__.sz").alias("sz_a"),
        F.col("__b__.id").alias("id_b"), F.col("__b__.pos").alias("pos_b"),
        F.col("__b__.sz").alias("sz_b"),
    )
    # PPJoin pruning BEFORE the dedup shuffle — both filters are
    # lossless (classic bounds over the consistent global (df, h)
    # shingle order):
    #  - length: jaccard >= t forces min(|A|,|B|) >= ceil(t * max),
    #  - positional: for the globally-first SHARED shingle h*,
    #    |A∩B| <= 1 + min(|A|-pos_a, |B|-pos_b) must reach the
    #    equivalent-overlap bound ceil(t/(1+t) * (|A|+|B|)); a true
    #    pair's h*-row always passes, so keeping pairs where ANY
    #    generating row passes (filter, then distinct) loses nothing.
    # At low thresholds prefixes are long (70% of the doc at t=0.3) and
    # this is what keeps the candidate set near the true-pair count.
    minoverlap = _ceil_exact(
        F.lit(threshold / (1.0 + threshold)) * (F.col("sz_a") + F.col("sz_b"))
    )
    # pos is 0-based: elements after the shared shingle = sz - pos - 1,
    # so ubound = 1 + min(remaining) = min(sz - pos)
    ubound = F.least(
        F.col("sz_a") - F.col("pos_a"), F.col("sz_b") - F.col("pos_b")
    )
    length_ok = F.least(F.col("sz_a"), F.col("sz_b")) >= _ceil_exact(
        F.lit(threshold) * F.greatest(F.col("sz_a"), F.col("sz_b"))
    )
    # candidate pairs dedup on BARE id pairs (HashAggregate over two
    # longs) — carrying the docs' full hash arrays through this shuffle
    # would both multiply shuffle bytes by each pair's shared-prefix
    # count and demote the dedup to SortAggregate (array buffers).
    #
    cand = (
        raw.where(length_ok & (ubound >= minoverlap))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact verify on per-doc hash arrays: two hash joins keyed on id
    # attach each side's array, then ONE codegen projection computes
    # |A ∩ B| via array_intersect (hash-set intersection, O(|A|+|B|)
    # per pair). The alternative — expanding candidates back onto the
    # shingle TABLE and re-counting — shuffles candidates x
    # shingles-per-doc rows (~100x more) through two joins and an
    # aggregate; measured 5x slower at 50k docs. The arrays table is
    # corpus-sized but joins on id (distributed build side), never
    # broadcast-dependent.
    #
    # The arrays are REBUILT from the bare hashed-shingle table, NOT
    # projected off `per_doc` (r6, found at the sf10 tier):
    # array_intersect is order-agnostic, so the verify side never
    # needed per_doc's rarity ordering — and deriving it from per_doc
    # made each verify join clone the WHOLE ranked pipeline (dfreq
    # aggregate + join + by-rarity sort). Relation dedup gives the
    # clones fresh expr/lambda ids and column pruning gives them
    # different shapes (no `prefix`), so ReuseExchange can never merge
    # them with the candidate branch: the optimized plan ran the
    # shingle pipeline THREE times (SURVEY §4.3 case studies #4/#5,
    # manifested as plan triplication). The rebuilt form still clones
    # the shingle explode per side — irreducible without a
    # benchmark-distorting cache — but drops the dfreq aggregate, the
    # join and the sort from both clones.
    #
    # r8: the verify intermediate was the sf10
    # tier's dominant byte mover (~86% of q21-auto's 17.7 GB shuffle —
    # one full 64-bit hash array riding the second verify join per
    # surviving candidate). Pure delta-encoding cannot shrink it
    # (sorted UNIFORM 64-bit hashes have ~2^64/sz gaps — still ~58
    # entropy bits each), so the candidate-volume pass now carries the
    # LOW 32 BITS per shingle hash (h32 arrays — half the exchanged
    # array bytes on BOTH the arrays build and the verify joins), and
    # exactness is restored by a second, SURVIVOR-sized 64-bit pass:
    #
    #  * truncation is exactness-safe as a FILTER: within a doc whose
    #    h32s are all distinct ("clean", checked per doc at build
    #    time), 64->32 truncation is injective, so for a clean pair
    #    inter32 >= inter64 (every 64-bit match survives truncation;
    #    cross-doc 32-bit collisions only ADD matches) and
    #    jaccard32 >= jaccard64 — pass 1 keeps a SUPERSET of the true
    #    pairs. Docs with an internal h32 collision (~sz^2/2^33 ~ 1 in
    #    10^6 docs at 52 shingles) skip the pass-1 filter entirely.
    #  * pass 2 re-verifies every pass-1 survivor on the full 64-bit
    #    arrays, rebuilt from the shingle table FILTERED to survivor
    #    ids first (a semi-join against the tiny survivor-id set — AQE
    #    broadcasts it), so the exact arrays' exchange is
    #    survivor-sized, not corpus-sized. Output jaccard values come
    #    only from this pass — bit-identical to the pre-r8 plan and
    #    the SQL oracles (pinned in pytest with forced 32-bit
    #    collisions).
    # low 32 bits as a SIGNED int via pmod-shift — pure arithmetic, so
    # it cannot overflow-throw under an ANSI session (a bare
    # long->int cast does; operators must run under either mode —
    # tests/test_operators.py::test_operators_ansi_session_smoke);
    # injectivity on the low 32 bits is all pass 1 needs
    h32 = (
        F.pmod(F.col("h"), F.lit(4294967296)) - F.lit(2147483648)
    ).cast("int")
    arrays32 = (
        shh.repartition(n_wide, F.col(id_col))
        .groupBy(id_col)
        .agg(
            # sz stays the 64-bit distinct-shingle count
            F.collect_list(h32).alias("h32"),
            F.count(F.lit(1)).alias("sz"),
        )
        .select(
            id_col,
            "h32",
            "sz",
            (F.size(F.array_distinct("h32")) == F.col("sz")).alias("clean"),
        )
    )
    a32 = arrays32.select(
        F.col(id_col).alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.col("h32").alias("ha32"),
        F.col("clean").alias("clean_a"),
    )
    b32 = arrays32.select(
        F.col(id_col).alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("h32").alias("hb32"),
        F.col("clean").alias("clean_b"),
    )
    inter32 = F.size(F.array_intersect(F.col("ha32"), F.col("hb32")))
    jacc32 = inter32.cast("double") / (
        F.col("sz_a") + F.col("sz_b") - inter32
    ).cast("double")
    survivors = (
        cand.join(a32, "id_a")
        .join(b32, "id_b")
        .where(
            ~F.col("clean_a") | ~F.col("clean_b") | (jacc32 >= threshold)
        )
        .select("id_a", "id_b")
    )
    # the survivor table feeds pass 2 TWICE (its id set filters the
    # exact-array build; the pairs join those arrays) — left as a plan
    # diamond, relation dedup would clone the whole lambda-heavy
    # emission pipeline with fresh lambda ids, ReuseExchange would miss
    # (SURVEY §4.3 case studies #4/#5) and the candidate stage would
    # execute twice. A lineage cut (same device connected_components
    # uses for its iteration frontier) materializes the tiny pair
    # table once and both consumers read the stored blocks. The cut is
    # NOT free of side effects at build time: under AQE
    # ``localCheckpoint(eager=False)`` plans the RDD, which runs the
    # upstream shuffle stages while the query is being built, so pass 1
    # executes here rather than at the sink.
    # ``checkpoint_survivors=False`` opts out (plan-inspection tests:
    # the checkpoint boundary hides the emission subplan from the
    # final DF's physical plan text — the double-execution cost is
    # then the caller's to accept).
    if checkpoint_survivors:
        survivors = lineage_cut(survivors)
    # pass 2: exact 64-bit verify, survivor-sized on every EXCHANGE and
    # every SHINGLE — the raw docs are semi-filtered by survivor id
    # BEFORE re-shingling (surv_ids is output-sized, AQE broadcasts
    # it), so the two pass-2 array clones re-shingle only the handful
    # of survivor docs, not the corpus (a first cut semi-joined the
    # exploded shingle table instead and paid two extra full-corpus
    # shingle passes: sf1 wall +45%, measured and fixed)
    surv_ids = survivors.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    surv_docs = df.select(id_col, text_col).join(surv_ids, id_col, "left_semi")
    arrays64 = (
        _shingles(surv_docs, text_col, id_col, shingle_k)
        .groupBy(id_col)
        .agg(
            F.collect_list(F.xxhash64(F.col("shingle"))).alias("all_h"),
            F.count(F.lit(1)).alias("sz"),
        )
    )
    a_arr = arrays64.select(
        F.col(id_col).alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.col("all_h").alias("ha"),
    )
    b_arr = arrays64.select(
        F.col(id_col).alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("all_h").alias("hb"),
    )
    inter = F.size(F.array_intersect(F.col("ha"), F.col("hb")))
    return (
        survivors.join(a_arr, "id_a")
        .join(b_arr, "id_b")
        .select(
            "id_a",
            "id_b",
            "sz_a",
            "sz_b",
            inter.alias("inter"),
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash_auto_bits(
    n_docs: int, max_hamming: int = 3, target_bucket: int = 256
) -> int:
    """The documented SimHash sizing rule as code: each of the
    (max_hamming + 1) pigeonhole blocks should hold ~target_bucket docs,
    so bits = (k + 1) * ceil(log2(n / target_bucket)), clamped to
    [16, 64] (r8: the two-digest construction in `simhash` yields 64
    nibbles; the old 32-bit ceiling CLAMPED the rule at >= ~5x10^5
    docs — at 5M docs it left 8-bit blocks whose buckets hold
    corpus/256 docs by pigeonhole, exactly the quadratic cliff the
    rule exists to prevent; found preparing the r8 sf100 evidence
    run). 50k docs at k=3 -> 32; 500k -> 44; 5M -> 60; <= ~10^4 docs
    -> the old default 16."""
    import math

    per_block = max(1, math.ceil(math.log2(max(n_docs, 1) / target_bucket)))
    return max(
        SIMHASH_MIN_BITS, min(SIMHASH_MAX_BITS, (max_hamming + 1) * per_block)
    )


def simhash_pairs(
    df: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits="auto",
    max_hamming: int = 3,
    elect_threshold: int = DEFAULT_ELECT_THRESHOLD,
) -> SDF:
    """Near-duplicate pairs by SimHash Hamming distance <= max_hamming,
    via the block-permutation trick (Charikar/Manku et al., public): split
    the b-bit hash into (max_hamming + 1) blocks — two hashes within
    Hamming distance k MUST agree exactly on at least one block
    (pigeonhole), so candidates are generated per (block index, block
    value) with one groupBy, then verified exactly with
    bit_count(xor(h_a, h_b)). No self-join, no quadratic corpus scan;
    the block values are near-uniform, so the shuffle is even.

    Sizing rule — ``bits`` MUST grow with the corpus: each block has
    bits/(max_hamming+1) bits, so a (block, value) bucket holds
    ~corpus / 2^(bits/(k+1)) docs and candidate work is quadratic in
    that. ``bits='auto'`` (default) applies the rule itself — ONE cheap
    count() (id-column scan) sizes bits = (k+1)*log2(corpus/256) clamped
    to [SIMHASH_MIN_BITS, SIMHASH_MAX_BITS] = [16, 64] (r8 raised the
    ceiling from 32; the 32 clamp bound auto sizing at ~5x10^5 docs —
    the exact quadratic cliff the rule exists to prevent) — mirroring
    what ``ngram_jaccard_pairs(mode='auto')``
    does for algorithm choice, so a caller moving from 10^3 to 10^5 docs
    cannot silently keep an undersized hash. Pass an explicit int to pin
    the width (oracle queries do, for determinism across SFs). Candidate
    emission is memory-bounded per row (`_emit_pairs`), so an undersized
    explicit ``bits`` still degrades to slow, not to executor OOM.

    REPRODUCIBILITY NOTE: ``bits='auto'`` runs an eager count() at call
    time, and the chosen width depends on the corpus size — two runs
    over a grown corpus use different bucket widths and their pair sets
    are not directly comparable. The chosen width is logged
    (``torcharrow_spark.dedup`` logger, INFO); callers needing
    run-to-run comparability must pin an explicit int, as the oracle
    queries do."""
    if bits == "auto":
        n_docs = df.count()
        bits = simhash_auto_bits(n_docs, max_hamming)
        _log.info(
            "simhash_pairs bits='auto': corpus=%d docs, max_hamming=%d "
            "-> %d bits", n_docs, max_hamming, bits,
        )
    buckets = _simhash_buckets(df, text_col, id_col, bits, max_hamming)
    # election class key = the FULL simhash (already in the struct —
    # free): equal-hash members are Hamming-0, so a pathological bucket
    # collapses to per-hash representatives + linear stars (hamming 0,
    # always <= max_hamming, so stars survive the filter)
    return (
        _emit_pairs(buckets, "ms", elect_key=lambda x: x["h"], elect_threshold=elect_threshold)
        .select(
            F.col("__a__.i").alias("id_a"),
            F.col("__b__.i").alias("id_b"),
            F.bit_count(
                F.col("__a__.h").bitwiseXOR(F.col("__b__.h"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _simhash_buckets(
    df: SDF, text_col: str, id_col: str, bits: int, max_hamming: int
) -> SDF:
    """Block-permutation candidate buckets: (blk, val, ms) with member
    structs (i: id, h: full simhash — the election class key)."""
    n_blocks = max_hamming + 1
    widths = [bits // n_blocks + (1 if i < bits % n_blocks else 0) for i in range(n_blocks)]
    s = simhash(df, text_col, id_col, bits)

    offset = 0
    block_exprs = []
    for i, w in enumerate(widths):
        # w == 64 only when max_hamming == 0 at the full 64-bit width
        # (one block = the whole hash): (1 << 64) - 1 overflows a
        # signed long literal at plan time, and the all-
        # ones mask is a no-op anyway — skip the AND.
        shifted = F.shiftrightunsigned(F.col("simhash"), offset)
        masked = shifted if w >= 64 else shifted.bitwiseAND(F.lit((1 << w) - 1))
        block_exprs.append(
            F.struct(F.lit(i).alias("blk"), masked.alias("val"))
        )
        offset += w
    banded = s.select(
        id_col, "simhash", F.explode(F.array(*block_exprs)).alias("b")
    ).select(id_col, "simhash", F.col("b.blk").alias("blk"), F.col("b.val").alias("val"))

    return (
        banded.groupBy("blk", "val")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("h")))
            ).alias("ms")
        )
        .where(F.size("ms") >= 2)
    )


def simhash_bucket_audit(
    df: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
    elect_threshold: int = DEFAULT_ELECT_THRESHOLD,
) -> SDF:
    """Election audit for `simhash_pairs` (see `_elect_audit`): every
    (block, value) bucket the collapse policy would touch. ``bits``
    must be explicit (no 'auto' — audits want run-to-run comparable
    keying)."""
    return _elect_audit(
        _simhash_buckets(df, text_col, id_col, bits, max_hamming),
        "ms",
        lambda x: x["h"],
        elect_threshold,
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: candidate pairs -> connected components -> one
# representative per cluster (the standard last mile of a dedup pipeline)


def connected_components(
    edges: SDF,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> SDF:
    """Distributed connected components over an undirected edge list;
    returns (id, component) where component is the minimum node id
    reachable from id (the usual canonical label).

    Min-label propagation with pointer jumping: each round (1) every
    node takes the min label among itself and its neighbors (one
    shuffle), then (2) labels chase their parent's current label
    (pointer doubling, one self-join) so label chains collapse in
    O(log n) rounds instead of O(diameter). Convergence = zero labels
    changed. Lineage is truncated every round via
    ``preprocess.lineage_cut`` — iterative plans otherwise grow
    exponentially; with a checkpoint dir configured the cut uses
    reliable ``checkpoint()`` (cluster-safe), else ``localCheckpoint``.
    Near-duplicate graphs are
    near-cliques with tiny diameters, so this typically converges in
    2-4 rounds; max_iter is a safety bound, not a tuning knob."""
    # ids keep their native type: a cast to long would null out string /
    # UUID ids (ANSI off) and silently produce all-singleton components
    sym = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    sym = sym.union(sym.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # r12 (guide §5): `sym` is consumed by EVERY iteration's min-label
    # join (plus the label init) — each a separate action, so without a
    # lineage cut the caller's whole pair pipeline (minhash shingle ->
    # signature -> band buckets -> emission for near_dup_clusters)
    # re-executes per round. One lazy lineage cut makes iterations
    # read executor-local edge blocks instead: measured at sf0.1 on
    # q166's minhash edges, shuffle bytes 9,481,225 -> 2,666,167 (-72%,
    # the re-executed exchanges gone) and wall 14.8 -> 5.2 s best in
    # the same session, output identical. Edge lists are output-scale
    # (election-bounded upstream), so the stored blocks are small
    # relative to the corpus at any scale.
    sym = lineage_cut(sym)
    labels = lineage_cut(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label")),
        eager=True,
    )
    for _ in range(max_iter):
        nmin = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # carry the round's starting label through as __old__ so
        # convergence is a filter-count on the checkpointed frame —
        # the r12 form re-joined jumped against labels on id (one more
        # exchange of both label sets per round) to recover the same
        # bit of information (r13, guide §2.4)
        stepped = (
            labels.join(nmin, labels["id"] == nmin["src"], "left")
            .select(
                labels["id"],
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
                labels["label"].alias("__old__"),
            )
        )
        parents = stepped.select(
            F.col("id").alias("pid"), F.col("label").alias("plabel")
        )
        jumped = (
            stepped.join(parents, stepped["label"] == parents["pid"], "left")
            .select(
                stepped["id"],
                F.coalesce(F.col("plabel"), F.col("label")).alias("label"),
                stepped["__old__"],
            )
            .select(
                "id",
                "label",
                (F.col("label") != F.col("__old__")).alias("__chg__"),
            )
        )
        # lazy cut: the changed-count action below materializes the
        # checkpoint as it runs, so each round is ONE Spark job (the
        # r12 form paid an eager-checkpoint job plus a count job)
        jumped = lineage_cut(jumped)
        changed = jumped.where(F.col("__chg__")).count()
        labels = jumped.select("id", "label")
        if changed == 0:
            break
    return labels.select(F.col("id"), F.col("label").alias("component"))


def near_dup_clusters(
    df: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs: SDF | None = None,
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> SDF:
    """(id, cluster) for EVERY document: MinHash-LSH candidate pairs
    (or any caller-supplied (id_a, id_b) pair frame — e.g. the exact
    ngram_jaccard_pairs for verified edges) -> connected components;
    documents in no pair are their own singleton cluster."""
    if pairs is None:
        pairs = minhash_pairs(df, text_col, id_col, shingle_k, num_hashes, bands)
    comp = connected_components(pairs)
    return (
        df.select(F.col(id_col))
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster"),
        )
    )


def near_dedup(
    df: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    **cluster_kwargs,
) -> SDF:
    """Surviving rows after near-duplicate removal: keep the min-id
    document of each cluster (one semi-join, same keep-min-id contract
    as exact_dedup)."""
    clusters = near_dup_clusters(df, text_col, id_col, **cluster_kwargs)
    # the component label IS the minimum member id (and singletons label
    # themselves), so the distinct labels are exactly the keeper set
    keep = clusters.select(F.col("cluster").alias(id_col)).distinct()
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# Exact substring (k-token span) dedup — Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" (public paper); the
# distributed formulation here is span-hash counting rather than a
# suffix array: identical detection semantics for fixed k.


def duplicate_spans(
    df: SDF, k: int = 10, text_col: str = "text", id_col: str = "doc_id"
) -> SDF:
    """Every k-token window whose exact (normalized) token sequence
    occurs more than once across the whole corpus — including repeats
    within one document.  Returns (id, ``span_start`` token index,
    ``n_copies``).

    Scale design: one narrow fan-out to (doc, pos, span-hash) rows —
    span text is hashed to two 60-bit md5 halves immediately, so 16
    bytes per span ride the single shuffle (corpus-frequency count via
    a window over the hash halves; no join-back).  Fan-out is linear:
    n_tokens rows per doc, same order as the corpus itself."""
    from pyspark.sql import Window

    from torcharrow_spark.operators.preprocess import spread_narrow_source

    df = spread_narrow_source(df)
    words = F.split(_norm_text(F.col(text_col)), " ")
    n = F.size(F.col("__w__"))
    idx = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>")
    )
    span = F.array_join(F.slice(F.col("__w__"), F.col("__s__") + 1, k), " ")
    hex_ = F.md5(span)
    spans = (
        df.select(F.col(id_col), words.alias("__w__"))
        .select(F.col(id_col), "__w__", F.explode(idx).alias("__s__"))
        .select(
            F.col(id_col),
            F.col("__s__"),
            F.conv(F.substring(hex_, 1, 15), 16, 10).cast("long").alias("__h1__"),
            F.conv(F.substring(hex_, 16, 15), 16, 10).cast("long").alias("__h2__"),
        )
    )
    w = Window.partitionBy("__h1__", "__h2__")
    return (
        spans.withColumn("n_copies", F.count(F.lit(1)).over(w).cast("long"))
        .where(F.col("n_copies") > 1)
        .select(F.col(id_col), F.col("__s__").alias("span_start"), "n_copies")
    )


def strip_duplicate_spans(
    df: SDF, k: int = 10, text_col: str = "text", id_col: str = "doc_id"
) -> SDF:
    """Remove every token covered by any corpus-duplicated k-token span
    and reassemble the remaining (normalized) tokens in order.  All
    occurrences are removed (the conservative C4-style variant; keeping
    one canonical copy would need a global occurrence tie-break).

    Plan: duplicate_spans' single hash-shuffle, a per-doc
    collect_list of span starts (doc_id shuffle), then a zero-shuffle
    per-doc mask — token i survives iff no dup span s covers it
    (two-arg filter HOF; per-doc cost O(tokens x dup_spans), and dup
    spans are few for any corpus worth keeping).  Output: id, cleaned
    ``text``, ``n_tokens`` (original), ``n_removed``."""
    from torcharrow_spark.operators.preprocess import spread_narrow_source

    dups = duplicate_spans(df, k, text_col, id_col)
    starts = dups.groupBy(id_col).agg(
        F.array_distinct(F.collect_list("span_start")).alias("__starts__")
    )
    words = F.split(_norm_text(F.col(text_col)), " ")
    # spread the mask branch too: if `starts` broadcasts, this side
    # would otherwise keep the source's (possibly single-task) width
    # through the per-token mask
    base = spread_narrow_source(df).select(
        F.col(id_col), words.alias("__w__")
    ).join(starts, id_col, "left")
    st = F.coalesce(F.col("__starts__"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("__w__"),
        lambda x, i: ~F.exists(st, lambda s: (s <= i) & (i < s + k)),
    )
    return base.select(
        F.col(id_col),
        F.array_join(kept, " ").alias(text_col),
        F.size("__w__").cast("long").alias("n_tokens"),
        (F.size("__w__") - F.size(kept)).cast("long").alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# Train/test contamination (decontamination): n-gram overlap between two
# corpora — the eval-leakage check every training pipeline runs before
# publishing benchmark numbers (public practice, e.g. GPT-2/3 papers'
# 8-gram decontamination).


def contamination(
    train: SDF,
    test: SDF,
    k: int = 8,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> SDF:
    """For each test document: the fraction of its distinct k-token
    shingles that appear ANYWHERE in the train corpus, and a
    ``contaminated`` flag at ``threshold``.

    Scale design: train shingles collapse to DISTINCT 60-bit md5 hashes
    (8 bytes each — the train text never rides the shuffle); test
    shingles are (id, hash) pairs.  One hash-partitioned left-semi-
    style join (inner + distinct) counts hits; totals come from the
    same test shingle frame.  Everything is linear in corpus shingle
    count; no pairwise document comparison ever happens.  Documents
    with fewer than k tokens have no shingles: fraction 0.0, never
    flagged."""
    tr = (
        _shingles(train, text_col, id_col, k)
        .select(
            F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10)
            .cast("long")
            .alias("__h__")
        )
        .distinct()
    )
    te = _shingles(test, text_col, id_col, k).select(
        F.col(id_col),
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10)
        .cast("long")
        .alias("__h__"),
    )
    totals = te.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    hits = (
        te.join(tr, "__h__", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    ids = test.select(id_col).distinct()
    out = (
        ids.join(totals, id_col, "left")
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
        )
    )
    frac = F.when(
        F.col("n_shingles") == 0, F.lit(0.0)
    ).otherwise(
        F.col("n_overlap").cast("double") / F.col("n_shingles").cast("double")
    )
    return out.select(
        id_col,
        "n_shingles",
        "n_overlap",
        frac.alias("overlap_frac"),
        (frac >= threshold).alias("contaminated"),
    )


def similarity_join(
    left: SDF,
    right: SDF,
    text_col: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    mode: str = "auto",
) -> SDF:
    """Cross-corpus fuzzy text join: all (left, right) pairs whose
    k-shingle Jaccard similarity reaches ``threshold`` — the
    similarity-based decontamination / reference-dedup primitive
    (complement of :func:`contamination`'s exact-shingle semi-join,
    for when paraphrased overlap matters too).

    Built on the SAME candidate machinery as the single-corpus pairs
    (so mode='prefix' keeps the PPJoin scale path): both sides tag
    into one corpus with side encoded in the id's low bit
    (``cid = 2*id + side``), pairs are generated once, and only
    cross-side pairs survive.  No cross join, no second pair engine
    to maintain — q43's identity proof covers this path too.

    IDs must be non-negative integers (they are doubled into the
    combined key space).  Output: (left_id, right_id, jaccard).
    """
    lt = left.select(
        (F.col(left_id).cast("long") * 2).alias("__cid__"),
        F.col(text_col).alias("__t__"),
    )
    rt = right.select(
        (F.col(right_id).cast("long") * 2 + 1).alias("__cid__"),
        F.col(text_col).alias("__t__"),
    )
    pairs = ngram_jaccard_pairs(
        lt.unionByName(rt),
        text_col="__t__",
        id_col="__cid__",
        shingle_k=shingle_k,
        threshold=threshold,
        mode=mode,
    )
    a, b = F.col("id_a"), F.col("id_b")
    cross = pairs.where(F.pmod(a, 2) != F.pmod(b, 2))
    lid = F.when(F.pmod(a, 2) == 0, a).otherwise(b)
    rid = F.when(F.pmod(a, 2) == 1, a).otherwise(b)
    # integer shift, not /2: double division loses exactness above 2^53
    return cross.select(
        F.shiftright(lid.cast("long"), 1).alias("left_id"),
        F.shiftright(rid.cast("long"), 1).alias("right_id"),
        "jaccard",
    )


def minhash_merge(sig_a: SDF, sig_b: SDF, id_col: str = "doc_id") -> SDF:
    """Merge two MinHash signature tables by SET UNION semantics:
    element-wise min of the signature vectors (min is associative, so
    sig(A ∪ B) == zip_min(sig(A), sig(B)) exactly — the incremental /
    multi-shard property that lets per-shard signatures combine
    without re-reading text).  Ids present in only one input keep
    their signature.  One outer join on the id — signatures are
    num_hashes longs, so the shuffle is bytes per doc."""
    a = sig_a.select(id_col, F.col("sig").alias("__sa__"))
    b = sig_b.select(id_col, F.col("sig").alias("__sb__"))
    merged = F.when(
        F.col("__sa__").isNull(), F.col("__sb__")
    ).when(
        F.col("__sb__").isNull(), F.col("__sa__")
    ).otherwise(
        F.zip_with("__sa__", "__sb__", lambda x, y: F.least(x, y))
    )
    return a.join(b, id_col, "full_outer").select(
        id_col, merged.alias("sig")
    )


def minhash_index(
    df: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> SDF:
    """Corpus-side LSH index for INCREMENTAL dedup: (band, band_key,
    doc_id), one row per (doc, band). Build it once over the curated
    corpus, write it to parquet, and dedup every future delivery
    against it with `dedup_against_index` — no re-shingling of the
    100-TB corpus per delivery.

    Scale notes: rows are bands x corpus size but fixed-width (~50
    bytes: two small ints' worth of band, a ~40-byte band_key, a
    long id) — at 10^11 docs x 4 bands that is ~20 TB of index vs the
    100 TB of text it replaces in every subsequent dedup pass. Write
    it `partitionBy("band")` (or bucketed on band_key via
    `write_parquet(..., bucket_by=...)`) so delivery-time joins
    co-locate; appending a new delivery's own banded keys after it
    passes keeps the index current (band keys are per-doc, so the
    union IS the merged index — no rebuild)."""
    return _banded_keys(df, text_col, id_col, shingle_k, num_hashes, bands).select(
        "band", "band_key", id_col
    )


def dedup_against_index(
    new_df: SDF,
    index: SDF,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> SDF:
    """Incremental near-dedup: surviving rows of a NEW delivery against
    an already-curated corpus's `minhash_index` — the production shape
    at 100 TB ("dedup tonight's 1-TB crawl against everything we
    kept"), where re-running `minhash_pairs` over corpus+delta would
    re-shingle the whole corpus per delivery.

    A new document is DROPPED iff
      (a) any of its LSH band buckets appears in the corpus index
          (near-dup of something already kept), or
      (b) a lower-id document of the SAME delivery shares a bucket
          (greedy intra-delta keep-min-id — the standard one-pass LSH
          dedup rule; min is taken over the whole bucket, so the rule
          is deterministic and order-free).
    Documents too short to shingle (< shingle_k words) have no buckets
    and always survive, same as `minhash_pairs` never pairing them.

    Scale notes: NO pair emission anywhere — corpus collisions are one
    fixed-width-key left-semi join (delta-banded vs index; Catalyst
    prunes the index scan to (band, band_key) and AQE broadcasts the
    delta side when it is small), intra-delta survival is one
    map-side-combinable groupBy(min) + join-back on the same keys. A
    pathological bucket with 10^7 members costs ONE min aggregate, not
    C(m,2) pairs — incremental dedup is immune to the hot-bucket
    problem by construction, no election needed. Returns all original
    columns of the survivors."""
    banded = _banded_keys(
        new_df, text_col, id_col, shingle_k, num_hashes, bands
    ).select(id_col, "band", "band_key")
    corpus_hit = (
        banded.join(
            index.select("band", "band_key"), ["band", "band_key"], "left_semi"
        )
        .select(id_col)
        .distinct()
    )
    bucket_min = banded.groupBy("band", "band_key").agg(
        F.min(id_col).alias("__min_id__")
    )
    intra_hit = (
        banded.join(bucket_min, ["band", "band_key"])
        .where(F.col(id_col) > F.col("__min_id__"))
        .select(id_col)
        .distinct()
    )
    dropped = corpus_hit.union(intra_hit).distinct()
    return new_df.join(dropped, id_col, "left_anti")


def exact_index(df: SDF, text_col: str = "text", id_col: str = "doc_id") -> SDF:
    """Corpus-side EXACT-dedup index: one row per distinct normalized
    text, keyed by the same 120-bit md5 split (two 60-bit longs) as
    `exact_dedup_ids`, plus (r8) the class's WITNESS — the min doc_id
    holding that text — so retention/takedown can retire index rows by
    document id (`retire_from_index`). 24 bytes per distinct text, no
    text stored. Append a deduped delivery's own keys to keep it
    current.

    Witness semantics: a deduped corpus keeps exactly ONE document per
    text class, and that kept document IS the witness — so retiring a
    witness id retires the class (its text has left the corpus and a
    future copy must be re-admittable), which is precisely the
    takedown contract."""
    norm = _norm_text(F.col(text_col))
    hex_ = F.md5(norm)
    return (
        df.select(
            F.col(id_col),
            F.conv(F.substring(hex_, 1, 15), 16, 10).cast("long").alias("h_hi"),
            F.conv(F.substring(hex_, 16, 15), 16, 10).cast("long").alias("h_lo"),
        )
        .groupBy("h_hi", "h_lo")
        .agg(F.min(id_col).alias(id_col))
        .select("h_hi", "h_lo", id_col)
    )


def exact_dedup_against_index(
    new_df: SDF, index: SDF, text_col: str = "text", id_col: str = "doc_id"
) -> SDF:
    """Incremental exact dedup: survivors of a NEW delivery whose
    normalized text is not already in the corpus `exact_index`, after
    keep-min-id dedup within the delivery itself. One groupBy on the
    16-byte hash key (map-side combinable) + one anti-join against the
    index on the same key — the index side shuffles two longs per
    distinct corpus text, never text."""
    norm = _norm_text(F.col(text_col))
    hex_ = F.md5(norm)
    keyed = new_df.select(
        F.col(id_col),
        F.conv(F.substring(hex_, 1, 15), 16, 10).cast("long").alias("h_hi"),
        F.conv(F.substring(hex_, 16, 15), 16, 10).cast("long").alias("h_lo"),
    )
    intra = keyed.groupBy("h_hi", "h_lo").agg(F.min(id_col).alias(id_col))
    keep = intra.join(index, ["h_hi", "h_lo"], "left_anti").select(id_col)
    return new_df.join(keep, id_col, "left_semi")


def decontaminate(
    train: SDF,
    benchmark: SDF,
    k: int = 8,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> SDF:
    """Benchmark decontamination as a single operator: DROP every
    training document whose distinct-k-shingle overlap with the
    benchmark corpus reaches ``threshold`` (the flag-then-remove
    composition every eval-hygiene pipeline runs; `contamination` is
    the flag half, this returns the CLEANED corpus). Survivors keep
    ALL original columns plus the audit trail (n_shingles, n_overlap,
    overlap_frac) so downstream mixing can re-weight near-threshold
    documents instead of trusting a silent filter.

    Scale: one extra hash join of train against its own verdict table
    (id-keyed, train-sized) on top of `contamination`'s linear shingle
    semi-join; nothing pairwise. For paraphrased (non-exact) overlap
    use `similarity_join` and anti-join its left ids instead."""
    verdict = contamination(
        train=benchmark, test=train, k=k,
        threshold=threshold, text_col=text_col, id_col=id_col,
    )
    keep = verdict.where(~F.col("contaminated")).select(
        id_col, "n_shingles", "n_overlap", "overlap_frac"
    )
    return train.join(keep, id_col)


def retire_from_index(
    index: SDF, retired: SDF, id_col: str = "doc_id"
) -> SDF:
    """Remove retired documents from a dedup index (r8): real pipelines
    DELETE — retention windows, takedowns, license
    revocations — and an index that only grows keeps dead documents
    vetoing new deliveries forever. One anti-join by document id:

    * `minhash_index` rows are (band, band_key, doc_id), so retiring a
      doc drops ALL its band rows — a delta document that collided
      ONLY with retired docs now survives `dedup_against_index`
      (pinned in pytest);
    * `exact_index` rows are (h_hi, h_lo, witness doc_id); retiring
      the witness retires the text class (see `exact_index`'s witness
      semantics — the witness IS the kept corpus copy, so its removal
      means the text has left the corpus and a future copy must be
      re-admittable).

    ``retired`` is any DataFrame with an ``id_col`` column (extra
    columns ignored). Pure plan-level: callers persist the result over
    the index path themselves, or hand it to `compact_index(retired=)`
    which does the read-merge-swap. Scale: the anti-join shuffles only
    fixed-width key rows; the retired side is typically tiny and AQE
    broadcasts it."""
    return index.join(
        retired.select(id_col).distinct(), id_col, "left_anti"
    )


def compact_index(
    index_path: str,
    spark=None,
    retired: SDF | None = None,
    id_col: str = "doc_id",
    target_file_bytes: int = 128 << 20,
    keep_versions: int | None = None,
) -> dict:
    """Merge an incremental dedup index's ``{index_path}/delta/
    batch_id=N`` partitions (written by
    `streaming.incremental_dedup_stream`) into a NEW immutable base
    snapshot, optionally retiring documents in the same pass, and
    clear both the folded deltas and the stream's owner-checkpoint
    marker — after which a FRESH streaming checkpoint may claim the
    root (the remediation the replay guard's fail-fast directs to).

    r9: the swap is the
    RENAME-FREE pointer protocol of `operators.indexstore` — the
    merged snapshot is written to ``base_v{N}``, count-verified, and
    published by creating ONE manifest file; readers resolve the
    manifest (`indexstore.resolve_index_base`). The pre-r9
    scratch-then-rename swap had a data-loss window (a crash between
    deleting the old base and renaming the scratch left the only copy
    in a dir the next run deleted unconditionally) and could not run
    on object stores at all (no atomic directory rename). Under the
    manifest protocol there is NO instant at which the only copy of
    any row lives in an uncommitted location, crashes at every step
    roll forward or back cleanly (pytest crash matrix), and the same
    code commits to any store Spark's Hadoop connectors reach
    (``s3a://`` etc. — exercised in-container via ``file://``).

    Idempotence including retirement: each commit records the delta
    batch ids it folded (``merged_batches``), so a re-run after a
    crash that landed the commit but not the delta cleanup does NOT
    re-merge those deltas — which would otherwise resurrect rows a
    ``retired=`` pass had just removed.

    File right-sizing happens at write time (the merge repartitions to
    ~``target_file_bytes`` outputs from the measured input bytes) —
    no post-hoc rewrite. A pre-r9 legacy ``{index_path}/base`` dir is
    read as version 0 and migrated into the versioned layout on the
    first compaction. Returns a report dict."""
    from pyspark.sql import SparkSession

    from . import indexstore as ixs

    if spark is None:
        spark = SparkSession.getActiveSession()
    fs = ixs.fs_for(index_path, spark)
    delta_path = ixs._join(index_path, "delta")
    marker_path = ixs._join(index_path, "_owner_checkpoint")
    legacy_base = ixs._join(index_path, "base")

    committed = ixs.committed_manifest(index_path, fs=fs)
    merged_already = (
        set(committed.get("merged_batches", [])) if committed else set()
    )
    base_path = ixs.resolve_index_base(index_path, fs=fs)

    present = sorted(
        int(n.split("=", 1)[1])
        for n in fs.list(delta_path)
        if n.startswith("batch_id=")
    )
    new_batches = [b for b in present if b not in merged_already]

    report = {
        "merged_rows": 0,
        "retired_applied": retired is not None,
        "had_base": base_path is not None,
        "had_delta": bool(present),
        "new_batches": new_batches,
        "protocol": "manifest",
    }

    parts = []
    input_bytes = 0
    if base_path is not None:
        parts.append(spark.read.parquet(base_path))
        input_bytes += fs.size(base_path)
    for b in new_batches:
        d = ixs._join(delta_path, f"batch_id={b}")
        parts.append(spark.read.parquet(d))
        input_bytes += fs.size(d)
    if not parts:
        # nothing to merge; still release the root for a fresh stream
        fs.delete(marker_path)
        return report

    cols = parts[0].columns
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p.select(*cols))
    if retired is not None:
        merged = retire_from_index(merged, retired, id_col)

    version = ixs.next_version(index_path, fs=fs)
    base_name = ixs.base_dir_name(version)
    new_base = ixs._join(index_path, base_name)
    n_files = max(1, -(-input_bytes // target_file_bytes))
    merged.repartition(n_files).write.mode("error").parquet(new_base)
    rows = spark.read.parquet(new_base).count()
    report["merged_rows"] = rows
    manifest = ixs.commit_manifest(
        index_path,
        {
            "version": version,
            "base": base_name,
            "rows": rows,
            "merged_batches": present,
            "retired_applied": retired is not None,
        },
        fs=fs,
    )
    report["version"] = manifest["version"]

    # ---- post-commit cleanup: every step idempotent & best-effort —
    # the commit above is the correctness point; anything below that
    # fails is retried by the next run (merged_batches guards deltas).
    for b in present:
        fs.delete(ixs._join(delta_path, f"batch_id={b}"))
    if not fs.list(delta_path):
        # remove the (now empty) delta dir so a fresh checkpoint's
        # _claim_index_root sees a clean root
        fs.delete(delta_path)
    fs.delete(marker_path)
    if base_path == legacy_base:
        # legacy layout migrated into base_v{N}; the old dir's rows
        # are all in the committed snapshot
        fs.delete(legacy_base)
    report["gc"] = ixs.gc_index_versions(
        index_path,
        fs=fs,
        keep=(
            keep_versions
            if keep_versions is not None
            else ixs.DEFAULT_KEEP_VERSIONS
        ),
    )
    return report
