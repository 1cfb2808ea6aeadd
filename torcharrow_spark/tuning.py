"""The 100-TB operator surface: every conf and threshold this engine
owns, in one place (r8, VERDICT r7 ask #8).

r7 added a session conf (``spark.torcharrow.spreadNarrowSource``) and
earlier rounds buried election, salting, auto-sizing and AQE-pinning
thresholds in module constants; an operator running this engine on a
real cluster had to read source to find the knobs. This module is the
ops page: each entry names the knob, where it lives, its default, the
measured trade behind the default, and the kill switch / override.
``REGISTRY`` is data (used by the docs test, printable by
``describe()``); the defaults are imported from their owning modules,
so this page can never drift from the code.

Guidance that applies across every entry:

* Defaults are measured on local[32] at sf0.1-sf10 and chosen to
  SURVIVE scale-up, not to win the benchmark: thresholds that bound
  per-task memory (emission chunk, election) are sized from Spark's
  stage-boundary buffering and executor heap, not from wall time.
* Auto-sizing knobs (hyperplanes, simhash bits, semantic cells) trade
  strict run-to-run comparability for forgetting-proofness; pin an
  explicit value where reproducibility across differently-sized
  corpora matters (oracle queries do).
* Every kill switch exists because the behavior it gates was measured
  to LOSE somewhere (noted per entry) — turning one off is a
  legitimate per-workload call, not an emergency hatch.
"""

from __future__ import annotations

import os as _os

from .operators import cdc as _cdc
from .operators import dedup as _dedup
from .operators import indexstore as _indexstore
from .operators import preprocess as _preprocess
from .operators import similarity as _similarity
from .operators import webextract as _webextract

#: one entry per owned knob:
#:   name       — what an operator would search for
#:   kind       — 'session-conf' | 'module-constant' | 'parameter'
#:   location   — conf key, or module.CONSTANT / module.function(param=)
#:   default    — the live default (imported, not transcribed)
#:   effect     — what it changes in the plan
#:   trade      — the measurement behind the default
#:   override   — how to change / kill it
REGISTRY: list[dict] = [
    {
        "name": "narrow-source spreading",
        "kind": "session-conf",
        "location": "spark.torcharrow.spreadNarrowSource",
        "default": "true",
        "effect": (
            "Before scan-fused heavy per-row compute (shingling, "
            "hashing, decode), a still-scan-shaped file source whose "
            "planned splits use <= half the cluster's parallelism is "
            "widened by ONE round-robin exchange "
            "(operators.preprocess.spread_narrow_source)."
        ),
        "trade": (
            "sf0.1 single-row-group tables: minhash -33%, text stats "
            "-37%, span-strip -41% wall for one exchange of the "
            "source's bytes; measured-REVERTED where payload bytes "
            "dominate compute (audio/video metadata walks: 1.75x "
            "worse spread). No-op at any healthy multi-row-group "
            "layout, so 100-TB plans carry zero of these bytes. "
            "Broadcast-join-shaped inputs are intentionally left "
            "unspread (probing their splits would fire the broadcast "
            "job at planning time)."
        ),
        "override": (
            "spark.conf.set('spark.torcharrow.spreadNarrowSource', "
            "'false') — plan-pin tests do this to pin the organic "
            "zero-exchange shapes."
        ),
    },
    {
        "name": "reliable lineage cuts",
        "kind": "session-conf",
        "location": "spark.torcharrow.reliableLineageCuts",
        "default": "auto",
        "effect": (
            "Every lineage-truncation site in the engine (iterative "
            "connected components, multi-consumer Python-stage "
            "outputs in CDC stats / unigram fit / the curation "
            "chains) routes through operators.preprocess.lineage_cut. "
            "'auto' uses reliable checkpoint() when the session has a "
            "checkpoint directory configured "
            "(sparkContext.setCheckpointDir / spark.checkpoint.dir) "
            "and localCheckpoint() otherwise."
        ),
        "trade": (
            "localCheckpoint blocks are executor-local and "
            "non-replicated with truncated lineage: on a real cluster "
            "an executor loss (preemption, dynamic deallocation) "
            "aborts the job unrecoverably — an availability bug at "
            "the 100 TB design point. Reliable checkpoint() writes "
            "the cut frame through the checkpoint store once "
            "(pay-per-cut I/O) and survives executor loss. In local "
            "mode the single 'executor' dying kills the app anyway, "
            "so localCheckpoint is the right default there."
        ),
        "override": (
            "'false' keeps localCheckpoint even when a checkpoint dir "
            "is set (for sessions that configure a dir for unrelated "
            "reasons); 'true' asserts the dir is configured instead "
            "of silently degrading."
        ),
    },
    {
        "name": "Arrow pair kernels",
        "kind": "session-conf",
        "location": "spark.torcharrow.arrowPairKernels",
        "default": "true",
        "effect": (
            "The embedding pair stages — semantic_dedup's "
            "within-bucket drop set (similarity._bucket_drop_ids) and "
            "cosine_pairs' pair emission + exact cosine "
            "(similarity._bucket_pair_cosines) — run as one "
            "vectorized Arrow kernel over the bucket arrays instead "
            "of exploding C(m,2) vector-pair rows through interpreted "
            "aggregate() folds. Bit-identical to the JVM pair plans "
            "by construction (strict left-fold arithmetic replayed "
            "per-dimension in numpy; Spark NaN-compares-greatest "
            "semantics mirrored; the election replayed with the same "
            "JVM-computed class keys; hostile rows take an exact "
            "per-pair Python loop)."
        ),
        "trade": (
            "Measured 3.1 -> 0.8 s on q138's dedup stage and 1.88 -> "
            "0.66 s on q42's pair stage at sf0.1 (LSH buckets are few "
            "and fat, so the boundary crossing ships ~300 B/vector "
            "once vs two dim-float arrays per pair — guide §8's "
            "move-the-small-side rule; measured-REJECTED for q43's "
            "prefix candidate stage, whose ~100k tiny buckets make "
            "the boundary cost match the JVM emission). Requires "
            "numpy + pyarrow on the workers. The availability check "
            "runs on the driver only: a driver without them gets the "
            "JVM plan, but a worker without them fails the job."
        ),
        "override": (
            "spark.conf.set('spark.torcharrow.arrowPairKernels', "
            "'false') restores the all-JVM pair plans "
            "(test_semantic_dedup_kernel_matches_jvm_path and "
            "test_cosine_pairs_kernel_matches_jvm_path flip it to "
            "pin both paths equal)."
        ),
    },
    {
        "name": "pair-emission chunk / salting onset",
        "kind": "module-constant",
        "location": "operators.dedup.DEFAULT_EMIT_CHUNK",
        "default": _dedup.DEFAULT_EMIT_CHUNK,
        "effect": (
            "Buckets larger than this many members emit their pairs "
            "via salted chunk-pairs spread across the cluster; it is "
            "also the per-input-row fanout bound (chunk^2 pair rows) "
            "that Spark's stage-boundary buffer must hold."
        ),
        "trade": (
            "Sized by BufferedRowIterator buffering, not pair "
            "arithmetic: 8192 buffered C(8192,2)~34M rows ~2.7 GB per "
            "task (measured OOM at 4 concurrent emission tasks); 1024 "
            "caps it at ~80 MB. 2048 cost +14-23% wall at sf1 "
            "(organic hot groups crossed it), 8192->1024 cost ~0 "
            "while bounding any duplication level."
        ),
        "override": (
            "Per call: _emit_pairs(chunk=) via the operator's "
            "elect/emission parameters; the constant is the default "
            "for every group-and-pair operator."
        ),
    },
    {
        "name": "election onset (members)",
        "kind": "module-constant",
        "location": "operators.dedup.DEFAULT_ELECT_THRESHOLD",
        "default": _dedup.DEFAULT_ELECT_THRESHOLD,
        "effect": (
            "Buckets larger than this COLLAPSE to one representative "
            "per exact-equivalence class (+ linear star rows) before "
            "pair emission — bounding a pathological bucket's TOTAL "
            "work, not just its memory. Output-identical for "
            "connected components and keep-first rules (proof in "
            "_emit_pairs docstring); only the explicit pair list "
            "thins."
        ),
        "trade": (
            "2^18 members = C(2^18,2)~3.4e10 pairs is the most one "
            "bucket may demand before the policy fires; organic sf1 "
            "buckets stay under ~8k members, so election never fires "
            "on real distributions — it exists for the 10^6-10^7x "
            "boilerplate cliff (a 10^7-dup text costs 10^7-1 star "
            "rows instead of 5e13 pairs). Non-silent: "
            "minhash/simhash_bucket_audit list every affected bucket."
        ),
        "override": (
            "Per call: elect_threshold= on the dedup/similarity "
            "operators; audits take the same parameter."
        ),
    },
    {
        "name": "election onset (bytes)",
        "kind": "module-constant",
        "location": "operators.dedup.ELECT_BYTES_BOUND",
        "default": _dedup.ELECT_BYTES_BOUND,
        "effect": (
            "Caps a bucket's collect_list buffer in BYTES: the "
            "effective election threshold is min(member threshold, "
            "bytes bound / estimated member width), so wide-payload "
            "members (embedding vectors: ~270 B at dim 64 vs ~16 B "
            "for minhash keys) elect proportionally earlier."
        ),
        "trade": (
            "32 MiB keeps narrow members at exactly the 2^18 member "
            "onset (no behavior change for minhash/jaccard/simhash) "
            "while a dim-64 cosine bucket elects at ~120k members "
            "(~32 MB peak) instead of 2^18 (~70 MB) and a dim-1024 "
            "one at ~8k — the executor-peak bound the member count "
            "alone could not give (VERDICT r7 ask #5)."
        ),
        "override": (
            "Per call: member_bytes=/elect_threshold= on "
            "cosine_pairs/semantic_dedup (_emit_pairs parameters)."
        ),
    },
    {
        "name": "hyperplane auto-sizing target",
        "kind": "module-constant",
        "location": "operators.similarity.AUTO_TARGET_BUCKET",
        "default": _similarity.AUTO_TARGET_BUCKET,
        "effect": (
            "n_planes='auto' picks ceil(log2(corpus / this)) "
            "hyperplanes (clamped [1, 30]) for cosine_pairs/lsh_topk/"
            "lsh_topk_multitable — expected bucket population stays "
            "~this as the corpus grows."
        ),
        "trade": (
            "128 reproduces every manually-measured pin across three "
            "decades (4 planes at 2k vectors, 8 at 20k, 11 at 200k, "
            "14 at 2M — SCALE_SF100.md) and keeps the per-bucket "
            "quadratic step executor-cheap; each extra plane splits "
            "some true near pairs (recall/cost trade inherent to "
            "single-table hyperplane LSH)."
        ),
        "override": "Pin n_planes=<int> for strict reproducibility.",
    },
    {
        "name": "simhash auto-sizing target",
        "kind": "parameter",
        "location": "operators.dedup.simhash_auto_bits(target_bucket=)",
        "default": 256,
        "effect": (
            "bits='auto' picks (max_hamming+1) * ceil(log2(corpus / "
            "this)) simhash bits clamped "
            f"[{_dedup.SIMHASH_MIN_BITS}, {_dedup.SIMHASH_MAX_BITS}], "
            "keeping each pigeonhole block's bucket occupancy ~this "
            "at any corpus size."
        ),
        "trade": (
            "Fixed 16 bits OOMed at 50k docs (small block keyspace "
            "funneled the corpus into few buckets — r3 stress "
            "finding); auto keeps block occupancy constant at 10x "
            "rows (sf1/sf10 ratios 4.3-8.6x, sublinear)."
        ),
        "override": "Pin bits=<int> for strict reproducibility.",
    },
    {
        "name": "index GC grace versions",
        "kind": "module-constant",
        "location": "operators.indexstore.DEFAULT_KEEP_VERSIONS",
        "default": _indexstore.DEFAULT_KEEP_VERSIONS,
        "effect": (
            "How many superseded committed base_v{N} snapshots "
            "compact_index's GC keeps readable behind the current one "
            "(r9 rename-free pointer protocol): a reader that resolved "
            "the previous manifest just before a commit must not have "
            "its snapshot deleted mid-scan."
        ),
        "trade": (
            "1 version doubles index storage transiently but makes "
            "reader/compactor races benign without any locking; "
            "orphan (never-committed) snapshots below the current "
            "version are deleted regardless — they were never "
            "referenced by any manifest."
        ),
        "override": (
            "compact_index(keep_versions=N) per call, or "
            "gc_index_versions(root, keep=N) standalone."
        ),
    },
    {
        "name": "semantic-dedup auto cell count",
        "kind": "parameter",
        "location": "operators.similarity.semantic_dedup(n_clusters=)",
        "default": "auto (ceil(sqrt(corpus)), clamped [2, 4096])",
        "effect": (
            "Cluster count for the within-cluster quadratic step; "
            "sqrt sizing keeps expected cluster population "
            "~sqrt(corpus)."
        ),
        "trade": (
            "A forgotten parameter at 10^9 vectors cannot re-create "
            "the quadratic blowup the operator exists to avoid; "
            "cross-cluster near-dups are missed by design (SemDeDup's "
            "own approximation)."
        ),
        "override": "Pin n_clusters=<int> (oracle queries do).",
    },
    {
        "name": "generator-stage AQE pinning width",
        "kind": "module-constant",
        "location": "operators: n_wide = defaultParallelism * 8 (inline)",
        "default": "8x cluster parallelism",
        "effect": (
            "collect_list groupBys feeding pair GENERATORS repartition "
            "to this width explicitly, so AQE's byte-based coalescing "
            "(blind to the consumer's fanout) cannot re-serialize a "
            "generator stage into few tasks, and partial list-collects "
            "(which reduce nothing) run post-shuffle."
        ),
        "trade": (
            "At 34 AQE-coalesced tasks the sf10 candidate shuffle-"
            "write sorter itself spilled (~430 MB emitted pairs per "
            "map task) and partial collect_lists externally sorted "
            "tens of GB; pinning removed both (SURVEY §4.3 case "
            "study #3)."
        ),
        "override": (
            "Inline constant at each generator groupBy "
            "(dedup.ngram_jaccard_pairs_prefix and peers); scale it "
            "with cluster parallelism, not data size."
        ),
    },
    {
        "name": "multi-probe perturbation width",
        "kind": "module-constant",
        "location": "operators.similarity._MAX_PERTURB_PLANES",
        "default": _similarity._MAX_PERTURB_PLANES,
        "effect": (
            "Multi-probe LSH enumerates perturbation subsets over the "
            "j lowest-|margin| planes only; this caps j (candidate "
            "array = 2^j structs per query)."
        ),
        "trade": (
            "12 keeps the per-query candidate array at 4096 structs "
            "(queries are the broadcast side) while covering every "
            "useful perturbation — high-margin flips have near-zero "
            "collision probability."
        ),
        "override": "Module constant; raise only with tiny query sets.",
    },
    {
        "name": "scan-split width under generator amplification",
        "kind": "module-constant",
        "location": (
            "operators.preprocess.AMPLIFIED_SORT_ROWS_BUDGET "
            "(+ SHINGLE_ROWS_PER_INPUT_BYTE)"
        ),
        "default": _preprocess.AMPLIFIED_SORT_ROWS_BUDGET,
        "effect": (
            "r9 (VERDICT r8 ask #1): DEFAULT ENGINE BEHAVIOR, no "
            "longer a hand-set conf. The shingle-explode operators "
            "call preprocess.cap_amplified_scan at their scan "
            "boundary: a bare parquet scan whose effective split "
            "bytes would push the fused explode past this many "
            "post-amplification rows per map task is re-read through "
            "a conf-scoped child session with "
            "spark.sql.files.maxPartitionBytes capped at "
            "budget/density (MAP side) and AQE "
            "advisoryPartitionSizeInBytes at 4x the cap (REDUCE "
            "side) — more, narrower tasks on both sides of the "
            "amplified exchanges; zero new exchanges; no plan-time "
            "jobs; the user session's conf untouched."
        ),
        "trade": (
            "At the sf40 evidence tier (2M docs on 32 local threads) "
            "default splits packed the corpus into ~32 map tasks of "
            "~33M post-explode rows each — 3.3 GB of disk spill in "
            "the map-side sorts (the only spill this engine ever "
            "measured); the cap's 2^21-row budget reproduces the "
            "hand-measured 4 MB split fix, and the 4x-cap advisory "
            "target removes the residual 1.18 GB reduce-side spill "
            "(one 35-task stage coalesced to 64 MB targets whose "
            "array payloads run ~6-8x in memory) — ZERO disk spill "
            "at sf40 with default confs, identical rows, +1.3% "
            "shuffle bytes of partition framing. Only binds when "
            "total_bytes/parallelism exceeds the cap, so bench-SF "
            "plans and their byte anchors never change."
        ),
        "override": (
            "Kill switch spark.torcharrow.amplifiedScanCap=false; a "
            "session maxPartitionBytes set STRICTER than the cap is "
            "always respected; per-call rows_budget= for operators "
            "with different fanout density."
        ),
    },
    {
        "name": "boilerplate gate (link density / words)",
        "kind": "module-constant",
        "location": (
            "operators.webextract.LINK_DENSITY_MAX (+ "
            "BOILERPLATE_MAX_WORDS)"
        ),
        "default": "{} / {}".format(
            _webextract.LINK_DENSITY_MAX, _webextract.BOILERPLATE_MAX_WORDS
        ),
        "effect": (
            "html_extract drops a text block as navigation/footer "
            "chrome when MORE than LINK_DENSITY_MAX of its characters "
            "sit inside anchors AND it has at most "
            "BOILERPLATE_MAX_WORDS words; long link-heavy blocks "
            "(reference sections) and short link-free blocks "
            "(headlines) always survive."
        ),
        "trade": (
            "The classic shallow-text-feature heuristic "
            "(Kohlschuetter-style): the AND of the two conditions is "
            "what keeps precision — density alone kills reference "
            "lists, word count alone kills headlines. q154's oracle "
            "replays the gate arithmetically for synthesized pages."
        ),
        "override": (
            "html_extract(drop_boilerplate=False) returns every "
            "block; the constants are module-level for corpus-wide "
            "re-tuning."
        ),
    },
    {
        "name": "CDC chunk window / modulus",
        "kind": "module-constant",
        "location": "operators.cdc.DEFAULT_WINDOW (+ DEFAULT_MODULUS)",
        "default": "{} / {}".format(_cdc.DEFAULT_WINDOW, _cdc.DEFAULT_MODULUS),
        "effect": (
            "cdc_chunks cuts where the degree-WINDOW rolling "
            "polynomial hash is 0 mod MODULUS, making MODULUS the "
            "expected chunk length in chars; chunk-instance count "
            "(and both downstream md5-keyed shuffles) scale as "
            "corpus_bytes / MODULUS."
        ),
        "trade": (
            "16 chars suits the short-document oracle corpus; real "
            "storage-dedup deployments run KiB-scale moduli — raise "
            "MODULUS linearly with document size to keep instance "
            "counts bounded. The q157 oracle replays window=4/mod=16 "
            "verbatim, so the DEFAULTS are pinned by a correctness "
            "gate, not just by docs."
        ),
        "override": (
            "cdc_chunks/cdc_dedup_stats(window=, modulus=, min_size=, "
            "max_size=) per call; min/max add the stateful guards the "
            "pure form omits."
        ),
    },
    {
        "name": "langid hash-feature buckets",
        "kind": "parameter",
        "location": "operators.classifier.language_id_train/score(n_buckets=)",
        "default": "256",
        "effect": (
            "bucket count of the hashed char-n-gram feature space — "
            "the fit's shuffle is K x n_buckets partial count rows "
            "per executor (corpus-size independent) and the scoring "
            "plan carries K x n_buckets int literals."
        ),
        "trade": (
            "256 separates the 5-language driver corpus at 0.996 "
            "held-out; real many-language deployments raise it "
            "(fastText ships 2M-bucket spaces) — cost is plan-literal "
            "size, not shuffle. Both sides of q169's oracle pin 256."
        ),
        "override": "n_buckets= on both train and score (must match).",
    },
    {
        "name": "ANN re-rank candidate pool",
        "kind": "parameter",
        "location": "operators.similarity.quantized_rerank_topk(candidates=)",
        "default": "50",
        "effect": (
            "rows surviving the int8 coarse scan per query — the "
            "re-rank join reads |queries| x candidates full-precision "
            "vectors; recall is bounded by the true top-k landing in "
            "the quantized top-candidates."
        ),
        "trade": (
            "the bench corpus measures recall 1.00 already at 20; 50 "
            "is 2.5x margin for corpora with tighter cosine spacing "
            "at the int8 noise floor (~scale/2 per element). Raising "
            "it scales only the re-rank join, never the scan."
        ),
        "override": "candidates= per call; bits= trades scan bytes.",
    },
    {
        "name": "ANN full-scan N*Q*dim ceiling",
        "kind": "module-constant",
        "location": "operators.similarity.QUANTIZED_SCAN_NQD_CEILING",
        "default": _similarity.QUANTIZED_SCAN_NQD_CEILING,
        "effect": (
            "cost-model budget for quantized_rerank_topk's coarse "
            "stage, which is a DELIBERATE full scan: C = corpus x "
            "queries x dim interpreted-fold element products (the "
            "crossJoin is shuffle-free but linear). The ceiling marks "
            "where callers must switch to ivf_quantized_topk (probe "
            "trained cells, int8-scan only those, exact re-rank)."
        ),
        "trade": (
            "measured ~5e8 element products per core-second through "
            "the interpreted fold on local[32]; 2e15 is ~1 core-hour "
            "per 1000 cores. Below it the full scan wins: recall "
            "1.00, no training, no seed noise. Above it the IVF "
            "composition holds 0.95 recall at 10% of the bytes "
            "(BENCH recall ladder ivf_int8 row: 512 trained cells, "
            "204 probes, sf1 corpus) and scales with probed cells, "
            "not the corpus. At 10^9 vectors x 10^3 queries x dim "
            "512 the full scan is ~5e14 x dim — past the ceiling for "
            "any real dim, which is the VERDICT r10 finding this row "
            "publishes."
        ),
        "override": (
            "advisory, not enforced — pick the operator per corpus "
            "size; both share quantize_embeddings codes and the "
            "exact re-rank, so switching changes no output contract "
            "at full probe depth. For recurring search over a "
            "standing corpus, persist the composition with "
            "operators.annindex (publish once, append nightly, probe "
            "the stored codes — r11)."
        ),
    },
    {
        "name": "ANN standing-index compaction cadence",
        "kind": "operational",
        "location": "operators.annindex.ann_index_compact",
        "default": "caller-scheduled (no auto-fold)",
        "effect": (
            "Each live delta batch adds one parquet scan + union "
            "branch to every ann_index_topk probe; compaction folds "
            "deltas into a fresh base snapshot under the manifest "
            "protocol and returns the probe to its single-snapshot "
            "plan. Batch ids are manifest-monotonic, so "
            "append-after-compact never collides (r12)."
        ),
        "trade": (
            "Measured on the sf1 stress corpus (20k vectors, 64 "
            "cells, 24 queries, BENCH ann_index_lifecycle tier): "
            "probe 2.0 s at 0 deltas -> 3.4 s at 4 -> 5.1 s at 16; "
            "compact cost 3.1 s, so break-even is ~ONE probe at 16 "
            "deltas — fold whenever the root will be probed at all "
            "before the next append wave. The drift is per-delta "
            "JOB overhead (scan + union branch), not data volume, "
            "so it scales with delta COUNT, not corpus size."
        ),
        "override": (
            "ann_index_compact(root, retired=...) also drops vectors "
            "by id in the same pass; indexstore GC grace applies."
        ),
    },
    {
        "name": "AQE initial shuffle width",
        "kind": "session-conf",
        "location": (
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        ),
        "default": "8x cores (session.py)",
        "effect": (
            "Shuffles START wide and AQE coalesces down by bytes; "
            "small stages merge back to ~advisoryPartitionSize, big "
            "stages keep the width that bounds per-task sort memory."
        ),
        "trade": (
            "With the width pinned to cores, sf10 sorts landed ~15M "
            "rows per partition and spilled 36 GB; 8x start removed "
            "the spill and cut headline wall 62->50 s (r6). On a "
            "1000-executor cluster the same principle holds — initial "
            "width scales with the cluster."
        ),
        "override": "session.tune(spark) applies it; set the conf to taste.",
    },
    {
        "name": "ANSI mode off",
        "kind": "session-conf",
        "location": "spark.sql.ansi.enabled=false",
        "default": "false (session.py)",
        "effect": (
            "Reference semantics are IEEE/C++-style (x/0.0 -> inf, "
            "truncating/wrapping casts, null on invalid array index)."
        ),
        "trade": (
            "Spark 4 flipped the default to ANSI (errors). Operators "
            "themselves stay mode-agnostic (pmod-shift instead of "
            "wrapping casts — the ANSI smoke test pins this); the "
            "conf governs the reference's SCALAR semantics."
        ),
        "override": (
            "session.tune() re-asserts non-ANSI on driver-provided "
            "sessions; flip only if you want ANSI scalar errors."
        ),
    },
]


def describe() -> str:
    """Human-readable rendering of REGISTRY (one block per knob)."""
    blocks = []
    for e in REGISTRY:
        blocks.append(
            f"{e['name']}  [{e['kind']}]\n"
            f"  where:    {e['location']}\n"
            f"  default:  {e['default']}\n"
            f"  effect:   {e['effect']}\n"
            f"  trade:    {e['trade']}\n"
            f"  override: {e['override']}"
        )
    return "\n\n".join(blocks)


if __name__ == "__main__":  # pragma: no cover - ops convenience
    print(describe())
