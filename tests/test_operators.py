"""LLM-pipeline operator tests with hand-computed expectations."""

import pyspark.sql.functions as F
import pytest

from torcharrow_spark import operators as ops


@pytest.fixture(scope="module")
def docs(spark):
    data = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the mat"),       # exact dup of 0
        (2, "the cat sat on the hat"),       # near dup
        (3, "completely different text here entirely"),
        (4, "  The  cat   sat on the mat "), # dup of 0 after normalization
    ]
    return spark.createDataFrame(data, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    ids = ops.exact_dedup_ids(docs)
    rows = {r["doc_id"]: r["dup_count"] for r in ids.collect()}
    assert rows == {0: 3, 2: 1, 3: 1}
    surv = ops.exact_dedup(docs)
    assert sorted(r["doc_id"] for r in surv.collect()) == [0, 2, 3]


def test_minhash_near_dup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in ops.minhash_pairs(docs, shingle_k=2).collect()}
    assert (0, 1) in pairs and (0, 4) in pairs and (1, 4) in pairs
    assert not any(3 in p for p in pairs)


def test_simhash_identical_for_dups(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in ops.simhash(docs).collect()}
    assert sh[0] == sh[1] == sh[4]
    assert sh[0] != sh[3]


def test_jaccard(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ops.ngram_jaccard_pairs(docs, shingle_k=2, threshold=0.1).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0 < pairs[(0, 2)] < 1.0
    assert not any(3 in p for p in pairs)


def test_brute_force_topk_self_similarity(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter("vec_id = 0")
    out = ops.brute_force_topk(emb, q, k=2)
    rows = out.orderBy("rank").collect()
    assert rows[0]["match_id"] == 1 and rows[0]["cosine"] > 0.99
    assert rows[1]["match_id"] == 2 and abs(rows[1]["cosine"]) < 1e-9


def test_lsh_recall_on_testdata(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 10")
    exact = ops.brute_force_topk(emb, q, k=1)
    approx = ops.lsh_topk(emb, q, k=1, n_planes=2)
    # with 2 planes (4 buckets) ~1/4 chance per neighbor; just require the
    # plumbing returns ranked rows for most queries
    assert approx.count() >= 5
    assert exact.count() == 10


def test_text_stats_values(spark):
    d = spark.createDataFrame([(1, "the cat! sat.")], "doc_id long, text string")
    r = ops.text_stats(d).collect()[0]
    assert r["n_tokens"] == 3
    assert r["n_chars"] == 13
    assert r["pred_lang"] == "en"
    assert r["stopword_hits"] == 1
    assert r["punct_ratio"] == round(2 / 13, 4)


def test_fingerprint_normalization(spark):
    d = spark.createDataFrame(
        [(1, "A  b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in ops.doc_fingerprint(d).collect()}
    assert fp[1] == fp[2] != fp[3]


def test_multimodal_plumbing(spark):
    d = spark.createDataFrame([(1, b"\x01\x02\x03" * 50)], "doc_id long, img binary")
    with_meta = ops.attach_media(d, "img", media_type="image", fmt="raw")
    meta = with_meta.select("img_meta.*").collect()[0]
    assert meta["n_bytes"] == 150 and meta["media_type"] == "image"
    feat = ops.decode_features(with_meta, "img", "doc_id", fake=True).collect()[0]
    assert feat["width"] == 16 + 150 % 64
    assert len(feat["features"]) == 8
    frames = ops.frame_sample_plan(d.withColumn("img", F.col("img")), "img", "doc_id", every_n=1, fake=True)
    assert frames.count() >= 1


def test_scaled_frame(spark):
    from torcharrow_spark.operators.preprocess import scaled_frame

    d = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    out = scaled_frame(d, ["x"], method="z").orderBy("x").collect()
    import math

    sd = math.sqrt(2 / 3)
    assert abs(out[0]["x_scaled"] - (-1 / sd)) < 1e-12
    assert out[1]["x_scaled"] == 0.0
    mm = scaled_frame(d, ["x"], method="minmax").orderBy("x").collect()
    assert [r["x_scaled"] for r in mm] == [0.0, 0.5, 1.0]


def test_sigrid_hash_reference_goldens(spark):
    """Bit-exactness vs the reference kernel's own unit test
    (reference test/transformation/test_sigrid_hash.py: range(16),
    salt=0, max=100, scalar and list overloads)."""
    import torcharrow_spark as ts
    from torcharrow_spark import me
    from torcharrow_spark import functional as fn

    want = [6, 60, 54, 54, 9, 4, 91, 11, 67, 79, 2, 25, 92, 98, 83, 66]
    d = ts.dataframe({"a": list(range(16))}, spark=spark)
    got = [
        r["h"]
        for r in d.select("a", h=fn.sigrid_hash(me["a"], 0, 100)).sort(by=["a"]).to_pylist()
    ]
    assert got == want

    dl = ts.dataframe({"a": [[0, 1, 2, 3], [4, 5, 6], [7, 8, 9]]}, spark=spark)
    got_l = [r["h"] for r in dl.select(h=fn.sigrid_hash(me["a"], 0, 100)).to_pylist()]
    assert got_l == [[6, 60, 54, 54], [9, 4, 91], [11, 67, 79]]

    # max_value == 1 always maps to 0 (kernel early-out)
    one = d.select(h=fn.sigrid_hash(me["a"], 7, 1)).to_pylist()
    assert all(r["h"] == 0 for r in one)


def test_bpe_tokenize(spark):
    """BPE merging follows lowest-rank-first; round-trippable pieces map
    through the encoder; OOV bytes come back as -1."""
    import torcharrow_spark as ts
    from torcharrow_spark import me
    from torcharrow_spark import functional as fn
    from torcharrow_spark.functions import BPETokenizer

    tok = BPETokenizer.toy()
    # local semantics first: 'the' collapses via (t,h)->(th,e)
    assert tok.encode("the") == [tok.encoder["the"]]
    # (t,h) has rank 0 so 'th'+'e' wins inside the word before (Ġ,t)
    # can ever pair — ' the' splits as [Ġ, the]
    assert tok.encode(" the") == [tok.encoder["Ġ"], tok.encoder["the"]]
    ids = tok.encode("the cat")
    assert ids[0] == tok.encoder["the"]
    assert all(isinstance(i, int) for i in ids)
    assert -1 in tok.encode("THE")  # uppercase bytes are OOV in the toy vocab

    d = ts.dataframe({"doc_id": [1, 2], "text": ["the cat", " the"]}, spark=spark)
    rows = {
        r["doc_id"]: r["tokens"]
        for r in d.select("doc_id", tokens=fn.bpe_tokenize(tok, me["text"])).to_pylist()
    }
    assert rows[1] == tok.encode("the cat")
    assert rows[2] == tok.encode(" the")


def test_prefix_jaccard_equals_direct(spark, sf_dir):
    """PPJoin-style prefix filtering must produce EXACTLY the pairs of
    the direct join-first algorithm (no false negatives by construction)."""
    from torcharrow_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    direct = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(docs, threshold=0.3, mode="direct").collect()
    }
    prefix = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs_prefix(docs, threshold=0.3).collect()
    }
    assert direct == prefix and len(direct) > 0


def test_prefix_jaccard_boundary_threshold_pairs(spark):
    """Bounds sitting EXACTLY on an integer (threshold * size integral)
    must not be pruned by double rounding inside the PPJoin ceils
    (advisor finding r3: 0.5 * 4 can evaluate to 2.0000000000000004, and
    a plain ceil then demands overlap 3 — over-pruning a true pair whose
    jaccard sits exactly on the threshold). Doc 1's shingles are a
    subset of doc 2's with |A|=2, |B|=4: jaccard = 2/4 = 0.5 exactly,
    and the length bound min >= ceil(t * max) is exactly tight."""
    from torcharrow_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    for t in (0.5, 0.25, 2.0 / 3.0):
        direct = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(docs, threshold=t, mode="direct").collect()
        }
        prefix = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs_prefix(docs, threshold=t).collect()
        }
        assert direct == prefix, t
        if t <= 0.5:
            assert prefix[(1, 2)] == 0.5  # the boundary pair survives


def test_prefix_jaccard_exact_under_forced_32bit_collisions(spark):
    """r8: the prefix plan's candidate-volume pass
    now rides 32-bit truncated shingle hashes; exactness comes from the
    survivor-sized 64-bit re-verify. Force BOTH collision hazards and
    pin output == direct mode:

    * cross-doc: two docs sharing two real shingles plus one colliding
      word each — jaccard32 (1.0) crosses the threshold, exact jaccard
      (0.5) does not; pass 2 must reject the pair;
    * within-doc: one doc holding both colliding words — the doc's
      'clean' flag must drop, routing its pairs straight to the exact
      pass (truncation is no longer injective for it)."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    # birthday-search a low-32-bit xxhash64 collision among synthetic
    # words (deterministic: xxhash64 is seeded-fixed; pick the first
    # colliding value's two smallest words)
    words = spark.range(200_000).select(
        F.concat(F.lit("w"), F.col("id")).alias("w"),
        (F.xxhash64(F.concat(F.lit("w"), F.col("id"))).cast("int")).alias("h32"),
    )
    pair = (
        words.groupBy("h32").agg(
            F.sort_array(F.collect_list("w")).alias("ws"),
            F.count(F.lit(1)).alias("n"),
        )
        .where((F.col("n") >= 2) & (F.size(F.array_distinct("ws")) >= 2))
        .orderBy("h32")
        .first()
    )
    assert pair is not None, "no 32-bit collision in 200k words?!"
    wa, wb = pair["ws"][0], pair["ws"][1]

    docs = spark.createDataFrame(
        [
            (1, f"shareda sharedb {wa}"),     # cross-doc collision, side a
            (2, f"shareda sharedb {wb}"),     # cross-doc collision, side b
            (3, f"{wa} {wb} filler"),          # within-doc collision (dirty)
            (4, f"{wa} {wb} filler extra"),    # dirty, near-dup of 3
            (5, "unrelated text entirely here"),
        ],
        "doc_id long, text string",
    )
    for t in (0.6, 0.5):
        direct = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(
                docs, shingle_k=1, threshold=t, mode="direct"
            ).collect()
        }
        prefix = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs_prefix(
                docs, shingle_k=1, threshold=t
            ).collect()
        }
        assert direct == prefix, (t, direct, prefix)
    # sanity on the construction itself: the cross-doc pair's exact
    # jaccard is 2/4 = 0.5 (kept at t=0.5, rejected at 0.6), and the
    # dirty docs 3/4 are true near-dups (3/4 = 0.75, kept at both)
    assert (1, 2) in direct and direct[(1, 2)] == 0.5
    assert (3, 4) in direct and direct[(3, 4)] == 0.75


def test_jaccard_auto_is_prefix_and_jobfree(spark, monkeypatch):
    """mode='auto' must (a) pick the prefix plan on a boilerplate-heavy
    corpus — pair blowup tracks shingle document-frequency, not corpus
    row count — and (b) trigger ZERO Spark jobs at plan-build time
    (the r2 row-count guard ran a blocking count() per call)."""
    from pyspark.sql import DataFrame

    from torcharrow_spark.operators.dedup import (
        estimate_jaccard_pair_cost,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    # tiny corpus, 90% boilerplate: every doc shares one hot shingle run
    boiler = "terms of service apply to all users of this site"
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique tail {i} {i * 7}") for i in range(40)],
        "doc_id long, text string",
    )

    def _no_jobs(self, *a, **k):  # pragma: no cover - should never run
        raise AssertionError("plan-time Spark job (count) in auto mode")

    monkeypatch.setattr(DataFrame, "count", _no_jobs)
    auto_plan = ngram_jaccard_pairs(docs, threshold=0.5, mode="auto")
    monkeypatch.undo()

    auto = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9) for r in auto_plan.collect()}
    prefix = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs_prefix(docs, threshold=0.5).collect()
    }
    assert auto == prefix and len(auto) > 0

    # the measured guard sees the boilerplate: hot shingles dominate cost
    est = estimate_jaccard_pair_cost(docs, sample_mod=1)
    assert est["max_df"] == 40  # every doc carries the boilerplate shingles
    assert est["est_pairs"] >= 40 * 39 / 2  # >= one hot shingle's C(40,2)
    assert est["sampled_shingles"] > 0


@pytest.mark.parametrize(
    "path",
    [
        "lsh_topk",
        "lsh_topk_multitable",
        "ivf_topk",
        "ivf_topk_df",
        "quantized_rerank_topk",
        "ivf_quantized_topk",
        "ann_index_topk",
    ],
)
def test_ivf_full_probe_equals_brute_force(spark, sf_dir, tmp_path, path):
    """Every ANN path is exact at its degenerate setting — LSH probing
    all 2^n_planes buckets of every table, IVF probing every cell, the
    int8 paths probing every cell with a candidate pool >= the corpus —
    and must return brute force's rows: same (query_id, match_id, rank),
    same cosine doubles. This pins the shared top-k tail's contract:
    self-matches are excluded and ties break on the lower match_id."""
    from torcharrow_spark.operators import similarity as sim
    from torcharrow_spark.operators.annindex import (
        ann_index_publish,
        ann_index_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 8")
    n = emb.count()
    cents = emb.where("vec_id < 8").select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid"),
    )

    def ann_index():
        root = str(tmp_path / "annix")
        ann_index_publish(emb, cents, root)
        return ann_index_topk(q, emb, root, k=3, n_probe=8, candidates=n)

    run = {
        "lsh_topk": lambda: sim.lsh_topk(emb, q, k=3, n_planes=3, n_probe=8),
        "lsh_topk_multitable": lambda: sim.lsh_topk_multitable(
            emb, q, k=3, n_planes=2, n_tables=2, n_probe=4
        ),
        "ivf_topk": lambda: sim.ivf_topk(emb, q, k=3, n_cells=8, n_probe=8),
        "ivf_topk_df": lambda: sim.ivf_topk_df(emb, q, cents, k=3, n_probe=8),
        "quantized_rerank_topk": lambda: sim.quantized_rerank_topk(
            emb, q, k=3, candidates=n
        ),
        "ivf_quantized_topk": lambda: sim.ivf_quantized_topk(
            emb, q, cents, k=3, n_probe=8, candidates=n
        ),
        "ann_index_topk": ann_index,
    }[path]

    def rows(df):
        return sorted(
            (r["query_id"], r["match_id"], r["rank"], round(r["cosine"], 9))
            for r in df.collect()
        )

    exact = rows(sim.brute_force_topk(emb, q, k=3))
    assert rows(run()) == exact and len(exact) == 24


def test_resize_media_plumbing(spark):
    d = spark.createDataFrame(
        [(1, b"\xff" * 500), (2, None)], "doc_id long, img binary"
    )
    out = {r["doc_id"]: r for r in ops.resize_media(d, "img", "doc_id", 32, 32, fake=True).collect()}
    assert out[1]["meta"]["width"] == 32 and out[1]["meta"]["n_bytes"] == 32 * 32 * 3 // 256
    assert len(out[1]["resized"]) == 32 * 32 * 3 // 256
    assert out[2]["resized"] is None and out[2]["meta"]["n_bytes"] == 0


def test_simhash_pairs_hamming(spark, sf_dir):
    """Block-permutation candidate generation finds EXACTLY the pairs a
    brute-force Hamming scan finds (pigeonhole guarantees no false
    negatives within max_hamming)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ops.simhash_pairs(docs, bits=16, max_hamming=2).collect()
    }
    hashes = {r["doc_id"]: r["simhash"] for r in ops.simhash(docs, bits=16).collect()}
    ids = sorted(hashes)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(hashes[a] ^ hashes[b]).count("1")
            if h <= 2:
                want[(a, b)] = h
    assert got == want and len(want) > 0


def test_simhash_auto_bits_rule():
    """bits='auto' applies the documented sizing rule
    bits = (k+1) * ceil(log2(n / 256)) clamped to [16, 64] (r8 raised
    the ceiling with the two-digest construction — the old 32 clamp
    froze block width at >= ~5x10^5 docs): 50k docs MUST get 32 (the
    r3 stress corpus size where 16 bits re-quadratized candidate
    work), small corpora keep the old default 16, and the rule is
    monotone in corpus size."""
    from torcharrow_spark.operators.dedup import simhash_auto_bits

    assert simhash_auto_bits(0) == 16
    assert simhash_auto_bits(1_000) == 16
    assert simhash_auto_bits(10_000) == 24
    assert simhash_auto_bits(50_000) == 32
    assert simhash_auto_bits(10_000_000) == 64  # two-digest ceiling
    vals = [simhash_auto_bits(n) for n in (100, 1_000, 10_000, 100_000)]
    assert vals == sorted(vals)


def test_simhash_pairs_auto_bits_matches_explicit(spark, sf_dir):
    """At 300 docs the auto rule resolves to the floor clamp 16, so
    bits='auto' must reproduce bits=16 exactly (the count() happens at
    plan-build, the pair machinery is unchanged)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    auto = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ops.simhash_pairs(docs, bits="auto", max_hamming=2).collect()
    }
    explicit = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ops.simhash_pairs(docs, bits=16, max_hamming=2).collect()
    }
    assert auto == explicit and len(auto) > 0


def test_bpe_matches_reference_gpt2_goldens(spark):
    """Byte-level BPE parity with the reference's own GPT-2 test
    (reference test/transformation/test_text_ops.py golden token ids),
    using the PUBLIC GPT-2 vocab asset shipped in the reference repo.
    Skipped when the asset isn't mounted."""
    import json
    import os

    import pytest

    enc_path = "/root/reference/torcharrow/test/asset/gpt2_bpe_encoder.json"
    bpe_path = "/root/reference/torcharrow/test/asset/gpt2_bpe_vocab.bpe"
    if not (os.path.exists(enc_path) and os.path.exists(bpe_path)):
        pytest.skip("reference GPT-2 vocab asset not available")

    import torcharrow_spark as ts
    from torcharrow_spark import me
    from torcharrow_spark import functional as fn
    from torcharrow_spark.functions import BPETokenizer

    with open(enc_path, encoding="utf-8") as f:
        encoder = json.load(f)
    with open(bpe_path, encoding="utf-8") as f:
        merges = [tuple(l.split()) for l in f.read().split("\n")[1:-1]]
    tok = BPETokenizer(encoder, merges)

    goldens = {
        "Hello World!, how are you?": [15496, 2159, 28265, 703, 389, 345, 30],
        "Respublica superiorem": [4965, 11377, 64, 2208, 72, 29625],
    }
    for text, want in goldens.items():
        assert tok.encode(text) == want, text

    # distributed path: same ids through the pandas UDF
    d = ts.dataframe(
        {"doc_id": [0, 1], "text": list(goldens)},
        spark=spark,
    )
    rows = {
        r["doc_id"]: r["tokens"]
        for r in d.select("doc_id", tokens=fn.bpe_tokenize(tok, me["text"])).to_pylist()
    }
    assert rows[0] == goldens[list(goldens)[0]]
    assert rows[1] == goldens[list(goldens)[1]]


def test_scale_functions_no_whole_frame_window(spark):
    """scale_to_0_1 / scale_to_z_score: values match a pandas oracle and
    the main data path has no single-partition window Exchange — frame
    stats ride a scalar subquery (partial agg + 1-row broadcast)."""
    import math

    import torcharrow_spark as ts
    from torcharrow_spark import functional as fn
    from torcharrow_spark import me
    from torcharrow_spark.plans import formatted_plan

    vals = [1.0, 5.0, 3.0, -2.0, 10.0, 7.5]
    d = ts.dataframe({"x": vals}, spark=spark)
    out = d.select("x", z=fn.scale_to_z_score(me["x"]), m=fn.scale_to_0_1(me["x"]))
    rows = {r["x"]: r for r in out.to_pylist()}
    n = len(vals)
    mu = sum(vals) / n
    sd = math.sqrt(sum((v - mu) ** 2 for v in vals) / n)
    mn, mx = min(vals), max(vals)
    for v in vals:
        assert abs(rows[v]["z"] - (v - mu) / sd) < 1e-6
        assert abs(rows[v]["m"] - (v - mn) / (mx - mn)) < 1e-6
    # plan: no whole-frame Window (the old partitionBy(lit(1)) shape)
    plan = formatted_plan(out.to_spark())
    assert "Window" not in plan


def test_exact_dedup_key_is_hash_not_text(spark):
    """The dedup shuffle key is two 60-bit md5 halves, not the text:
    distinct 48-bit-prefix-colliding texts must still separate (the full
    120-bit key distinguishes them), and equal-after-normalization texts
    with wildly different raw bytes must merge."""
    from pyspark.sql import functions as F

    data = [(i, f"unique text number {i}") for i in range(50)] + [
        (100, "SAME   text\t here"),
        (101, "same text here"),
    ]
    df = spark.createDataFrame(data, "doc_id long, text string")
    out = ops.exact_dedup_ids(df)
    rows = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert rows[100] == 2 and 101 not in rows
    assert sum(rows.values()) == 52 and len(rows) == 51
    # group key carries no string column into the shuffle
    plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    import re
    m = re.search(r"hashpartitioning\(([^)]*)\)", plan)
    assert m and "__h_hi__" in m.group(1) and "__norm__" not in plan


def test_connected_components(spark):
    """Chain, triangle, singleton-by-absence: canonical min labels; a
    long chain exercises the pointer-jumping path (O(log n) rounds)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)]
        + [(i, i + 1) for i in range(100, 140)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in ops.connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == comp[12] == 10
    assert all(comp[i] == 100 for i in range(100, 141))


def test_near_dedup_keeps_one_per_cluster(spark, docs):
    surv = ops.near_dedup(docs, shingle_k=2)
    ids = sorted(r["doc_id"] for r in surv.collect())
    # 0/1/4 share normalized text; 2 (one-word delta) joins the same
    # cluster through a shared minhash band (deterministic md5 hashing);
    # only 3 is genuinely distinct -> min-id representatives are [0, 3]
    assert ids == [0, 3]


def test_connected_components_string_ids(spark):
    """String/UUID ids must cluster (a long cast would null them out and
    silently produce all-singletons — round-2 review finding)."""
    docs = spark.createDataFrame(
        [("a", "same text here"), ("b", "same  TEXT here"), ("c", "different entirely words")],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r["cluster"] for r in ops.near_dup_clusters(docs, shingle_k=2).collect()}
    assert out["a"] == out["b"] == "a" and out["c"] == "c"
    surv = sorted(r["doc_id"] for r in ops.near_dedup(docs, shingle_k=2).collect())
    assert surv == ["a", "c"]


def test_hash_split_deterministic_partition(spark):
    """hash_split: same rows land in the same split regardless of
    partitioning; fractions approximately honored; frames disjoint and
    exhaustive."""
    df = spark.range(2000).withColumnRenamed("id", "k")
    tr, va = ops.hash_split(df, "k", (0.8, 0.2), seed=3)
    tr2, va2 = ops.hash_split(df.repartition(13), "k", (0.8, 0.2), seed=3)
    a, b = {r["k"] for r in tr.collect()}, {r["k"] for r in va.collect()}
    assert a == {r["k"] for r in tr2.collect()} and b == {r["k"] for r in va2.collect()}
    assert not (a & b) and len(a | b) == 2000
    assert 0.75 < len(a) / 2000 < 0.85
    lab = ops.split_column(df, "k", (0.8, 0.2), seed=3)
    by_label = {r["k"]: r["split"] for r in lab.collect()}
    assert all(by_label[k] == 0 for k in a) and all(by_label[k] == 1 for k in b)


def test_kmeans_partition_invariant_and_sane(spark):
    """kmeans: decimal-exact centroid updates make the fit bit-identical
    under any partitioning (the 100 TB determinism claim); clusters
    separate an obviously separable dataset; empty clusters keep their
    previous centroid without crashing."""
    from torcharrow_spark.operators.clustering import kmeans

    pts = [(i, [float(i % 2 * 100), float((i * 7) % 5)]) for i in range(200)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    asg1, c1 = kmeans(df, k=2, max_iter=3)
    asg2, c2 = kmeans(df.repartition(13), k=2, max_iter=3)
    assert c1 == c2
    m1 = {r["vec_id"]: r["cluster"] for r in asg1.collect()}
    m2 = {r["vec_id"]: r["cluster"] for r in asg2.collect()}
    assert m1 == m2
    # separable: evens (x=0) and odds (x=100) never share a cluster
    even = {m1[i] for i in range(0, 200, 2)}
    odd = {m1[i] for i in range(1, 200, 2)}
    assert len(even) == 1 and len(odd) == 1 and even != odd
    # k > distinct points: surplus clusters stay on their init centroid
    tiny = spark.createDataFrame(
        [(1, [0.0]), (2, [0.0]), (3, [9.0])], "vec_id long, embedding array<double>"
    )
    _asg, cents = kmeans(tiny, k=3, max_iter=2)
    assert len(cents) == 3


def _awkward_vecs():
    """Floats whose SQL round trip is the risky part: full-17-digit
    reprs, scientific-notation reprs, negative zero, denormal-ish."""
    return [
        [0.1 + 0.2, -0.0, 8.683138876222074e-4, 1e-300],
        [-1.0 / 3.0, 2.0**-40, -8.98846567431158e30, 0.0],
        [5e-324, -5e-324, 123456789.123456789, -2.2250738585072014e-30],
    ]


def test_kmeans_sql_expr_matches_column_api(spark):
    """_sq_dists builds its k x dim expression as ONE F.expr over
    generated SQL text (r12: F.lit(list) costs a py4j round trip per
    element, ~2 s per Lloyd iteration at 8 x 64). Pin: the SQL-text
    form is bit-identical — rows AND schema — to the Column-API form
    it replaced, including awkward float reprs."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.clustering import _sq_dists

    cents = _awkward_vecs()
    rows = [(i, [float(x) * (1 + i) for x in c]) for i, c in enumerate(cents)]
    rows.append((99, [0.3, 0.0, 0.001, 1e-299]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def ref(vec, cs):  # the pre-r12 Column-API construction, verbatim
        out = []
        for idx, c in enumerate(cs):
            d = F.aggregate(
                F.zip_with(
                    vec,
                    F.lit([float(x) for x in c]),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            out.append(F.struct(d.alias("d"), F.lit(idx).alias("c")))
        return F.array(*out)

    a = df.select("vec_id", ref(F.col("embedding"), cents).alias("x"))
    b = df.select("vec_id", _sq_dists("embedding", cents).alias("x"))
    assert a.schema.json() == b.schema.json()
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_kmeans_array_agg_matches_column_api(spark):
    """r13: the Lloyd centroid-update aggregate is built as TWO F.expr
    calls (count + one array() of per-dim decimal sums) instead of
    dim+1 Column-API columns (~0.6 s of py4j per iteration at dim=64,
    the measured per-iteration bottleneck). Pin: element i of the
    array equals the old per-column decimal sum EXACTLY — decimal
    type, value, and null-on-empty behavior included."""
    from pyspark.sql import functions as F

    cents = _awkward_vecs()
    dim = len(cents[0])
    rows = [
        (i, i % 3, [float(x) * (1 + i) for x in c])
        for i, c in enumerate(cents * 3)
    ]
    rows.append((99, 0, [0.3, 0.0, 0.001, 1e-299][:dim]))
    df = spark.createDataFrame(
        rows, "vec_id long, cluster int, embedding array<double>"
    )

    old = df.groupBy("cluster").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.col("embedding")[i].cast("decimal(38,12)")).alias(
                f"s{i}"
            )
            for i in range(dim)
        ],
    )
    sums_sql = (
        "array("
        + ",".join(
            f"sum(cast(`embedding`[{i}] as decimal(38,12)))"
            for i in range(dim)
        )
        + ") AS s"
    )
    new = df.groupBy("cluster").agg(
        F.expr("count(*) AS n"), F.expr(sums_sql)
    )
    o = {r["cluster"]: r for r in old.collect()}
    n = {r["cluster"]: r for r in new.collect()}
    assert set(o) == set(n)
    for cl in o:
        assert o[cl]["n"] == n[cl]["n"]
        assert [o[cl][f"s{i}"] for i in range(dim)] == list(n[cl]["s"])
    # the array element type is the same decimal the old columns had
    s_field = dict(zip(new.schema.names, new.schema.fields))["s"]
    assert s_field.dataType.elementType.simpleString() == "decimal(38,12)"


def test_cell_sims_sql_expr_matches_column_api(spark):
    """Same pin for similarity._cell_sims (cosine-to-centroid structs):
    SQL-text construction is bit-identical to the Column-API form,
    /norm divide included."""
    import math

    from pyspark.sql import functions as F

    from torcharrow_spark.operators.similarity import _cell_sims

    cents = [(i, c) for i, c in enumerate(_awkward_vecs())]
    rows = [(i, [float(x) + 0.5 for x in c]) for i, (_, c) in enumerate(cents)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def ref(vec, cs):  # the pre-r12 Column-API construction, verbatim
        out = []
        for idx, (_cid, cv) in enumerate(cs):
            d = F.aggregate(
                F.zip_with(vec, F.lit(cv), lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            nw = math.sqrt(sum(x * x for x in cv)) or 1.0
            out.append(
                F.struct((d / F.lit(nw)).alias("s"), F.lit(idx).alias("c"))
            )
        return F.array(*out)

    a = df.select("vec_id", ref(F.col("embedding"), cents).alias("x"))
    b = df.select("vec_id", _cell_sims("embedding", cents).alias("x"))
    assert a.schema.json() == b.schema.json()
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_hyperplane_proj_sql_weights_match_column_api(spark):
    """r12 pin: _hyperplane_proj with the weight array as SQL-text
    CAST('repr' AS DOUBLE) literals is bit-identical — projection AND
    derived bucket ids — to the F.lit(list) form it replaced."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.similarity import (
        _hyperplane_proj,
        _plane_weights,
        lsh_bucket,
    )

    dim = 64
    rows = [
        (i, [((i * dim + d) % 17 - 8) * 0.37 for d in range(dim)])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def ref_proj(vec, plane):  # the pre-r12 F.lit(list) form, verbatim
        w = F.lit(_plane_weights(plane, dim))
        idx = F.sequence(F.lit(0), F.size(vec) - 1)
        terms = F.transform(
            idx,
            lambda d: F.element_at(w, d + 1)
            * F.element_at(vec, d + 1).cast("double"),
        )
        return F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)

    v = F.col("embedding")
    a = df.select(
        "vec_id", *[ref_proj(v, p).alias(f"p{p}") for p in range(4)]
    ).collect()
    b = df.select(
        "vec_id", *[_hyperplane_proj(v, p, dim).alias(f"p{p}") for p in range(4)]
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    # bucket ids (the consumer contract) agree too
    def ref_bucket(vec, n_planes):
        bucket = F.lit(0)
        for i in range(n_planes):
            sign = F.when(ref_proj(vec, i) >= 0, F.lit(1)).otherwise(F.lit(0))
            bucket = bucket + sign * F.lit(2**i)
        return bucket.cast("int")

    a = df.select("vec_id", ref_bucket(v, 8).alias("b")).collect()
    b = df.select("vec_id", lsh_bucket(v, 8, dim).alias("b")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_language_id_fold_sql_expr_matches_column_api(spark):
    """Same pin for classifier.language_id_score's weight fold: the
    SQL-text int64 aggregate (`<v>L` literals) is bit-identical —
    scores AND predicted language — to the Column-API
    lit().cast('long') form it replaced (r12: ~7.5 s of py4j per
    score construction at 5 langs x 256 buckets)."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.classifier import language_id_score

    n_buckets = 16
    # extreme-but-valid int64 weights incl. negatives and near-boundary
    model = {
        "aa": {"prior": -(2**62), "logp": [(-1) ** i * (2**40 + i) for i in range(n_buckets)]},
        "bb": {"prior": 7, "logp": [i - 8 for i in range(n_buckets)]},
    }
    rows = [(1, "hello world"), (2, "der die das und"), (3, "xy")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = language_id_score(df, model, n_buckets=n_buckets).collect()

    # reference: the pre-r12 Column-API fold, verbatim, on the same grams
    t = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    src = df.select("doc_id", t.alias("__t__")).where(F.length("__t__") >= 2)
    buckets = F.expr(
        "transform(sequence(1, length(__t__) - 1),"
        " i -> (cast(conv(substring(md5(substring(__t__, i, 2)), 1, 2),"
        f" 16, 10) AS INT) % {n_buckets}))"
    )
    src = src.select("doc_id", buckets.alias("__b__"))

    def ref_fold(c):
        w = F.array(*[F.lit(int(v)).cast("long") for v in model[c]["logp"]])
        return F.aggregate(
            F.col("__b__"),
            F.lit(int(model[c]["prior"])).cast("long"),
            lambda acc, b: acc + F.element_at(w, b + 1),
        )

    ref = {
        r["doc_id"]: (r["s_aa"], r["s_bb"])
        for r in src.select(
            "doc_id", ref_fold("aa").alias("s_aa"), ref_fold("bb").alias("s_bb")
        ).collect()
    }
    assert {r["doc_id"]: (r["s_aa"], r["s_bb"]) for r in out} == ref
    for r in out:
        exp = "aa" if ref[r["doc_id"]][0] >= ref[r["doc_id"]][1] else "bb"
        if ref[r["doc_id"]][0] == ref[r["doc_id"]][1]:
            exp = "aa"  # tie broken by language name ascending
        assert r["pred_lang"] == exp


def test_kmeans_assign_ties_to_lower_cluster(spark):
    from torcharrow_spark.operators.clustering import kmeans_assign

    df = spark.createDataFrame([(1, [5.0])], "vec_id long, embedding array<double>")
    out = kmeans_assign(df, [[0.0], [10.0]]).collect()
    assert out[0]["cluster"] == 0


def test_tf_idf_matches_hand_computation(spark):
    """tf_idf on a 3-doc corpus vs values computed by hand with the
    sklearn smooth_idf formula; bm25 ranks the doc with more query-term
    hits first and skips docs with none."""
    import math

    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "apple cherry"), (3, "durian durian")],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["term"]): r
        for r in ops.tf_idf(docs).collect()
    }
    assert rows[(1, "apple")]["tf"] == 2 and rows[(1, "apple")]["df"] == 2
    idf_apple = math.log((1 + 3) / (1 + 2)) + 1
    assert abs(rows[(1, "apple")]["idf"] - idf_apple) < 1e-7
    assert abs(rows[(1, "apple")]["tfidf"] - 2 * idf_apple) < 1e-7
    # durian appears in one doc: higher idf than apple
    assert rows[(3, "durian")]["idf"] > rows[(1, "apple")]["idf"]

    scored = {r["doc_id"]: r for r in ops.bm25_scores(docs, ["apple", "banana"]).collect()}
    assert set(scored) == {1, 2}  # doc 3 has no query term
    assert scored[1]["n_hit_terms"] == 2 and scored[2]["n_hit_terms"] == 1
    assert scored[1]["score"] > scored[2]["score"]


def test_top_terms_rank_and_determinism(spark):
    docs = spark.createDataFrame(
        [(1, "x x x y z"), (2, "y z z")], "doc_id long, text string"
    )
    out = ops.top_terms(docs, k=2).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"]))
    assert sorted(per_doc[1])[0][1] == "x"  # x dominates doc 1
    assert all(len(v) == 2 for v in per_doc.values())


def test_relevance_plan_shape(spark, sf_dir):
    """BM25/TF-IDF plans: vocabulary df side broadcast, and the corpus
    scalars (N, avgdl) plan as scalar subqueries — no whole-frame Window
    node anywhere (the single-partition exchange inside a scalar
    subquery's final 1-row aggregate carries partial-agg rows, not
    data)."""
    from torcharrow_spark.plans import formatted_plan, plan_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = plan_stats(ops.tf_idf(docs))
    assert stats["broadcast_joins"] >= 1, stats
    bm25_text = formatted_plan(ops.bm25_scores(docs, ["spark"]))
    assert "Subquery" in bm25_text
    assert "Window" not in bm25_text


def test_repetition_stats_hand_values(spark):
    """repetition_stats vs hand computation: 'a a a a' is maximally
    repetitive; an all-distinct doc scores zero everywhere; docs shorter
    than the n-gram order don't crash (Spark sequence(1,0) descends —
    the guard must short-circuit)."""
    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "b c d e"), (3, "x"), (4, "p q p q p q")],
        "doc_id long, text string",
    )
    r = {row["doc_id"]: row for row in ops.repetition_stats(docs).collect()}
    assert abs(r[1]["dup_word_frac"] - 0.75) < 1e-12  # 1 distinct of 4
    assert r[1]["top2_frac"] == 1.0 and r[1]["is_repetitive"]
    assert r[2]["dup_word_frac"] == 0.0 and not r[2]["is_repetitive"]
    assert r[2]["top2_frac"] == 0.0  # no bigram repeats -> no coverage
    assert r[3]["top2_frac"] == 0.0 and r[3]["dup5_frac"] == 0.0
    # 'p q' occurs 3x in 6 tokens -> 3*2/6 = 1.0
    assert r[4]["top2_frac"] == 1.0


def test_hash_sample_deterministic_and_partition_invariant(spark):
    from torcharrow_spark.operators import hash_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = {r.k for r in hash_sample(df, 0.3, "k", seed=1).collect()}
    b = {r.k for r in hash_sample(df.repartition(7), 0.3, "k", seed=1).collect()}
    assert a == b                       # pure function of (seed, key)
    assert 0.2 < len(a) / 2000 < 0.4    # roughly the requested fraction
    c = {r.k for r in hash_sample(df, 0.3, "k", seed=2).collect()}
    assert c != a                       # seed actually changes the sample
    # nested property: fraction 0.1 with the same seed is a subset of 0.3
    d = {r.k for r in hash_sample(df, 0.1, "k", seed=1).collect()}
    assert d <= a
    with pytest.raises(ValueError):
        hash_sample(df, 1.5, "k")


def test_stratified_sample_per_stratum_fractions(spark):
    from torcharrow_spark.operators import stratified_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(4000)], ["k", "lang"]
    )
    out = stratified_sample(df, "lang", {"en": 0.5, "de": 0.05}, "k", seed=9)
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert 0.4 < counts["en"] / 2000 < 0.6
    assert counts.get("de", 0) / 2000 < 0.15
    # absent stratum uses default_fraction=0.0 -> dropped entirely
    df2 = df.withColumn("lang", F.lit("zz"))
    assert stratified_sample(df2, "lang", {"en": 0.5}, "k").count() == 0
    with pytest.raises(ValueError):
        stratified_sample(df, "lang", {"en": 2.0}, "k")


def test_redact_pii_literals(spark):
    from torcharrow_spark.operators import redact_pii

    rows = [
        (1, "write to bob.smith+x@corp.example.org today"),
        (2, "see https://ex.org/a?b=1 and http://t.co/xyz"),
        (3, "call 070-123-4567 0 or 12-345-678-9012 now"),
        (4, "ssn-ish 123456789 short 12345678"),
        (5, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in redact_pii(df, "text").collect()}
    assert got[1].text == "write to <EMAIL> today"
    assert got[1].n_email == 1 and got[1].n_url == 0
    assert got[2].text == "see <URL> and <URL>" and got[2].n_url == 2
    assert got[3].text == "call 070-123-4567 0 or <PHONE> now"
    assert got[3].n_phone == 1
    assert got[4].text == "ssn-ish <ID> short 12345678" and got[4].n_long_id == 1
    assert got[5].text == rows[4][1]
    assert all(got[5][c] == 0 for c in ("n_url", "n_email", "n_phone", "n_long_id"))
    # counts=False keeps the schema untouched
    assert redact_pii(df, "text", counts=False).columns == ["doc_id", "text"]


def test_interval_join_matches_naive_and_left_outer(spark):
    from torcharrow_spark.operators import interval_join

    pts = spark.createDataFrame(
        [(i, i % 3, float(i * 10)) for i in range(40)], ["pid", "grp", "t"]
    )
    ivs = spark.createDataFrame(
        [(100, 0, 5.0, 65.0), (101, 0, 60.0, 70.0), (102, 1, 0.0, 400.0),
         (103, 2, 390.0, 395.0), (104, 0, 120.0, 120.0)],  # empty interval
        ["iid", "grp", "lo", "hi"],
    )
    got = interval_join(pts, ivs, "t", "lo", "hi", by=["grp"])
    naive = pts.join(ivs, "grp").where(
        (F.col("t") >= F.col("lo")) & (F.col("t") < F.col("hi"))
    )
    assert sorted((r.pid, r.iid) for r in got.collect()) == sorted(
        (r.pid, r.iid) for r in naive.collect()
    )
    # explicit bucket width produces the identical result
    got2 = interval_join(pts, ivs, "t", "lo", "hi", by=["grp"], bucket_seconds=7.0)
    assert sorted((r.pid, r.iid) for r in got2.collect()) == sorted(
        (r.pid, r.iid) for r in got.collect()
    )
    # left outer keeps every point exactly once when unmatched
    left = interval_join(pts, ivs, "t", "lo", "hi", by=["grp"], how="left")
    n_inner = got.count()
    n_matched_pts = got.select("pid").distinct().count()
    assert left.count() == n_inner + pts.count() - n_matched_pts
    assert left.where(F.col("iid").isNull()).count() == pts.count() - n_matched_pts
    with pytest.raises(ValueError):
        interval_join(pts, ivs, "t", "lo", "hi", how="full")
    with pytest.raises(ValueError):
        interval_join(pts, ivs, "t", "lo", "hi", bucket_seconds=0)


def test_weighted_sample_without_replacement(spark):
    from torcharrow_spark.operators import weighted_sample

    df = spark.createDataFrame(
        [(i, 1.0 if i < 900 else 1000.0) for i in range(1000)], ["k", "w"]
    )
    got = weighted_sample(df, 50, "w", "k", seed=4)
    rows = got.collect()
    assert len(rows) == 50 and len({r.k for r in rows}) == 50  # no replacement
    # the 100 heavy rows (1000x weight) should dominate the sample
    heavy = sum(1 for r in rows if r.k >= 900)
    assert heavy > 40
    # deterministic under repartitioning
    again = {r.k for r in weighted_sample(df.repartition(13), 50, "w", "k", seed=4).collect()}
    assert again == {r.k for r in rows}
    # zero/negative weights are never selected
    df2 = spark.createDataFrame([(1, 0.0), (2, -5.0), (3, 2.0)], ["k", "w"])
    assert [r.k for r in weighted_sample(df2, 3, "w", "k").collect()] == [3]
    with pytest.raises(ValueError):
        weighted_sample(df, 0, "w", "k")


def test_build_vocab_order_specials_and_caps(spark):
    from torcharrow_spark.operators import build_vocab

    docs = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a b z <unk>")], ["doc_id", "text"]
    )
    v = {r.token: (r.freq, r.token_id) for r in build_vocab(
        docs, specials=["<pad>", "<unk>"]).collect()}
    assert v["<pad>"] == (None, 0) and v["<unk>"][1] == 1  # specials first, excluded from counts
    assert v["b"] == (4, 2) and v["a"] == (3, 3)           # freq desc
    assert v["c"][1] < v["z"][1]                            # tie broken by token asc
    # min_freq and max_size prune the tail but never the specials
    v2 = {r.token: r.token_id for r in build_vocab(
        docs, min_freq=3, max_size=3, specials=["<pad>"]).collect()}
    assert set(v2) == {"<pad>", "b", "a"}


def test_chunk_documents_windows(spark):
    from torcharrow_spark.operators import chunk_documents

    words = " ".join(str(i) for i in range(10))
    df = spark.createDataFrame([(1, words), (2, "x"), (3, "")], ["doc_id", "text"])
    got = {(r.doc_id, r.chunk_id): (r.text, r.n_tokens)
           for r in chunk_documents(df, 8, overlap=4).collect()}
    # doc 1: 10 tokens, stride 4 -> chunks [0..7], [4..9]
    assert got[(1, 0)] == (" ".join(str(i) for i in range(8)), 8)
    assert got[(1, 1)] == (" ".join(str(i) for i in range(4, 10)), 6)
    assert (1, 2) not in got
    assert got[(2, 0)] == ("x", 1)      # short doc -> single short chunk
    assert got[(3, 0)][1] == 1          # empty text -> [""] single token
    # overlap tokens really are shared
    a, b = got[(1, 0)][0].split(), got[(1, 1)][0].split()
    assert a[-4:] == b[:4]
    with pytest.raises(ValueError):
        chunk_documents(df, 8, overlap=8)
    with pytest.raises(ValueError):
        chunk_documents(df, 0)


def test_mix_proportions_rebalances(spark):
    from torcharrow_spark.operators import mix_proportions

    rows = [(i, "a") for i in range(4000)] + [(i + 10000, "b") for i in range(1000)] \
        + [(i + 20000, "c") for i in range(500)]
    df = spark.createDataFrame(rows, ["k", "src"])
    out = mix_proportions(df, "src", {"a": 0.5, "b": 0.5}, "k", seed=2)
    got = {r.src: r.n for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert "c" not in got                      # groups outside props dropped
    # b is the limiting group: T=2000 -> expect ~1000 of each
    assert 0.8 < got["a"] / 1000 < 1.2 and 0.8 < got["b"] / 1000 < 1.2
    # deterministic under repartitioning
    again = {r.k for r in mix_proportions(df.repartition(11), "src",
             {"a": 0.5, "b": 0.5}, "k", seed=2).collect()}
    assert again == {r.k for r in out.collect()}
    with pytest.raises(ValueError):
        mix_proportions(df, "src", {"a": 0.5, "zz": 0.5}, "k")
    with pytest.raises(ValueError):
        mix_proportions(df, "src", {"a": -1.0}, "k")


def test_group_centroids_and_normalize(spark):
    from torcharrow_spark.operators import group_centroids, normalize_embeddings

    df = spark.createDataFrame(
        [(1, "a", [1.0, 2.0]), (2, "a", [3.0, 6.0]), (3, "b", [0.0, 0.0])],
        ["vec_id", "grp", "embedding"],
    )
    cents = {r.grp: (r.centroid, r.n_vectors)
             for r in group_centroids(df, "grp").collect()}
    assert cents["a"][0] == [2.0, 4.0] and cents["a"][1] == 2
    assert cents["b"][0] == [0.0, 0.0] and cents["b"][1] == 1
    # partition invariance (exact integer sums)
    again = {r.grp: r.centroid
             for r in group_centroids(df.repartition(5), "grp").collect()}
    assert again == {g: c for g, (c, _) in cents.items()}

    normed = {r.vec_id: r.embedding for r in normalize_embeddings(df).collect()}
    import math
    assert math.isclose(sum(v * v for v in normed[1]), 1.0, rel_tol=1e-12)
    assert math.isclose(normed[2][1] / normed[2][0], 2.0, rel_tol=1e-12)
    assert normed[3] == [0.0, 0.0]  # zero vector unchanged, no div-by-zero


def test_dedup_lines_removes_boilerplate_in_order(spark):
    from torcharrow_spark.operators import dedup_lines

    bp = "all rights reserved"
    df = spark.createDataFrame(
        [(1, f"alpha\n{bp}\nbeta"), (2, f"{bp}\ngamma"), (3, f"delta\n{bp}"),
         (4, bp), (5, "unique\nunique")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.text for r in dedup_lines(df, max_copies=2).collect()}
    assert got[1] == "alpha\nbeta"      # order preserved around removed line
    assert got[2] == "gamma"
    assert got[3] == "delta"
    assert got[4] == ""                 # fully-boilerplate doc survives empty
    assert got[5] == "unique\nunique"   # 2 occurrences <= max_copies
    # max_copies=1 also kills the doubled 'unique' line
    got1 = {r.doc_id: r.text for r in dedup_lines(df, max_copies=1).collect()}
    assert got1[5] == ""
    with pytest.raises(ValueError):
        dedup_lines(df, max_copies=0)


def test_hll_lc_table_sql_expr_matches_column_api(spark):
    """r12 pin: the linear-counting table embedded as ONE F.expr of
    CAST('repr' AS DOUBLE) literals is bit-identical, element by
    element, to the Column-API F.lit form it replaced — the estimate's
    bit-determinism contract (both engines embed the SAME table)
    survives the construction change."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.sketch import linear_counting_table

    for p in (4, 8):
        tab = linear_counting_table(p)
        sql = F.expr(
            "array(" + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in tab) + ")"
        )
        api = F.array(*[F.lit(x) for x in tab])
        row = spark.range(1).select(sql.alias("a"), api.alias("b")).first()
        assert row["a"] == row["b"]
        assert [x for x in row["a"]] == tab


def test_hll_distinct_accuracy_and_merge(spark):
    from pyspark.sql import functions as F
    from torcharrow_spark.operators import hll_distinct, hll_registers

    n = 20000
    df = spark.range(n).select(
        (F.col("id") % 2).alias("grp"), F.col("id").alias("v")
    )
    est = {r.grp: r.est_distinct for r in
           hll_distinct(df, "v", ["grp"], p=8).collect()}
    for g, true in [(0, n // 2), (1, n // 2)]:
        assert abs(est[g] - true) / true < 0.10  # ~1.04/sqrt(256) = 6.5%

    # duplicates don't move the estimate (set semantics)
    dup = df.union(df).union(df)
    est_dup = {r.grp: r.est_distinct for r in
               hll_distinct(dup, "v", ["grp"], p=8).collect()}
    assert est_dup == est

    # register frames merge by max: sketch(A union B) == merge(sketch(A), sketch(B))
    a, b = df.where("v < 7000"), df.where("v >= 7000")
    merged = (
        hll_registers(a, "v", ["grp"], p=8)
        .union(hll_registers(b, "v", ["grp"], p=8))
        .groupBy("grp", "bucket").agg(F.max("m_j").alias("m_j"))
    )
    whole = hll_registers(df, "v", ["grp"], p=8)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))

    with pytest.raises(ValueError):
        hll_registers(df, "v", p=2)


def test_funnel_semantics_and_single_shuffle(spark):
    from torcharrow_spark.operators import funnel
    from torcharrow_spark.plans import plan_stats
    import datetime as dt

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # u1 completes a->b->c in order
        (1, "a", T(1)), (1, "b", T(2)), (1, "c", T(3)),
        # u2: b BEFORE a -> never reaches b (strictly-after semantics)
        (2, "b", T(1)), (2, "a", T(2)), (2, "c", T(3)),
        # u3: a only
        (3, "a", T(5)),
        # u4: a and b simultaneous -> b not strictly after -> stops at a
        (4, "a", T(7)), (4, "b", T(7)),
        # u5: no a at all -> counted nowhere
        (5, "b", T(1)), (5, "c", T(2)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    out = {r.step: (r.users_reached, r.conversion)
           for r in funnel(df, ["a", "b", "c"]).collect()}
    assert out["a"] == (4, 1.0)
    assert out["b"] == (1, 0.25)
    assert out["c"] == (1, 1.0)

    # whole funnel = one hash-shuffle on user_id (windows + per-user
    # collapse share the partitioning); the final K-row explode adds
    # only the single-row aggregate exchange
    stats = plan_stats(funnel(df, ["a", "b", "c"]))
    # formatted text lists each Exchange twice (tree + detail): 2 real
    # exchanges — user_id hash (shared by all windows + collapse) and
    # the single-row final aggregate
    assert stats["exchanges"] <= 4, stats

    with pytest.raises(ValueError):
        funnel(df, [])


def test_cms_overestimates_never_under(spark):
    from pyspark.sql import functions as F
    from torcharrow_spark.operators import cms_lookup, cms_sketch

    # zipf-ish: value v appears v times, v = 1..40 -> N = 820 over w=16
    df = spark.range(1, 41).select(
        F.explode(F.expr("sequence(1, id)")).alias("x"), F.col("id").alias("v")
    ).select(F.col("v").cast("string").alias("item"))
    sk = cms_sketch(df, "item", d=3, w=16)
    est = {r.item: r.est_count for r in cms_lookup(sk, df, "item", d=3, w=16).collect()}
    exact = {str(v): v for v in range(1, 41)}
    assert all(est[k] >= exact[k] for k in exact)          # ceiling property
    # error bound: e*N/w with prob 1-e^-d; allow the deterministic
    # worst case observed at this tiny width
    assert sum(est[k] - exact[k] for k in exact) / len(exact) < 2.72 * 820 / 16

    # sketch cells cap at d*w rows however large the input
    assert sk.count() <= 3 * 16

    # merge: cells of (A union B) == summed cells of A and B
    a, b = df.where("item < '3'"), df.where("item >= '3'")
    merged = (
        cms_sketch(a, "item", d=3, w=16)
        .union(cms_sketch(b, "item", d=3, w=16))
        .groupBy("seed", "bucket").agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, sk.collect()))

    with pytest.raises(ValueError):
        cms_sketch(df, "item", d=0)


def test_retention_cohorts_semantics(spark):
    from torcharrow_spark.operators import retention_cohorts
    import datetime as dt

    # week of 2024-01-01 is a Monday; u1 active wk0 and wk2, u2 wk0
    # only (two events same week dedup), u3 cohorts one week later
    rows = [
        (1, dt.datetime(2024, 1, 2)), (1, dt.datetime(2024, 1, 16)),
        (2, dt.datetime(2024, 1, 3)), (2, dt.datetime(2024, 1, 5)),
        (3, dt.datetime(2024, 1, 10)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {(r.cohort_week, r.week_offset): r.n_active
           for r in retention_cohorts(df).collect()}
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_strip_duplicate_spans(spark):
    from torcharrow_spark.operators import duplicate_spans, strip_duplicate_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d"),          # shares span "a b c" with doc 2
            (2, "x a b c"),
            (3, "unique words only here"),
            (4, "p q r p q r p q r"),  # self-repeating: every span dup'd
        ],
        ["doc_id", "text"],
    )
    dups = {(r.doc_id, r.span_start): r.n_copies
            for r in duplicate_spans(df, k=3).collect()}
    assert dups[(1, 0)] == 2 and dups[(2, 1)] == 2
    assert not any(d == 3 for d, _ in dups)

    out = {r.doc_id: (r.text, r.n_tokens, r.n_removed)
           for r in strip_duplicate_spans(df, k=3).collect()}
    assert out[1] == ("d", 4, 3)
    assert out[2] == ("x", 4, 3)
    assert out[3] == ("unique words only here", 4, 0)
    assert out[4] == ("", 9, 9)          # fully self-duplicated doc vanishes


def test_contamination_fractions(spark):
    from torcharrow_spark.operators import contamination

    train = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    test = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),   # exact copy -> frac 1.0
            (2, "alpha beta gamma epsilon"), # shares 1 of 2 shingles
            (3, "zeta eta theta iota"),      # disjoint -> 0.0
            (4, "too short"),                # < k tokens -> no shingles
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: (r.n_shingles, r.n_overlap,
                      round(r.overlap_frac, 6), r.contaminated)
           for r in contamination(train, test, k=3, threshold=0.5).collect()}
    assert out[1] == (2, 2, 1.0, True)
    assert out[2] == (2, 1, 0.5, True)       # >= threshold
    assert out[3] == (2, 0, 0.0, False)
    assert out[4] == (0, 0, 0.0, False)


def test_corr_matrix_values(spark):
    from torcharrow_spark.operators import corr_matrix
    import math

    # y = 2x exactly -> corr 1; z anti-correlated with x -> corr -1;
    # w has a null that must drop that row pairwise
    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0, 1.0), (2.0, 4.0, 2.0, None),
         (3.0, 6.0, 1.0, 5.0)],
        ["x", "y", "z", "w"],
    )
    got = {(r.col_a, r.col_b): (r.corr, r.n)
           for r in corr_matrix(df, ["x", "y", "z", "w"]).collect()}
    assert math.isclose(got[("x", "y")][0], 1.0, rel_tol=1e-12)
    assert got[("x", "y")][1] == 3
    assert math.isclose(got[("x", "z")][0], -1.0, rel_tol=1e-12)
    assert got[("x", "w")][1] == 2          # null row dropped pairwise
    assert math.isclose(got[("x", "w")][0], 1.0)

    # partitioning cannot move the result (decimal sums are exact)
    rep = {(r.col_a, r.col_b): r.corr
           for r in corr_matrix(df.repartition(7), ["x", "y", "z"]).collect()}
    assert rep[("x", "y")] == got[("x", "y")][0]

    with pytest.raises(ValueError):
        corr_matrix(df, ["x"])


def test_histogram_bins_and_clamping(spark):
    from torcharrow_spark.operators import histogram

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (0.5,), (9.9,), (25.0,), (None,)], ["v"]
    )
    out = {r.bin: (r.bin_lo, r.n) for r in
           histogram(df, "v", lo=0.0, hi=10.0, n_bins=10).collect()}
    assert len(out) == 10                       # empty bins emitted
    assert out[0] == (0.0, 3)                   # -5 clamps in, 0.0, 0.5
    assert out[9][1] == 2                       # 9.9 and clamped 25.0
    assert sum(n for _, n in out.values()) == 5  # null dropped

    with pytest.raises(ValueError):
        histogram(df, "v", 1.0, 1.0)


def test_take_per_group_exact_k_deterministic(spark):
    from torcharrow_spark.operators import take_per_group

    df = spark.range(100).selectExpr("id % 5 AS g", "id")
    out = take_per_group(df, ["g"], k=3, id_col="id")
    rows = out.collect()
    assert len(rows) == 15
    per_g = {}
    for r in rows:
        per_g.setdefault(r.g, set()).add(r.id)
    assert all(len(v) == 3 for v in per_g.values())
    # deterministic under repartitioning
    again = {(r.g, r.id) for r in
             take_per_group(df.repartition(13), ["g"], 3, "id").collect()}
    assert again == {(r.g, r.id) for r in rows}
    # different seed -> (almost surely) different sample
    other = {(r.g, r.id) for r in
             take_per_group(df, ["g"], 3, "id", seed=1).collect()}
    assert other != again


def test_heavy_hitters_exact_and_partition_invariant(spark):
    from torcharrow_spark.operators import heavy_hitters

    rows = (
        [("a",)] * 500 + [("b",)] * 300 + [("c",)] * 10
        + [(str(i),) for i in range(190)]
    )
    df = spark.createDataFrame(rows, "v string")
    expected = {("a", 500), ("b", 300)}          # threshold 0.05 -> >= 50
    for parts in (1, 7, 32):
        got = {
            (r["value"], r["cnt"])
            for r in heavy_hitters(df.repartition(parts), "v", 0.05).collect()
        }
        assert got == expected
    # boundary: exactly threshold*N qualifies (>=)
    got = {
        r["value"]
        for r in heavy_hitters(df, "v", 0.01).collect()  # 0.01*1000 = 10
    }
    assert "c" in got
    with pytest.raises(ValueError):
        heavy_hitters(df, "v", 0.0)


def test_binned_quantile_error_bound_and_winsorize(spark):
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import binned_quantile, winsorize

    df = spark.range(10_000).selectExpr("CAST(id AS DOUBLE) AS x")
    n_bins = 512
    qs = [0.0, 0.1, 0.5, 0.9, 1.0]
    est = {r["q"]: r["value"] for r in
           binned_quantile(df, "x", qs, n_bins=n_bins).collect()}
    exact = df.agg(
        F.expr(f"percentile(x, array({','.join(map(str, qs))}))")
    ).collect()[0][0]
    width = 9999.0 / n_bins
    assert set(est) == set(qs)
    for q, ex in zip(qs, exact):
        assert abs(est[q] - ex) <= width + 1e-9, (q, est[q], ex)
    # partition invariance (exact integer bin counts -> same estimate)
    est7 = {r["q"]: r["value"] for r in
            binned_quantile(df.repartition(7), "x", qs,
                            n_bins=n_bins).collect()}
    assert est == est7

    w = winsorize(df, "x", 0.05, 0.95, n_bins=n_bins, out_col="c")
    lo_t, hi_t = (w.agg(F.min("c"), F.max("c")).collect()[0][0:2])
    assert 400 <= lo_t <= 600 and 9400 <= hi_t <= 9600
    assert w.where(F.col("c") < lo_t).count() == 0
    assert w.where(F.col("c") > hi_t).count() == 0
    assert w.count() == 10_000
    # nulls stay null
    dfn = spark.createDataFrame([(1.0,), (None,), (2.0,)], "x double")
    wn = winsorize(dfn, "x", 0.0, 1.0, out_col="c")
    assert wn.where(F.col("c").isNull()).count() == 1


def test_resample_ffill_semantics(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from torcharrow_spark.operators import resample_ffill

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        # key a: obs at 5s (v=1), 10s (v=2, two obs -> id tiebreak), 25s
        ("a", at(5), 1.0, 1),
        ("a", at(10), 2.0, 2),
        ("a", at(10), 99.0, 3),   # same ts, higher id wins
        ("a", at(25), 4.0, 4),
        # key b: single obs exactly on a grid point
        ("b", at(20), 7.0, 5),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp_ntz, v double, i long")
    out = resample_ffill(df, "k", "ts", "v", interval_s=10, id_col="i")
    got = {(r["k"], r["ts_s"] % 100): r["value"] for r in out.collect()}
    ep0 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    # key a grid: ceil(5/10)=1 .. floor(25/10)=2 -> ts 10, 20
    assert got[("a", (ep0 + 10) % 100)] == 99.0   # obs at 10 visible, id 3 wins
    assert got[("a", (ep0 + 20) % 100)] == 99.0   # carried forward
    # key b grid: single point at 20, obs exactly there
    assert got[("b", (ep0 + 20) % 100)] == 7.0
    assert len(got) == 3
    # partition invariance
    got7 = {(r["k"], r["ts_s"]): r["value"]
            for r in resample_ffill(df.repartition(7), "k", "ts", "v",
                                    interval_s=10, id_col="i").collect()}
    assert len(got7) == 3 and set(got7.values()) == {99.0, 7.0}


def test_binned_cdf_monotone_and_accurate(spark):
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import binned_cdf

    df = spark.range(10_000).selectExpr("id", "CAST(id AS DOUBLE) AS x")
    out = binned_cdf(df, "x", n_bins=512)
    rows = out.select("id", "x_cdf").orderBy("id").collect()
    # accuracy: |cdf - true_rank/N| <= one bin's mass + interpolation
    for r in rows[:: 503]:
        true = (r["id"] + 1) / 10_000
        assert abs(r["x_cdf"] - true) <= 1 / 512 + 1e-6, (r, true)
    # monotone in x
    vals = [r["x_cdf"] for r in rows]
    assert all(a <= b + 1e-12 for a, b in zip(vals, vals[1:]))
    # bounds + null passthrough
    assert 0.0 <= vals[0] and vals[-1] <= 1.0 + 1e-12
    dfn = spark.createDataFrame([(1.0,), (None,), (3.0,)], "x double")
    got = binned_cdf(dfn, "x").where(F.col("x").isNull()).collect()
    assert len(got) == 1 and got[0]["x_cdf"] is None


def test_binned_ops_constant_column_ansi_safe(spark):
    """hi==lo (constant column): width 0 must never reach a division —
    under ANSI (Spark 4 default for user sessions) 0/0 throws instead of
    yielding the NaN the non-ANSI path silently floor-casts. Quantiles
    of a constant are the constant; CDF is 0 (all ties, percent_rank
    semantics)."""
    from torcharrow_spark.operators import (
        binned_cdf,
        binned_quantile,
        grouped_binned_quantile,
    )

    df = spark.createDataFrame([(7.5,)] * 40, "x double")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        bq = binned_quantile(df, "x", [0.1, 0.5, 0.9]).collect()
        assert {r["q"] for r in bq} == {0.1, 0.5, 0.9}
        assert all(r["value"] == 7.5 for r in bq)
        cdf = binned_cdf(df, "x").select("x_cdf").collect()
        assert all(r["x_cdf"] == 0.0 for r in cdf)
        g = spark.createDataFrame([("a", 1.0)] * 5 + [("b", 2.0)] * 5,
                                  "g string, x double")
        gq = grouped_binned_quantile(g, "x", [0.5], by=["g"]).collect()
        assert {(r["g"], r["value"]) for r in gq} == {("a", 1.0), ("b", 2.0)}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_similarity_join_cross_side_only(spark):
    from torcharrow_spark.operators import ngram_jaccard_pairs, similarity_join

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (2, "an entirely different sentence about spark engines"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (3, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    left = df.where("doc_id % 2 = 0")
    right = df.where("doc_id % 2 = 1")
    out = {(r["left_id"], r["right_id"]): r["jaccard"]
           for r in similarity_join(left, right, threshold=0.3).collect()}
    assert (0, 3) in out and out[(0, 3)] == 1.0       # identical across sides
    assert (0, 1) in out and 0.3 <= out[(0, 1)] < 1.0  # near-dup across sides
    assert all(l % 2 == 0 and r % 2 == 1 for l, r in out)
    # same-side duplicates (none here) and self-pairs are impossible by
    # construction; jaccard values match the single-corpus engine
    allpairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
                ngram_jaccard_pairs(df, threshold=0.3).collect()}
    for (l, r), j in out.items():
        assert allpairs[(min(l, r), max(l, r))] == j


def test_grouped_binned_quantile(spark):
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import grouped_binned_quantile

    df = spark.range(8_000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g",
        # group a: 0..3999 (even ids /2); group b: 10000..13999
        "CAST(CASE WHEN id % 2 = 0 THEN id / 2 ELSE 10000 + (id - 1) / 2 END AS DOUBLE) AS x",
    )
    out = {(r["g"], r["q"]): r["value"] for r in
           grouped_binned_quantile(df, "x", [0.5, 0.95], ["g"],
                                   n_bins=512).collect()}
    width = 3999.0 / 512
    assert abs(out[("a", 0.5)] - 2000) <= width + 1e-9
    assert abs(out[("a", 0.95)] - 3800) <= width + 1e-9
    assert abs(out[("b", 0.5)] - 12000) <= width + 1e-9
    # degenerate group: single distinct value
    dfd = spark.createDataFrame([("c", 5.0)] * 3, "g string, x double")
    outd = {r["q"]: r["value"] for r in
            grouped_binned_quantile(dfd, "x", [0.0, 1.0], ["g"]).collect()}
    assert outd == {0.0: 5.0, 1.0: 5.0}
    # partition invariance
    out7 = {(r["g"], r["q"]): r["value"] for r in
            grouped_binned_quantile(df.repartition(7), "x", [0.5, 0.95],
                                    ["g"], n_bins=512).collect()}
    assert out == out7
    # a NULL group key is a group like any other: its quantiles equal
    # the ungrouped path's over its own rows, within one bin width
    from torcharrow_spark.operators import binned_quantile

    dfn = df.selectExpr("CASE WHEN g = 'b' THEN NULL ELSE g END AS g", "x")
    outn = {(r["g"], r["q"]): r["value"] for r in
            grouped_binned_quantile(dfn, "x", [0.5, 0.95], ["g"],
                                    n_bins=512).collect()}
    assert set(outn) == {("a", 0.5), ("a", 0.95), (None, 0.5), (None, 0.95)}
    ref = {r["q"]: r["value"] for r in
           binned_quantile(dfn.where("g IS NULL"), "x", [0.5, 0.95],
                           n_bins=512).collect()}
    for q in (0.5, 0.95):
        assert abs(outn[(None, q)] - ref[q]) <= width + 1e-9
        assert outn[("a", q)] == out[("a", q)]


def test_grouped_heavy_hitters(spark):
    from torcharrow_spark.operators import grouped_heavy_hitters

    rows = (
        [("en", "the")] * 60 + [("en", "a")] * 30 + [("en", str(i)) for i in range(10)]
        + [("de", "der")] * 5 + [("de", "x")] * 4 + [("de", "y")]
    )
    df = spark.createDataFrame(rows, "lang string, w string")
    for parts in (1, 8):
        got = {(r["lang"], r["value"]): (r["cnt"], r["frac"]) for r in
               grouped_heavy_hitters(df.repartition(parts), "w", 0.25,
                                     ["lang"]).collect()}
        # en: N=100 -> threshold 25: the(60), a(30); de: N=10 -> der(5), x(4)
        assert set(got) == {("en", "the"), ("en", "a"),
                            ("de", "der"), ("de", "x")}, got
        assert got[("de", "der")] == (5, 0.5)
        assert got[("en", "the")][0] == 60

    # NULL group keys form a real group (null-safe joins end to end),
    # and non-string keys keep their original type in the output
    rows2 = [(1, "hot")] * 8 + [(1, "z")] * 2 + [(None, "nil")] * 9 + [(None, "w")]
    df2 = spark.createDataFrame(rows2, "g int, w string")
    got2 = {(r["g"], r["value"]): (r["cnt"], round(r["frac"], 6)) for r in
            grouped_heavy_hitters(df2.repartition(4), "w", 0.5, ["g"]).collect()}
    assert got2 == {(1, "hot"): (8, 0.8), (None, "nil"): (9, 0.9)}, got2
    out_schema = grouped_heavy_hitters(df2, "w", 0.5, ["g"]).schema
    assert out_schema["g"].dataType.simpleString() == "int"

    # NULL is a reportable VALUE: it counts toward the group total AND
    # is reported when it crosses the threshold (advisor finding r3 —
    # plain value equality dropped it while still inflating the total)
    rows3 = [("en", None)] * 6 + [("en", "t")] * 3 + [("en", "u")]
    df3 = spark.createDataFrame(rows3, "g string, w string")
    got3 = {(r["g"], r["value"]): (r["cnt"], round(r["frac"], 6)) for r in
            grouped_heavy_hitters(df3.repartition(3), "w", 0.3, ["g"]).collect()}
    assert got3 == {("en", None): (6, 0.6), ("en", "t"): (3, 0.3)}, got3


def test_equi_depth_buckets(spark):
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import equi_depth_buckets

    df = spark.range(10_000).selectExpr("CAST(id AS DOUBLE) AS x")
    out = equi_depth_buckets(df, "x", k=4, n_bins=512)
    sizes = {r["x_bucket"]: r["n"] for r in
             out.groupBy("x_bucket").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(sizes) == {0, 1, 2, 3}
    # approximately equal populations (within histogram bin error)
    for n in sizes.values():
        assert abs(n - 2500) <= 10_000 / 512 + 2, sizes
    # monotone labels, nulls stay null
    rows = out.orderBy("x").select("x_bucket").collect()
    lbl = [r["x_bucket"] for r in rows]
    assert lbl == sorted(lbl)
    dfn = spark.createDataFrame([(1.0,), (None,)], "x double")
    got = equi_depth_buckets(dfn.unionByName(df), "x", k=2)
    assert got.where("x IS NULL AND x_bucket IS NOT NULL").count() == 0


def test_profile_frame(spark):
    from torcharrow_spark.operators import profile_frame

    df = spark.createDataFrame(
        [(1, "a", 2.0), (2, "a", None), (None, "b", 4.0)],
        "i bigint, s string, x double",
    )
    prof = {r["column"]: r for r in profile_frame(df).collect()}
    assert prof["i"]["n_rows"] == 3 and prof["i"]["n_null"] == 1
    assert prof["i"]["n_distinct"] == 2
    assert prof["i"]["min_val"] == 1.0 and prof["i"]["max_val"] == 2.0
    assert prof["i"]["mean_val"] == 1.5
    assert prof["s"]["n_distinct"] == 2 and prof["s"]["min_val"] is None
    assert prof["x"]["n_null"] == 1 and prof["x"]["mean_val"] == 3.0
    import pytest as _pt
    with _pt.raises(ValueError):
        profile_frame(df, ["nope"])

    # large-magnitude values: a 20-digit double fits decimal(38,2)'s
    # exact sum (18,2 silently nulled it out of the sum while the
    # denominator still counted it -> skewed mean)
    big = spark.createDataFrame([(1e19,), (3e19,)], "x double")
    prof_big = {r["column"]: r for r in profile_frame(big).collect()}
    assert prof_big["x"]["mean_val"] == 2e19
    # beyond even decimal(38): mean surfaces as NULL, never silently wrong
    huge = spark.createDataFrame([(1e40,), (2.0,)], "x double")
    prof_huge = {r["column"]: r for r in profile_frame(huge).collect()}
    assert prof_huge["x"]["mean_val"] is None


def test_bloom_no_false_negatives_and_prefilter(spark):
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import bloom_build, bloom_probe

    keys = spark.range(0, 200).selectExpr("id AS k")          # members
    probe = spark.range(0, 2000).selectExpr("id AS k")        # 10% members
    bloom = bloom_build(keys, "k", m_bits=4096, k=3)
    flagged = bloom_probe(probe, "k", bloom, m_bits=4096, k=3)
    # zero false negatives: every true member flags True
    assert flagged.where("k < 200 AND NOT might_match").count() == 0
    # the filter actually prunes: most non-members flag False
    fp = flagged.where("k >= 200 AND might_match").count()
    assert fp < 1800 * 0.15, fp                # ~1% expected at this sizing
    # null keys probe False
    pn = spark.createDataFrame([(None,), (5,)], "k bigint")
    got = {r["k"]: r["might_match"]
           for r in bloom_probe(pn, "k", bloom, 4096, 3).collect()}
    assert got[None] is False and got[5] is True
    # chained semi-join equivalence: bloom prefilter + exact join ==
    # plain exact join
    exact = probe.join(keys, "k", "left_semi")
    pre = (flagged.where("might_match").drop("might_match")
           .join(keys, "k", "left_semi"))
    assert sorted(r["k"] for r in pre.collect()) == \
           sorted(r["k"] for r in exact.collect())


def test_minhash_merge_equals_union_signature(spark):
    from torcharrow_spark.operators import minhash_merge, minhash_signatures

    a = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(1, "a completely different set of words entirely here now"),
         (2, "only in the second shard")],
        "doc_id long, text string",
    )
    union = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog "
             "a completely different set of words entirely here now")],
        "doc_id long, text string",
    )
    sa = minhash_signatures(a, shingle_k=2)
    sb = minhash_signatures(b, shingle_k=2)
    merged = {r["doc_id"]: r["sig"] for r in minhash_merge(sa, sb).collect()}
    # union semantics: zip-min == signature of the concatenated shingle set
    # (shingles of the union text are a superset containing both docs'
    # shingles plus the seam shingle, so compare against explicit zip-min)
    za = {r["doc_id"]: r["sig"] for r in sa.collect()}[1]
    zb = {r["doc_id"]: r["sig"] for r in sb.collect()}[1]
    assert merged[1] == [min(x, y) for x, y in zip(za, zb)]
    # one-sided ids keep their signature
    assert merged[2] == {r["doc_id"]: r["sig"] for r in sb.collect()}[2]


def test_write_parquet_compaction(spark, tmp_path):
    import os

    import torcharrow_spark as ts
    from torcharrow_spark.sources import write_parquet

    df = ts.from_pylist([{"a": i, "g": i % 2} for i in range(100)],
                        spark=spark)
    p = str(tmp_path / "compact")
    write_parquet(df, p, num_files=2)
    files = [f for f in os.listdir(p) if f.endswith(".parquet")]
    assert len(files) == 2
    back = ts.read_parquet(p, spark)
    assert back.to_spark().count() == 100

    # partitioned compaction: a hot partition value fans out across up
    # to num_files files (salted shuffle), it is NOT serialized into a
    # single task/file per directory. AQE would re-coalesce these tiny
    # test partitions (at scale that only merges SMALL dirs — hot dirs
    # keep their fan-out); disable it to observe the salt mechanism.
    p2 = str(tmp_path / "compact_part")
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        write_parquet(df, p2, partition_by=["g"], num_files=2)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    for d in ("g=0", "g=1"):
        fs = [f for f in os.listdir(os.path.join(p2, d))
              if f.endswith(".parquet")]
        assert 1 <= len(fs) <= 2, (d, fs)
    both = [f for d in ("g=0", "g=1")
            for f in os.listdir(os.path.join(p2, d)) if f.endswith(".parquet")]
    assert len(both) >= 3  # at least one directory actually fanned out
    back2 = ts.read_parquet(p2, spark)
    assert back2.to_spark().count() == 100


def test_robust_scaled(spark):
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import robust_scaled

    df = spark.range(1001).selectExpr("CAST(id AS DOUBLE) AS x")
    out = robust_scaled(df, ["x"], n_bins=500)
    mid = out.where("x = 500").collect()[0]["x_scaled"]
    assert abs(mid) < 0.02                     # median scales to ~0
    hi = out.where("x = 750").collect()[0]["x_scaled"]
    assert abs(hi - 0.5) < 0.02                # q3 scales to ~0.5
    # constant column -> 0.0, nulls stay null
    dfc = spark.createDataFrame([(5.0,), (5.0,), (None,)], "y double")
    got = robust_scaled(dfc, ["y"]).collect()
    vals = {r["y"]: r["y_scaled"] for r in got}
    assert vals[5.0] == 0.0 and vals[None] is None


def test_pack_documents_next_fit_semantics(spark):
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import pack_documents

    df = spark.range(500).selectExpr("id", "1 + id % 7 AS toks")
    out = pack_documents(df, "id", "toks", budget=10, n_shards=4)
    rows = out.collect()
    assert len(rows) == 500
    # every doc placed exactly once; offsets consistent within bins
    by_bin = {}
    for r in rows:
        by_bin.setdefault((r["shard"], r["bin"]), []).append(r)
    for (s, b), docs in by_bin.items():
        docs.sort(key=lambda r: r["offset"])
        pos = docs[0]["offset"]
        assert pos < 10                       # every bin starts within budget
        for d in docs:
            assert d["offset"] == pos         # contiguous packing
            pos += d["n_tokens"]
        # next-fit: bin ends within budget + one doc's tail
        assert pos <= 10 + max(d["n_tokens"] for d in docs)
    # determinism under repartitioning
    again = {(r["id"], r["shard"], r["bin"], r["offset"])
             for r in pack_documents(df.repartition(13), "id", "toks",
                                     10, 4).collect()}
    assert again == {(r["id"], r["shard"], r["bin"], r["offset"])
                     for r in rows}


def test_weighted_sample_per_group(spark):
    from torcharrow_spark.operators import weighted_sample_per_group

    df = spark.range(300).selectExpr(
        "id", "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' "
        "ELSE 'c' END AS g",
        "1.0 + id % 11 AS w",
    )
    out = weighted_sample_per_group(df, 5, "w", "id", ["g"])
    rows = out.collect()
    per_g = {}
    for r in rows:
        per_g.setdefault(r["g"], set()).add(r["id"])
    assert set(per_g) == {"a", "b", "c"}
    assert all(len(v) == 5 for v in per_g.values())
    # deterministic under repartitioning
    again = {(r["g"], r["id"]) for r in
             weighted_sample_per_group(df.repartition(9), 5, "w", "id",
                                       ["g"]).collect()}
    assert again == {(r["g"], r["id"]) for r in rows}
    # zero-weight rows never selected
    dfz = spark.createDataFrame([(1, "a", 0.0), (2, "a", 1.0)],
                                "id long, g string, w double")
    got = weighted_sample_per_group(dfz, 2, "w", "id", ["g"]).collect()
    assert [r["id"] for r in got] == [2]


def test_checked_join_contracts(spark):
    import pytest as _pt
    from pyspark.sql.utils import PythonException

    from torcharrow_spark.operators import checked_join

    facts = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0)], "k long, v double"
    )
    dim_ok = spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string")
    dim_dup = spark.createDataFrame(
        [(1, "a"), (1, "a2"), (2, "b")], "k long, name string"
    )
    # clean m:1 passes and matches a plain join
    out = checked_join(facts, dim_ok, ["k"], "m:1")
    assert out.count() == 3
    # duplicate dimension key -> execution-time failure, not silent fanout
    with _pt.raises(Exception) as ei:
        checked_join(facts, dim_dup, ["k"], "m:1").count()
    assert "duplicate join key" in str(ei.value)
    # 1:1 also guards the left side
    with _pt.raises(Exception) as ei2:
        checked_join(facts, dim_ok, ["k"], "1:1").count()
    assert "duplicate join key" in str(ei2.value)
    with _pt.raises(ValueError):
        checked_join(facts, dim_ok, ["k"], "n:m")


def test_quantize_embeddings_roundtrip(spark):
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    rows = [(1, [0.0, 1.0, -1.0, 0.5]), (2, [3.0, 3.0, 3.0, 3.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = quantize_embeddings(df, bits=8)
    got = {r["vec_id"]: r for r in q.collect()}
    assert all(0 <= c <= 255 for c in got[1]["qvec"])
    assert got[2]["qvec"] == [0, 0, 0, 0] and got[2]["v_scale"] == 0.0
    back = {r["vec_id"]: r["embedding"]
            for r in dequantize_embeddings(q).collect()}
    for vid, orig in rows:
        scale = got[vid]["v_scale"]
        for o, b in zip(orig, back[vid]):
            # constant vectors reconstruct min exactly; others <= scale/2
            assert abs(o - b) <= (scale / 2 if scale > 0 else abs(o - got[vid]["v_min"]) + 1e-12)
    with __import__("pytest").raises(ValueError):
        quantize_embeddings(df, bits=1)


def test_grouped_histogram(spark):
    from torcharrow_spark.operators import grouped_histogram

    df = spark.createDataFrame(
        [("a", 0.5), ("a", 1.5), ("a", 1.6), ("b", 9.5), ("b", None),
         ("b", -3.0)],
        "g string, v double",
    )
    out = {(r["g"], r["bin"]): (r["bin_lo"], r["n"]) for r in
           grouped_histogram(df, "v", ["g"], lo=0.0, hi=10.0,
                             n_bins=5).collect()}
    assert len(out) == 10                       # 2 groups x 5 bins, empties in
    assert out[("a", 0)] == (0.0, 3)            # 0.5, 1.5, 1.6 share bin 0
    assert out[("b", 4)][1] == 1                # 9.5
    assert out[("b", 0)][1] == 1                # -3.0 clamps into bin 0
    assert sum(n for _, n in out.values()) == 5  # null dropped


# ---------------------------------------------------------------------------
# real image codecs (imagecodec.py) + real multimodal decode paths


def _test_image(w=13, h=7, channels=3, seed=3):
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, channels), dtype="uint8")


def test_png_roundtrip_all_filters():
    """encode with each spec filter type (None/Sub/Up/Average/Paeth) and
    decode back bit-exactly — exercises every unfilter branch."""
    import numpy as np

    from torcharrow_spark.operators.imagecodec import decode_png, encode_png

    for channels in (1, 3, 4):
        img = _test_image(channels=channels)
        for ft in range(5):
            w, h, out = decode_png(encode_png(img, filter_type=ft))
            assert (w, h) == (13, 7)
            assert np.array_equal(out, img), (channels, ft)


def test_bmp_ppm_roundtrip_and_dispatch():
    import numpy as np

    from torcharrow_spark.operators.imagecodec import (
        decode_image,
        encode_bmp,
        encode_ppm,
        resize_nearest,
        sniff_format,
    )

    img = _test_image(w=5, h=4)  # width 5 -> BMP rows need padding
    for enc, fmt in ((encode_bmp, "bmp"), (encode_ppm, "ppm")):
        data = enc(img)
        assert sniff_format(data) == fmt
        w, h, out = decode_image(data)
        assert (w, h) == (5, 4) and np.array_equal(out, img)

    # P3 ascii variant
    from torcharrow_spark.operators.imagecodec import decode_ppm

    p3 = b"P3\n# comment\n2 2\n255\n" + " ".join(
        str(v) for v in img[:2, :2].flatten()
    ).encode()
    w, h, out = decode_ppm(p3)
    assert (w, h) == (2, 2) and np.array_equal(out, img[:2, :2])

    # nearest resize: exact index-gather semantics
    rs = resize_nearest(img, 10, 2)
    assert rs.shape == (2, 10, 3)
    assert np.array_equal(rs[0, 0], img[0, 0])

    import pytest as _pt

    with _pt.raises(ValueError):
        decode_image(b"\xff\xd8\xff jpeg-ish")


def test_decode_image_stats_and_real_resize(spark):
    """The REAL multimodal path end to end on Spark: build PNGs in a
    deterministic fixture column, decode with fake=False, verify exact
    pixel sums; then resize and decode the resized PPM output."""
    import numpy as np

    from torcharrow_spark.operators import (
        decode_features,
        decode_image_stats,
        resize_media,
    )
    from torcharrow_spark.operators.imagecodec import decode_ppm, encode_png

    imgs = {i: _test_image(w=6 + i, h=5 + i, seed=i) for i in range(4)}
    rows = [(i, bytearray(encode_png(im, filter_type=i % 5)))
            for i, im in imgs.items()] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id long, img binary").repartition(3)

    got = {r["doc_id"]: r for r in decode_image_stats(df, "img", "doc_id").collect()}
    for i, im in imgs.items():
        r = got[i]
        assert (r["width"], r["height"], r["fmt"]) == (6 + i, 5 + i, "png")
        assert r["px_sum"] == int(im.astype("int64").sum())
        assert r["n_px"] == im.size
    assert got[99]["px_sum"] is None

    feats = {r["doc_id"]: r for r in
             decode_features(df, "img", "doc_id").collect()}
    f0 = feats[0]["features"]
    assert f0[0] == 6.0 and f0[1] == 5.0 and f0[2] == 3.0
    assert abs(f0[3] - imgs[0].mean()) < 1e-3  # float32 feature

    rs = {r["doc_id"]: r for r in
          resize_media(df, "img", "doc_id", 8, 8).collect()}
    for i, im in imgs.items():
        meta = rs[i]["meta"]
        assert (meta["width"], meta["height"], meta["format"]) == (8, 8, "ppm")
        w, h, out = decode_ppm(bytes(rs[i]["resized"]))
        assert (w, h) == (8, 8)
        ys = (np.arange(8) * im.shape[0]) // 8
        xs = (np.arange(8) * im.shape[1]) // 8
        assert np.array_equal(out, im[ys][:, xs])
    assert rs[99]["resized"] is None


def test_lsh_bucket_occupancy_follows_sizing_rule(spark, sf_dir):
    """The documented rule n_planes ≈ log2(corpus/target_bucket): with
    md5-derived hyperplanes the 2^n_planes buckets must actually spread
    the corpus — no bucket should hold more than a small multiple of the
    expected corpus/2^n_planes occupancy (a broken hash would funnel
    everything into one bucket and re-quadratize cosine_pairs)."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.similarity import _infer_dim, lsh_bucket

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    n_planes = 4
    dim = _infer_dim(emb, "embedding")
    occ = (
        emb.select(lsh_bucket(F.col("embedding"), n_planes, dim).alias("b"))
        .groupBy("b").count().collect()
    )
    n_buckets = len(occ)
    biggest = max(r["count"] for r in occ)
    expected = n / 2 ** n_planes
    assert n_buckets >= 2 ** n_planes // 2  # most buckets populated
    # embeddings are clustered (synthetic near-dups), so allow a wide
    # multiple — the failure mode being guarded is one mega-bucket
    assert biggest <= 8 * expected, (biggest, expected)


def test_simhash_64bit_extension(spark):
    """r8: simhash now reaches 64 bits via a second independent digest
    (md5('1|' || token) for nibbles 32-63) — the old 32-bit ceiling
    clamped simhash_auto_bits at >= ~5x10^5 docs, leaving 8-bit blocks
    whose buckets grow linearly with the corpus (quadratic candidates).
    Pin (a) bits <= 32 is bit-identical to the old construction, (b)
    the 48/60-bit forms against a pure-Python replay, (c) the sizing
    rule's new decades, (d) hamming pairs stay exact at 60 bits."""
    import hashlib

    from torcharrow_spark.operators.dedup import (
        simhash,
        simhash_auto_bits,
        simhash_pairs,
    )

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different content entirely here now"),
        (4, "the quick brown fox jumps over the lazy dog"),  # dup of 1
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")

    def py_simhash(text, bits):
        words = " ".join(text.lower().split()).split(" ")
        sim = 0
        for j in range(bits):
            vote = 0
            for w in words:
                d = hashlib.md5(w.encode()).hexdigest()
                if j >= 32:
                    d = hashlib.md5(f"1|{w}".encode()).hexdigest()
                nib = int(d[j % 32], 16)
                vote += 1 if nib >= 8 else -1
            if vote > 0:
                sim += 1 << j
        # two's-complement to signed 64-bit (Spark long)
        return sim - (1 << 64) if sim >= (1 << 63) else sim

    for bits in (16, 32, 48, 60, 64):
        got = {r["doc_id"]: r["simhash"]
               for r in simhash(docs, bits=bits).collect()}
        want = {i: py_simhash(t, bits) for i, t in texts}
        assert got == want, bits

    # sizing rule across the decades the clamp used to flatten
    assert simhash_auto_bits(50_000) == 32
    assert simhash_auto_bits(500_000) == 44
    assert simhash_auto_bits(5_000_000) == 60
    assert simhash_auto_bits(10 ** 9) == 64  # new clamp

    # hamming pairs exact at 60 bits: doc 4 == doc 1 (hamming 0), and
    # every reported pair's hamming matches the python fingerprints
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(docs, bits=60, max_hamming=3).collect()}
    assert pairs[(1, 4)] == 0
    want60 = {i: py_simhash(t, 60) for i, t in texts}
    for (a, b), h in pairs.items():
        assert bin((want60[a] ^ want60[b]) & ((1 << 64) - 1)).count("1") == h

    # bits=64 with max_hamming=0 makes ONE 64-bit block —
    # the old F.lit((1 << 64) - 1) mask overflowed a signed long at
    # PLAN time (never reached an executor). The all-ones mask is a
    # no-op, so the plan now skips it; semantics = exact-hash equality.
    exact = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(docs, bits=64, max_hamming=0).collect()}
    assert exact == {(1, 4): 0}


def test_bytes_based_election_wide_vectors(spark):
    """r8: the election onset is bytes-aware —
    wide-payload members (embedding vectors) elect proportionally
    earlier, so a hot bucket's post-collect expression amplification
    (sorted class-key structs + star lists, ~3x the array bytes) and
    its emission fanout stay bounded at ANY payload width. dim 8192 ->
    ~32.8 KB/member -> onset ~1023 members; a 3000-member identical-
    vector bucket must therefore ELECT (n-1 star pairs, not C(n,2)),
    while the same shape at dim 64 (~288 B/member, onset ~116k) must
    NOT. Keep-first semantics stay exactly invariant under election
    (the _emit_pairs proof), pinned via semantic_dedup's keep set."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.dedup import ELECT_BYTES_BOUND
    from torcharrow_spark.operators.similarity import (
        cosine_pairs,
        semantic_dedup,
    )

    dim, n = 8192, 3000
    assert ELECT_BYTES_BOUND // (32 + 4 * dim) < n  # onset below bucket
    wide = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array_repeat(F.lit(1.0).cast("float"), dim).alias("embedding"),
    )
    pairs = cosine_pairs(wide, threshold=0.9, n_planes=1)
    assert pairs.count() == n - 1  # star rows — election fired

    n64 = 300
    narrow = spark.range(n64).select(
        F.col("id").alias("vec_id"),
        F.array_repeat(F.lit(1.0).cast("float"), 64).alias("embedding"),
    )
    full = cosine_pairs(narrow, threshold=0.9, n_planes=1)
    assert full.count() == n64 * (n64 - 1) // 2  # below onset — full set

    # keep-first drop set identical under election: only the min id of
    # the identical class survives, exactly as full emission decides
    sd = semantic_dedup(wide, n_clusters=2, threshold=0.9)
    keeps = {r["vec_id"] for r in sd.where("keep").collect()}
    assert keeps == {0}
    assert sd.count() == n


def test_auto_n_planes_sizing(spark, sf_dir):
    """r8: the hyperplane sizing rule as code —
    ceil(log2(n / 128)) clamped to [1, 30] — must reproduce every pin
    this repo ever measured, and n_planes='auto' must be plan-identical
    to the explicit value it resolves to."""
    from torcharrow_spark.operators.similarity import (
        auto_n_planes,
        cosine_pairs,
    )

    # the historical manual pins across three decades + the clamps
    assert auto_n_planes(2_000) == 4       # sf0.1 headline pin
    assert auto_n_planes(20_000) == 8      # sf1 stress pin
    assert auto_n_planes(200_000) == 11    # sf10 stress pin
    assert auto_n_planes(2_000_000) == 14  # sf100 (+log2(10) per decade)
    assert auto_n_planes(500) == 2         # sf0.01/0.001 corpora
    assert auto_n_planes(1) == 1           # lower clamp
    assert auto_n_planes(10 ** 12) == 30   # upper clamp (int bucket ids)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    explicit = auto_n_planes(emb.count())
    a = cosine_pairs(emb, threshold=0.2, n_planes="auto")
    b = cosine_pairs(emb, threshold=0.2, n_planes=explicit)
    got_a = {(r["id_a"], r["id_b"]) for r in a.collect()}
    got_b = {(r["id_a"], r["id_b"]) for r in b.collect()}
    assert got_a == got_b and len(got_a) > 0


def test_driver_bound_guards(spark):
    """GroupedDataFrame.__iter__ and Column.reduce must refuse silent
    large driver pulls (opt-in via iter_groups(max_groups)/max_rows)."""
    import pytest as _pt

    import torcharrow_spark as ts

    d = ts.dataframe({"g": list(range(50)), "x": list(range(50))}, spark=spark)
    # small: plain iteration works
    got = dict(iter(d.groupby(["g"])))
    assert len(got) == 50
    # tight explicit cap: raises
    with _pt.raises(ValueError, match="distinct keys"):
        list(d.groupby(["g"]).iter_groups(max_groups=10))
    # opt-out works
    assert len(list(d.groupby(["g"]).iter_groups(max_groups=None))) == 50

    col = d["x"]
    assert col.reduce(lambda a, b: a + b) == sum(range(50))
    with _pt.raises(ValueError, match="streamed"):
        col.reduce(lambda a, b: a + b, max_rows=10)
    assert col.reduce(lambda a, b: a + b, max_rows=None) == sum(range(50))


def test_bigram_lm_scores(spark):
    """Hand-checked add-alpha bigram LM: 'a b' twice and 'a c' once,
    plus a one-word doc (no bigrams -> null score)."""
    import math

    from torcharrow_spark.operators import bigram_lm_scores

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in bigram_lm_scores(df).collect()}
    # V=4 (a,b,c,solo); c(a)=3; c(a,b)=2, c(a,c)=1; alpha=0.4
    p_ab = (2 + 0.4) / (3 + 0.4 * 4)
    p_ac = (1 + 0.4) / (3 + 0.4 * 4)
    assert got[1]["n_bigrams"] == 1
    assert abs(got[1]["avg_logp"] - math.log(p_ab)) < 1e-6
    assert got[2]["avg_logp"] == got[1]["avg_logp"]
    assert abs(got[3]["avg_logp"] - math.log(p_ac)) < 1e-6
    assert got[4]["n_bigrams"] == 0 and got[4]["avg_logp"] is None
    # boilerplate scores HIGHER (closer to 0) than the rare continuation
    assert got[1]["avg_logp"] > got[3]["avg_logp"]


def test_gopher_filter_rules(spark):
    """Each rule fires on a purpose-built document, in ladder order."""
    from torcharrow_spark.operators import gopher_filter

    good = "the a of to in is it and " + " ".join(f"word{i}" for i in range(50))
    docs = [
        (1, good),                                  # keep
        (2, "short text"),                          # too_few_words
        (3, " ".join(["abcdefghijklmnop"] * 60)),   # bad_mean_word_len (16>10)
        (4, " ".join(["123 456"] * 30)),            # low_alpha_frac
        (5, " ".join(["the and of to a in is it"] * 8) + " ### ... ### ..."),
        (6, " ".join(f"w{i} v{i} u{i}" for i in range(20))),  # no stopwords
        (7, "the a " + " ".join(["dup"] * 58)),     # repetitive_words
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["keep"], r["reason"])
           for r in gopher_filter(df).collect()}
    assert got[1] == (True, None)
    assert got[2] == (False, "too_few_words")
    assert got[3] == (False, "bad_mean_word_len")
    assert got[4] == (False, "low_alpha_frac")
    assert got[6] == (False, "too_few_stopwords")
    assert got[7] == (False, "repetitive_words")
    # doc 5 has plenty of stopwords but 6 '#' + 2 '...' in 66 words
    assert got[5] == (False, "high_symbol_ratio")


def test_gopher_filter_null_text_is_dropped(spark):
    """NULL text must FAIL the gate with an explicit reason: every
    metric is NULL on NULL input, so without the leading rule the CASE
    ladder falls through and the gate silently retains unreadable
    documents (advisor finding r3)."""
    from torcharrow_spark.operators import gopher_filter

    good = "the a of to in is it and " + " ".join(f"word{i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, good), (2, None)], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["keep"], r["reason"])
           for r in gopher_filter(df).collect()}
    assert got[1] == (True, None)
    assert got[2] == (False, "null_text")


def test_estimate_jaccard_pair_cost_sampled(spark):
    """The 1/sample_mod hash-sample keys a subset of shingles but keeps
    each sampled shingle's document frequency EXACT, so est_pairs is an
    unbiased scale-up and max_df a lower bound of the true max."""
    from torcharrow_spark.operators.dedup import estimate_jaccard_pair_cost

    boiler = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(i, f"{boiler} tail{i} t{i*3}") for i in range(30)],
        "doc_id long, text string",
    )
    full = estimate_jaccard_pair_cost(docs, sample_mod=1)
    samp = estimate_jaccard_pair_cost(docs, sample_mod=4)
    assert samp["sampled_shingles"] < full["sampled_shingles"]
    assert samp["max_df"] <= full["max_df"]
    # the boilerplate run dominates; any sampled boiler shingle recovers
    # the blowup signal within the 4x scale-up
    assert samp["est_pairs"] > 0


def test_operators_ansi_session_smoke(spark):
    """operators/* take PLAIN Spark DataFrames, so they must survive a
    user-supplied ANSI session (Spark 4 default): no 0/0, no bad casts,
    no overflow in any operator's expression tree. (The engine FACADE
    pins ansi=false deliberately — reference arithmetic semantics like
    x/0 -> inf are non-ANSI by definition; this covers the operator
    layer only.)"""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import (
        binned_cdf,
        bigram_lm_scores,
        doc_fingerprint,
        equi_depth_buckets,
        gopher_filter,
        heavy_hitters,
        hash_split,
        hll_distinct,
        minhash_pairs,
        ngram_jaccard_pairs,
        pack_documents,
        repetition_stats,
        text_stats,
        winsorize,
    )

    docs = spark.createDataFrame(
        [(i, ("the quick brown fox jumps over the lazy dog %d " % i) * 3)
         for i in range(30)] + [(99, "")],
        "doc_id long, text string",
    )
    nums = spark.range(200).selectExpr("id", "CAST(id % 17 AS DOUBLE) AS x")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        assert text_stats(docs).count() == 31
        assert repetition_stats(docs).count() == 31
        assert gopher_filter(docs).count() == 31
        assert doc_fingerprint(docs).count() == 31
        assert bigram_lm_scores(docs).count() == 31
        assert ngram_jaccard_pairs(docs, threshold=0.9).count() >= 0
        assert minhash_pairs(docs).count() >= 0
        assert hll_distinct(docs, "text").collect()[0][0] > 0
        assert heavy_hitters(
            docs.select(F.explode(F.split("text", " ")).alias("w")), "w", 0.05
        ).count() > 0
        parts = hash_split(docs, "doc_id", (0.5, 0.5))
        assert sum(p.count() for p in parts) == 31
        assert pack_documents(
            docs.select("doc_id", F.lit(10).cast("long").alias("n")),
            "doc_id", "n", budget=64, n_shards=4,
        ).count() == 31
        assert binned_cdf(nums, "x").count() == 200
        assert winsorize(nums, "x").count() == 200
        assert equi_depth_buckets(nums, "x", 4).count() == 200
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_ivf_partial_probe_recall(spark, sf_dir):
    """ANN quality bound, not just plumbing: with the sizing rule
    (n_cells ~ sqrt(corpus)) and a 25%-cell probe, recall@3 against
    brute force must clear 0.5 on the synthetic embeddings — partial
    probing trades recall for reading n_probe/n_cells of the corpus,
    and this pins the trade actually delivered."""
    from torcharrow_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 40")
    exact = {(r["query_id"], r["match_id"])
             for r in brute_force_topk(emb, q, k=3).collect()}
    part = {(r["query_id"], r["match_id"])
            for r in ivf_topk(emb, q, k=3, n_cells=16, n_probe=4).collect()}
    recall = len(exact & part) / len(exact)
    assert recall >= 0.5, recall
    # partial probe still returns ranked rows for every query
    assert {qid for qid, _ in part} == {qid for qid, _ in exact}


def test_multi_probe_lsh_recall_monotone(spark, sf_dir):
    """Multi-probe LSH (lowest-|margin| hyperplane flips): recall vs
    brute force must be non-decreasing in n_probe, and n_probe=1 must
    reproduce the single-bucket result exactly (same pairs, same
    cosines)."""
    from torcharrow_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 40")
    exact = {(r["query_id"], r["match_id"])
             for r in brute_force_topk(emb, q, k=3).collect()}

    def recall(n_probe):
        got = {(r["query_id"], r["match_id"])
               for r in lsh_topk(emb, q, k=3, n_planes=4, n_probe=n_probe).collect()}
        return len(exact & got) / len(exact)

    r1, r3, r5 = recall(1), recall(3), recall(5)
    assert r1 <= r3 <= r5, (r1, r3, r5)
    assert r5 > r1 or r1 == 1.0, (r1, r5)  # probing actually helps

    single = {(r["query_id"], r["match_id"], round(r["cosine"], 9))
              for r in lsh_topk(emb, q, k=3, n_planes=4).collect()}
    probe1 = {(r["query_id"], r["match_id"], round(r["cosine"], 9))
              for r in lsh_topk(emb, q, k=3, n_planes=4, n_probe=1).collect()}
    assert single == probe1


def test_grouped_binned_cdf(spark):
    """Per-group CDF: monotone within each group, group-relative (the
    same value can have very different CDFs in different groups), null
    passthrough, constant-group guard."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import grouped_binned_cdf

    rows = [("a", float(i)) for i in range(100)] + \
           [("b", float(i)) for i in range(1000, 1100)] + \
           [("c", 5.0)] * 10 + [("a", None)]
    df = spark.createDataFrame(rows, "g string, x double")
    out = grouped_binned_cdf(df, "x", ["g"], n_bins=64)
    got = out.collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r["g"], []).append((r["x"], r["x_cdf"]))
    # monotone within each group
    for g in ("a", "b"):
        vals = sorted([(x, c) for x, c in by_g[g] if x is not None])
        cs = [c for _, c in vals]
        assert all(u <= v + 1e-12 for u, v in zip(cs, cs[1:])), g
        # accuracy: rank/N within a bin's mass
        n = len(vals)
        for i in (0, n // 2, n - 1):
            assert abs(cs[i] - (i + 1) / n) <= 1 / 64 + 0.02, (g, i, cs[i])
    # constant group: all ties -> cdf 0 (percent_rank semantics)
    assert all(c == 0.0 for _, c in by_g["c"])
    # null passthrough
    assert any(x is None and c is None for x, c in by_g["a"])


def test_grouped_binned_cdf_null_group_key(spark):
    """A NULL group KEY is a group like any other (struct-keyed joins
    are null-safe): its rows must get a real per-group CDF, consistent
    with the percent_rank-over-partition semantics the operator
    replaces (advisor finding r3 — name-based equality joins silently
    gave null-keyed groups a null CDF)."""
    from torcharrow_spark.operators import grouped_binned_cdf

    rows = [("a", float(i)) for i in range(10)] + \
           [(None, float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "g string, x double")
    out = grouped_binned_cdf(df, "x", ["g"], n_bins=64).collect()
    nulls = sorted((r["x"], r["x_cdf"]) for r in out if r["g"] is None)
    assert len(nulls) == 20
    assert all(c is not None for _, c in nulls)
    cs = [c for _, c in nulls]
    assert all(u <= v + 1e-12 for u, v in zip(cs, cs[1:]))
    # group-relative: the null group's max value has CDF ~1
    assert cs[-1] > 0.9


def test_ivf_topk_df_matches_brute_force_full_probe(spark, sf_dir):
    """ivf_topk_df (centroid TABLE, the >1k-cells path): probing every
    cell degrades to exact brute force, and the kmeans-centroid
    integration returns ranked rows for every query at partial probe."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import kmeans
    from torcharrow_spark.operators.similarity import brute_force_topk, ivf_topk_df

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 8")
    _, cents = kmeans(emb, k=8, max_iter=2)
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<float>",
    )
    exact = {(r["query_id"], r["rank"]): (r["match_id"], round(r["cosine"], 9))
             for r in brute_force_topk(emb, q, k=3).collect()}
    full = {(r["query_id"], r["rank"]): (r["match_id"], round(r["cosine"], 9))
            for r in ivf_topk_df(emb, q, cdf, k=3, n_probe=8).collect()}
    assert exact == full and len(exact) == 24

    part = ivf_topk_df(emb, q, cdf, k=3, n_probe=2)
    assert part.groupBy("query_id").count().count() == 8
    assert part.where(F.col("rank") > 3).count() == 0


def test_collocations_phrase_score(spark):
    """word2vec phrase score (count(ab) - delta) * N / (count(a)*count(b)):
    hand-computed on a corpus where 'new york' dominates."""
    from torcharrow_spark.operators import collocations

    rows = [("new york is big",)] * 6 + [("a new day",)] * 3 + [("york here",)]
    df = spark.createDataFrame(rows, "text string")
    got = {(r["w1"], r["w2"]): (r["n_bigram"], r["score"])
           for r in collocations(df, min_count=2, k=5).collect()}
    # counts: tokens N = 6*4 + 3*3 + 2 = 35; new=9, york=7, 'new york'=6
    assert got[("new", "york")][0] == 6
    assert abs(got[("new", "york")][1] - (6 * 35) / (9 * 7)) < 1e-9
    # every returned bigram respects min_count
    assert all(n >= 2 for n, _ in got.values())


def test_simhash_groups(spark):
    """Identical-simhash grouping: exact duplicates share a hash and
    group; the representative is the min id; singletons are excluded."""
    from torcharrow_spark.operators import simhash_groups

    rows = [(1, "the same text here"), (2, "the same text here"),
            (5, "the same text here"), (9, "something entirely different")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = simhash_groups(df).collect()
    assert len(got) == 1
    assert (got[0]["n_docs"], got[0]["rep_id"]) == (3, 1)


def test_recall_vs_probe_curves_sf1(spark):
    """Recall@10 vs probe depth for both ANN paths on the sf1 stress
    corpus (20k vectors, dim 64 — a WEAK-neighbor regime: true top-10
    cosines sit at 0.40-0.49, so no partition scheme concentrates
    them). Pins the r4 measured curve's properties: recall is
    non-decreasing in probe depth, reaches >= 0.55 when probing 25% of
    cells, and beats the random-scan baseline (recall == scanned
    fraction) by >= 2x — the perturbation-set multi-probe upgrade
    lifted the old single-flip ceiling (max n_planes+1 buckets, recall
    stuck at ~0.5) to 0.68 at 8/32 buckets."""
    import bench
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )

    bench._build_stress_sf1(spark, "/root/testdata/sf0.1")
    emb = spark.read.parquet(f"{bench.STRESS_DIR}/embeddings.parquet")
    q = emb.where(F.pmod(F.col("vec_id"), F.lit(2003)) == 0).limit(16)
    k = 10
    exact = {(r["query_id"], r["match_id"])
             for r in brute_force_topk(emb, q, k=k).collect()}

    def recall(got):
        hits = {(r["query_id"], r["match_id"]) for r in got.collect()}
        return len(exact & hits) / len(exact)

    lsh = {p: recall(lsh_topk(emb, q, k=k, n_planes=5, n_probe=p))
           for p in (1, 4, 8)}
    assert lsh[1] <= lsh[4] <= lsh[8], lsh
    assert lsh[8] >= 0.55, lsh            # 8/32 buckets = 25% coverage
    assert lsh[8] >= 2 * (8 / 32), lsh    # >= 2x random-scan baseline
    assert lsh[4] >= 2 * (4 / 32), lsh

    ivf = {p: recall(ivf_topk(emb, q, k=k, n_cells=64, n_probe=p))
           for p in (1, 4, 16)}
    assert ivf[1] <= ivf[4] <= ivf[16], ivf
    assert ivf[16] >= 0.55, ivf           # 16/64 cells = 25% coverage
    assert ivf[16] >= 2 * (16 / 64), ivf
    assert ivf[4] >= 2 * (4 / 64), ivf


def test_quantized_ann_recall_floors_sf001(spark, sf_dir, tmp_path):
    """Recall@10 of the two int8 ANN paths against exact brute force on
    the sf0.01 embeddings (500 vectors, dim 64, 24 queries). The int8
    coarse scan + exact re-rank sees every vector, so 50 candidates
    recover the exact top-10. IVF-int8 over 32 kmeans++ cells can only
    lose neighbors outside the probed cells: recall never falls as
    n_probe grows and is exact at full probe (measured 0.40/0.61/0.83/
    1.0 at 4/8/16/32). The n_probe sweep pays stage 1 (quantize +
    assign) once: it publishes a standing index and probes it per
    point, and the full-probe rows equal ivf_quantized_topk's."""
    import os

    from torcharrow_spark.operators.annindex import (
        ann_index_publish,
        ann_index_topk,
    )
    from torcharrow_spark.operators.clustering import kmeans
    from torcharrow_spark.operators.similarity import (
        brute_force_topk,
        ivf_quantized_topk,
        quantized_rerank_topk,
    )

    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    emb = spark.read.parquet(f"{sf001}/embeddings.parquet")
    q = emb.where(F.pmod(F.col("vec_id"), F.lit(21)) == 0)
    k = 10
    exact = {(r["query_id"], r["match_id"])
             for r in brute_force_topk(emb, q, k=k).collect()}
    assert len(exact) == 24 * k

    def recall(rows):
        hits = {(r["query_id"], r["match_id"]) for r in rows}
        return len(exact & hits) / len(exact)

    assert recall(
        quantized_rerank_topk(emb, q, k=k, candidates=50).collect()
    ) == 1.0

    _asg, cents = kmeans(emb, k=32, max_iter=3, init="kmeans++")
    centdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(cents)],
        "cell int, centroid array<double>",
    )
    root = str(tmp_path / "annix")
    ann_index_publish(emb, centdf, root)
    probed = {
        p: ann_index_topk(q, emb, root, k=k, n_probe=p,
                          candidates=50).collect()
        for p in (4, 8, 16, 32)
    }
    ivf = {p: recall(rows) for p, rows in probed.items()}
    assert ivf[4] <= ivf[8] <= ivf[16] <= ivf[32], ivf
    assert ivf[32] == 1.0, ivf
    one_shot = ivf_quantized_topk(emb, q, centdf, k=k, n_probe=32,
                                  candidates=50).collect()
    assert sorted(map(tuple, probed[32])) == sorted(map(tuple, one_shot))


def test_multitable_lsh_dominates_single_table(spark, sf_dir):
    """Multi-table LSH: with table 0 sharing the single-table operator's
    exact planes, the candidate set is a SUPERSET of lsh_topk's — and
    exact top-k by cosine is monotone in the candidate set (an added
    candidate outranks a true top-k member only if it is itself a true
    top-k member), so recall vs brute force must be >= the single-table
    recall at every probe depth. n_tables=1 must reproduce lsh_topk
    exactly."""
    from torcharrow_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        lsh_topk_multitable,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 40")
    exact = {(r["query_id"], r["match_id"])
             for r in brute_force_topk(emb, q, k=3).collect()}

    def recall(got):
        hits = {(r["query_id"], r["match_id"]) for r in got.collect()}
        return len(exact & hits) / len(exact)

    for n_probe in (1, 3):
        r_single = recall(lsh_topk(emb, q, k=3, n_planes=4, n_probe=n_probe))
        r_multi = recall(
            lsh_topk_multitable(emb, q, k=3, n_planes=4, n_tables=2, n_probe=n_probe)
        )
        assert r_multi >= r_single, (n_probe, r_single, r_multi)

    one_table = {(r["query_id"], r["match_id"], round(r["cosine"], 9), r["rank"])
                 for r in lsh_topk_multitable(emb, q, k=3, n_planes=4,
                                              n_tables=1).collect()}
    single = {(r["query_id"], r["match_id"], round(r["cosine"], 9), r["rank"])
              for r in lsh_topk(emb, q, k=3, n_planes=4).collect()}
    assert one_table == single and len(single) > 0


def test_pack_nosplit_properties(spark, sf_dir):
    """pack_documents_nosplit invariants: NO document straddles a bin
    (offset + n_tokens <= budget on every row), size_class is a
    power-of-two capacity, full (non-final) bins carry exactly
    `size_class` docs and beat the ~50% geometric fill bound,
    oversize/empty docs are excluded, and placement is identical under
    any input partitioning."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import (
        pack_documents_nosplit,
        packing_efficiency,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.greatest(F.expr("n_chars DIV 4"), F.lit(1)).alias("toks")
    )
    budget = 512
    packed = pack_documents_nosplit(docs, "doc_id", "toks", budget, n_shards=8)
    rows = packed.collect()
    assert len(rows) > 0
    # no straddle, ever
    assert all(r["offset"] + r["n_tokens"] <= budget for r in rows)
    assert all(r["offset"] >= 0 for r in rows)
    # per-(shard, class) bins hold exactly size_class docs except the
    # last partial bin; FULL bins beat the harmonic fill bound
    from collections import defaultdict
    bins = defaultdict(list)
    counts = defaultdict(int)
    for r in rows:
        bins[(r["shard"], r["size_class"], r["bin"])].append(r["n_tokens"])
        counts[(r["shard"], r["size_class"])] = max(
            counts[(r["shard"], r["size_class"])], r["bin"]
        )
    for (shard, c, b), toks in bins.items():
        assert c & (c - 1) == 0  # power-of-two capacity
        assert len(toks) <= c
        if b < counts[(shard, c)]:  # full (non-last) bin
            assert len(toks) == c
            # geometric classes: every member's q = budget DIV tok is
            # in [c, 2c), so tok > budget/(2c+1) and a full bin fills
            # past ~half the budget (slack for integer boundaries)
            assert sum(toks) > 0.45 * budget, (c, toks)
    # efficiency report consistent
    eff = packing_efficiency(packed, budget).collect()[0]
    assert eff["n_bins"] == len(bins)
    assert eff["packed_tokens"] == sum(sum(v) for v in bins.values())
    assert 0 < eff["fill_frac"] <= 1.0
    # oversize excluded
    big = spark.createDataFrame([(1, budget + 1), (2, 10)], "doc_id long, toks long")
    out = pack_documents_nosplit(big, "doc_id", "toks", budget).collect()
    assert [r["doc_id"] for r in out] == [2]
    # partition-invariant placement
    a = {r["doc_id"]: (r["shard"], r["size_class"], r["bin"], r["offset"])
         for r in rows}
    b2 = {r["doc_id"]: (r["shard"], r["size_class"], r["bin"], r["offset"])
          for r in pack_documents_nosplit(
              docs.repartition(13), "doc_id", "toks", budget, n_shards=8
          ).collect()}
    assert a == b2


def test_semantic_dedup_keeps_min_id_per_neighborhood(spark):
    """SemDeDup-style: within a cluster, a vector is dropped iff a
    LOWER-id vector has cosine >= threshold to it — min id survives,
    dissimilar vectors survive, cross-cluster near-dups are untouched
    by design."""
    from torcharrow_spark.operators import semantic_dedup

    # two tight bundles + one loner; 12 dims
    def v(seed, eps=0.0):
        import hashlib
        base = [((int(hashlib.md5(f"{seed},{d}".encode()).hexdigest()[:4], 16)
                  % 1000) - 500) / 500.0 for d in range(12)]
        return [x + eps * ((d % 3) - 1) * 0.01 for d, x in enumerate(base)]

    rows = [
        (1, v("a")), (2, v("a", 1.0)), (3, v("a", 2.0)),   # bundle A
        (10, v("b")), (11, v("b", 1.0)),                   # bundle B
        (50, v("c")),                                      # loner
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in vec]) for i, vec in rows],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: (r["cluster"], r["keep"])
           for r in semantic_dedup(df, n_clusters=3, threshold=0.999).collect()}
    assert len(out) == 6
    # every vector gets a verdict; the minimum id of any same-cluster
    # near-identical group is kept, its >= 0.999-cosine followers dropped
    for bundle in ([1, 2, 3], [10, 11]):
        clusters = {out[i][0] for i in bundle}
        if len(clusters) == 1:  # bundle landed in one cluster
            kept = [i for i in bundle if out[i][1]]
            assert kept[0] == min(bundle)
    assert out[50][1] is True  # loner always survives


def test_ngram_jaccard_direct_string_ids_route_to_prefix(spark):
    """mode='direct' packs (id, size) into one long and therefore
    requires an integral id; a string/UUID id column is routed to the
    prefix plan at PLAN time (no job), which accepts and preserves any
    id type — the two modes' pair sets stay identical."""
    from torcharrow_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        ("a", "the quick brown fox jumps over the lazy dog today"),
        ("b", "the quick brown fox jumps over the lazy dog today"),
        ("c", "completely different text with nothing shared at all here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = ngram_jaccard_pairs(docs, mode="direct", threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert got == {("a", "b"): 1.0}
    # id type preserved (prefix plan), not coerced to long
    assert dict(out.dtypes)["id_a"] == "string"


def test_pack_documents_nosplit_double_token_col(spark):
    """pack_documents_nosplit must accept a DOUBLE token column (DIV
    runs on the pre-cast long alias, not the raw column) and produce
    the same placement as the equivalent integral column."""
    from torcharrow_spark.operators.preprocess import pack_documents_nosplit

    rows = [(i, float(10 + (i * 7) % 50)) for i in range(200)]
    docs_d = spark.createDataFrame(rows, "doc_id long, toks double")
    docs_l = spark.createDataFrame(
        [(i, int(t)) for i, t in rows], "doc_id long, toks long"
    )
    got_d = {r["doc_id"]: (r["size_class"], r["bin"], r["offset"])
             for r in pack_documents_nosplit(docs_d, "doc_id", "toks", 128).collect()}
    got_l = {r["doc_id"]: (r["size_class"], r["bin"], r["offset"])
             for r in pack_documents_nosplit(docs_l, "doc_id", "toks", 128).collect()}
    assert got_d == got_l and len(got_d) == 200


def test_semantic_dedup_auto_cluster_sizing(spark, sf_dir):
    """n_clusters='auto' applies the sqrt sizing rule itself (mirrors
    simhash bits='auto'): cell count >= ceil(sqrt(corpus)) clamped to
    [2, 4096], and the realized cluster populations stay bounded — the
    structural guarantee that the per-cluster quadratic step cannot
    blow up when a caller forgets the parameter."""
    import math

    from pyspark.sql import functions as F

    from torcharrow_spark.operators import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    out = semantic_dedup(emb, threshold=0.99)  # n_clusters defaults to 'auto'
    want_cells = max(2, min(4096, math.ceil(math.sqrt(n))))
    pops = out.groupBy("cluster").count()
    n_used = pops.count()
    # every assigned cluster id is one of the auto-chosen cells
    assert out.agg(F.max("cluster")).collect()[0][0] < want_cells
    assert n_used >= 2
    # population bound: no cluster holds more than ~an order of
    # magnitude above the sqrt(n) expectation (the corpus is not
    # adversarially concentrated; this pins the auto-sizing actually
    # spreading the quadratic step)
    max_pop = pops.agg(F.max("count")).collect()[0][0]
    assert max_pop <= 10 * want_cells, (n, want_cells, max_pop)
    # every vector still gets a verdict
    assert out.count() == n


def test_semantic_dedup_trained_centroids(spark, sf_dir):
    """centroids= wires a TRAINED kmeans fit into semantic_dedup: the
    cluster ids are indices into the provided list, every vector gets a
    verdict, and keep-min-id semantics hold within trained clusters
    exactly as with md5-pick cells."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import semantic_dedup
    from torcharrow_spark.operators.clustering import kmeans

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    _asg, cents = kmeans(emb, k=8, max_iter=1)
    out = semantic_dedup(emb, threshold=0.2, centroids=cents)
    assert out.count() == n
    assert out.agg(F.max("cluster")).collect()[0][0] < len(cents)
    # dropped vectors always have a kept lower-id vector in-cluster
    dropped = out.where(~F.col("keep")).select("vec_id", "cluster")
    kept_min = out.where(F.col("keep")).groupBy("cluster").agg(
        F.min("vec_id").alias("mn")
    )
    bad = dropped.join(kept_min, "cluster").where(
        F.col("vec_id") <= F.col("mn")
    )
    assert bad.count() == 0


def test_emit_pairs_salted_hot_bucket(spark):
    """Adversarial duplication (r4 verdict ask #2): one hot bucket used
    to emit all C(m, 2) pairs from ONE task. Groups above `chunk` are
    now cut into chunk-pairs and hash-repartitioned, so (a) the pair
    SET is unchanged vs the small-group path, (b) the emission runs in
    MANY partitions, each bounded by ~chunk^2 pairs per chunk-pair."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.dedup import _emit_pairs

    m = 500
    grouped = spark.createDataFrame(
        [(1, sorted(range(m)))], "g long, ms array<int>"
    ).select("g", F.col("ms"))

    out = _emit_pairs(grouped, "ms", chunk=50)
    n = out.count()
    assert n == m * (m - 1) // 2
    # exact pair set equals the unchunked (small-path) result
    small = _emit_pairs(grouped, "ms", chunk=10_000)
    assert small.count() == n
    assert out.exceptAll(small).count() == 0
    assert small.exceptAll(out).count() == 0
    # ordered contract holds everywhere
    assert out.where(F.col("__a__") >= F.col("__b__")).count() == 0
    # emission parallelized: the hot group's pairs span many partitions
    n_parts = (
        out.select(F.spark_partition_id().alias("p")).distinct().count()
    )
    assert n_parts > 4, n_parts


def test_minhash_adversarial_duplication_bounded(spark):
    """End-to-end hot-bucket proof: a single text duplicated 3000x puts
    all 3000 docs in identical MinHash band buckets; with the salt
    threshold forced down to 256 (so the big path engages at test
    scale) the salted emitter must still produce exactly C(3000, 2)
    candidate pairs per band (deduped across bands) without
    concentrating the emission in one task. The exact pair count also
    re-proves no pair is lost or duplicated across chunk boundaries."""
    import functools

    from pyspark.sql import functions as F

    import torcharrow_spark.operators.dedup as dd
    from torcharrow_spark.operators.dedup import minhash_pairs

    n = 3000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated everywhere "
              "across this synthetic corpus for the hot bucket test").alias("text"),
    )
    orig = dd._emit_pairs
    dd._emit_pairs = functools.partial(orig, chunk=256)
    try:
        pairs = minhash_pairs(docs, shingle_k=3, num_hashes=8, bands=4)
        assert pairs.count() == n * (n - 1) // 2
    finally:
        dd._emit_pairs = orig


def test_logreg_train_partition_invariant_and_learns(spark):
    """Trainable quality classifier: (a) the decimal-exact gradient
    sums make the fitted weights BIT-identical under any partitioning
    (the float-determinism policy applied to model fitting), (b) the
    first gradient step from w=0 matches the hand formula (p = 0.5
    exactly), (c) on linearly separable features the scores actually
    separate the classes."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import logreg_score, logreg_train

    rows = [(i, 1.0, (i % 40) / 10.0, 1.0 if i % 40 >= 20 else 0.0)
            for i in range(400)]
    df = spark.createDataFrame(rows, "id long, x0 double, x1 double, y double")

    w1 = logreg_train(df, ["x0", "x1"], "y", lr=1.0, iters=3)
    w2 = logreg_train(df.repartition(17, "id"), ["x0", "x1"], "y",
                      lr=1.0, iters=3)
    assert w1 == w2  # bit-identical, not approximately

    # hand-check one step: w=0 -> p=0.5 -> g_i = mean((0.5 - y) * x_i)
    import math

    def r8(v):
        return math.floor(v * 1e8 + 0.5) / 1e8

    g0 = sum(r8((0.5 - y) * x0) for _i, x0, _x1, y in rows) / len(rows)
    g1 = sum(r8((0.5 - y) * x1) for _i, _x0, x1, y in rows) / len(rows)
    w_step1 = logreg_train(df, ["x0", "x1"], "y", lr=1.0, iters=1)
    assert abs(w_step1[0] - (-g0)) < 1e-12 and abs(w_step1[1] - (-g1)) < 1e-12

    scored = logreg_score(df, ["x0", "x1"], w1)
    means = {r["y"]: r["m"] for r in scored.groupBy("y").agg(
        F.avg("score").alias("m")).collect()}
    assert means[1.0] > means[0.0] + 0.1  # separates the classes


def test_semantic_dedup_auto_sizing_sf1(spark):
    """The r4 verdict's done-criterion for auto-sizing, at the sf1
    stress scale: n_clusters='auto' on the 5000-vector stress corpus
    must pick >= ceil(sqrt(n)) cells (~71), assign within the chosen
    range, and keep every realized cluster population within an order
    of magnitude of the sqrt(n) expectation — the guarantee that the
    per-cluster quadratic step stays bounded when the corpus grows and
    nobody re-tunes the parameter."""
    import math

    import bench
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import semantic_dedup

    bench._build_stress_sf1(spark, "/root/testdata/sf0.1")
    emb = spark.read.parquet(f"{bench.STRESS_DIR}/embeddings.parquet")
    n = emb.count()
    want_cells = max(2, min(4096, math.ceil(math.sqrt(n))))
    assert want_cells >= 70  # really at stress scale

    out = semantic_dedup(emb, threshold=0.995)  # 'auto'
    assert out.count() == n
    assert out.agg(F.max("cluster")).collect()[0][0] < want_cells
    pops = out.groupBy("cluster").count()
    max_pop = pops.agg(F.max("count")).collect()[0][0]
    assert max_pop <= 10 * want_cells, (n, want_cells, max_pop)


def test_wav_codec_roundtrip_and_chunk_walk():
    """RIFF/PCM codec invariants without Spark: encode->decode
    round-trips samples exactly (PCM16, mono + stereo), the chunk
    walker skips extra metadata chunks (LIST before data), 8-bit PCM
    widens offset-binary -> signed, and malformed streams raise."""
    import struct

    import numpy as np
    import pytest

    from torcharrow_spark.operators.audiocodec import decode_wav, encode_wav

    s = np.array([-32768, -1, 0, 1, 32767, 1234], dtype=np.int16)
    for ch in (1, 2):
        rate, got_ch, got = decode_wav(encode_wav(s, 16000, ch))
        assert (rate, got_ch) == (16000, ch)
        assert np.array_equal(got, s)

    # inject a LIST metadata chunk between fmt and data
    raw = encode_wav(s, 8000, 1)
    fmt_end = 12 + 8 + 16
    meta = b"LIST" + struct.pack("<I", 4) + b"INFO"
    patched = bytearray(raw[:fmt_end] + meta + raw[fmt_end:])
    struct.pack_into("<I", patched, 4, len(patched) - 8)
    rate, ch, got = decode_wav(bytes(patched))
    assert rate == 8000 and np.array_equal(got, s)

    # 8-bit PCM: offset-binary 128 -> 0, 255 -> 32512
    pcm8 = bytes(
        b"RIFF" + struct.pack("<I", 36 + 3) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", 3) + bytes([0, 128, 255])
    )
    _r, _c, got8 = decode_wav(pcm8)
    assert got8.tolist() == [-32768, 0, 32512]

    with pytest.raises(ValueError):
        decode_wav(b"nope")
    with pytest.raises(ValueError):
        # format 85 = MP3 inside WAV: compressed, must refuse
        bad = bytearray(encode_wav(s, 8000, 1))
        struct.pack_into("<H", bad, 20, 85)
        decode_wav(bytes(bad))


def test_g711_expansion_exact():
    """r9/r10: the mu-law/A-law segment tables must match the CCITT
    reference for all 512 codes — pinned as md5 of the packed int16
    expansion tables (values cross-checked once against CPython
    audioop 3.11 before its 3.13 removal; the pins are now standalone)
    plus spec landmarks and the sign-bit symmetry law."""
    import hashlib
    import struct

    import numpy as np
    import pytest

    from torcharrow_spark.operators.audiocodec import (
        alaw_to_linear,
        decode_wav,
        encode_wav_g711,
        ulaw_to_linear,
    )

    utab = b"".join(struct.pack("<h", ulaw_to_linear(b)) for b in range(256))
    atab = b"".join(struct.pack("<h", alaw_to_linear(b)) for b in range(256))
    assert hashlib.md5(utab).hexdigest() == "4564589ec3203313ff004120bb32117f"
    assert hashlib.md5(atab).hexdigest() == "58ec5fda9d97b5482ef9257716c502dd"
    # spec landmarks: extremes, both zero codes, segment-1 boundaries
    assert ulaw_to_linear(0x00) == -32124 and ulaw_to_linear(0x80) == 32124
    assert ulaw_to_linear(0xFF) == 0 and ulaw_to_linear(0x7F) == 0
    assert alaw_to_linear(0x2A) == -32256 and alaw_to_linear(0xAA) == 32256
    assert alaw_to_linear(0x55) == -8 and alaw_to_linear(0xD5) == 8
    # negate-symmetry: flipping the sign bit negates every code
    for b in range(128):
        assert ulaw_to_linear(b) == -ulaw_to_linear(b | 0x80)
        assert alaw_to_linear(b) == -alaw_to_linear(b | 0x80)

    # container round-trip through both laws
    payload = bytes(range(256))
    for law, table_fn in (("ulaw", ulaw_to_linear), ("alaw", alaw_to_linear)):
        rate, ch, got = decode_wav(encode_wav_g711(payload, 8000, 1, law))
        assert (rate, ch) == (8000, 1)
        assert got.tolist() == [table_fn(b) for b in payload]
        assert got.dtype == np.int16
    with pytest.raises(ValueError):
        encode_wav_g711(payload, 8000, 1, "gsm")
    # 16-bit G.711 is spec-invalid: the decoder must refuse
    bad = bytearray(encode_wav_g711(payload, 8000, 1, "ulaw"))
    struct.pack_into("<H", bad, 34, 16)
    with pytest.raises(ValueError):
        decode_wav(bytes(bad))


def test_mp4_box_walker_edges():
    """ISO-BMFF walker invariants without Spark: round-trip of the
    synthesized skeleton, 64-bit largesize boxes, size-0 (to-EOF)
    boxes, mvhd version 1, and malformed streams raising."""
    import struct

    import pytest

    from torcharrow_spark.operators.videocodec import (
        encode_mp4_meta,
        parse_mp4_meta,
    )

    m = parse_mp4_meta(encode_mp4_meta(b"isom", 600, 1234, 2))
    assert m == {"major_brand": "isom", "timescale": 600, "duration": 1234,
                 "duration_ms": 1234 * 1000 // 600, "n_tracks": 2}

    # mvhd version 1 (64-bit duration)
    body = (b"\x01\x00\x00\x00" + struct.pack(">QQ", 0, 0)
            + struct.pack(">I", 1000) + struct.pack(">Q", 5_000_000_000)
            + b"\x00" * 80)
    mvhd = struct.pack(">I", 8 + len(body)) + b"mvhd" + body
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"mp42" + b"\x00" * 4
    m1 = parse_mp4_meta(ftyp + moov)
    assert m1["duration"] == 5_000_000_000 and m1["timescale"] == 1000

    # largesize (size == 1 -> 64-bit header) wrapping a free box
    free = struct.pack(">I", 1) + b"free" + struct.pack(">Q", 16)
    m2 = parse_mp4_meta(ftyp + free + moov)
    assert m2["duration"] == 5_000_000_000

    # size 0 = box extends to EOF (must terminate, not loop)
    tail = struct.pack(">I", 0) + b"free" + b"xyz"
    assert parse_mp4_meta(ftyp + moov + tail)["n_tracks"] == 0

    with pytest.raises(ValueError):
        parse_mp4_meta(b"\x00\x00\x00\x04nope")
    with pytest.raises(ValueError):
        parse_mp4_meta(ftyp)  # no moov/mvhd


def test_logreg_train_null_and_empty_guards(spark):
    """NULL rows are excluded from training entirely (not silently
    diluted out of the gradient mean), and an empty/fully-null frame
    raises instead of crashing with float(None)."""
    import pytest

    from torcharrow_spark.operators import logreg_train

    rows = [(1.0, 2.0, 1.0), (1.0, None, 0.0), (1.0, 4.0, 0.0),
            (1.0, 1.0, None)]
    df = spark.createDataFrame(rows, "x0 double, x1 double, y double")
    clean = spark.createDataFrame(
        [(1.0, 2.0, 1.0), (1.0, 4.0, 0.0)], "x0 double, x1 double, y double"
    )
    assert logreg_train(df, ["x0", "x1"], "y", iters=2) == \
        logreg_train(clean, ["x0", "x1"], "y", iters=2)

    with pytest.raises(ValueError, match="no trainable rows"):
        logreg_train(df.where("y > 99"), ["x0", "x1"], "y")


def test_wav_truncated_chunk_raises():
    """A chunk whose declared size extends past the stream raises
    (silent partial decode would report wrong stats)."""
    import pytest

    import numpy as np

    from torcharrow_spark.operators.audiocodec import decode_wav, encode_wav

    raw = encode_wav(np.arange(64, dtype=np.int16), 8000, 1)
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(raw[:-10])


def test_compact_parquet_recovery_hardening(spark, tmp_path):
    """Recovery edge cases: a TORN manifest (crash mid-write) is
    discarded without touching data, and an orphan scratch dir with no
    manifest (crash before commit) is reaped — neither bricks or
    duplicates the table."""
    import os

    from torcharrow_spark.sources import compact_parquet

    root = str(tmp_path / "tblr")
    for i in range(4):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode(
            "append"
        ).parquet(root)
    rows = sorted(r["id"] for r in spark.read.parquet(root).collect())

    # torn manifest + orphan scratch with a decoy parquet inside
    with open(os.path.join(root, ".compact_manifest_torn"), "w") as fh:
        fh.write('{"sources": ["x"')  # cut mid-json
    scratch = os.path.join(root, ".compact_tmp_orphan", "bin0")
    os.makedirs(scratch)
    spark.range(5).coalesce(1).write.mode("overwrite").parquet(scratch)

    rep = compact_parquet(root, target_file_bytes=1 << 20, spark=spark)
    assert rep["dirs_compacted"] == 1
    assert not os.path.exists(os.path.join(root, ".compact_manifest_torn"))
    assert not os.path.exists(os.path.join(root, ".compact_tmp_orphan"))
    assert sorted(r["id"] for r in spark.read.parquet(root).collect()) == rows

    # non-local URI fails fast instead of silently no-opping
    import pytest

    with pytest.raises(ValueError, match="LOCAL filesystem"):
        compact_parquet("s3a://bucket/table", spark=spark)


def test_normalize_url_and_dedup(spark):
    """URL canonicalization invariants: scheme/www/case/fragment/
    trailing-slash/tracking-param variants of the same page collapse to
    ONE canonical key; distinct pages (different kept query params,
    different paths) stay distinct; url_dedup_ids keeps min id."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import normalize_url, url_dedup_ids

    variants = [
        (1, "https://www.Example.com/Page/"),
        (2, "http://EXAMPLE.com/Page"),
        (3, "example.com/Page?utm_campaign=a&fbclid=zz"),
        (4, "https://Example.com/Page#section"),
        (5, "https://example.com/Page?utm_source=x&utm_medium=y"),
        (10, "https://WWW.example.com/Page"),       # uppercase WWW strips too
        (13, "https://example.com/Page?UTM_SOURCE=x"),  # (?i) trackers
        # distinct pages
        (6, "https://example.com/Page?id=5"),
        (7, "https://example.com/page"),           # path case differs
        (8, "https://example.com/Page?utm_source=x&id=5"),
        (9, "https://other.com/Page"),
        # `ref` is FUNCTIONAL, not a tracker (r6): kept, stays distinct
        (14, "https://example.com/Page?ref=branch"),
        (11, None),                                # NULL urls pass through
        (12, None),
    ]
    df = spark.createDataFrame(variants, "doc_id long, url string")
    canon = {r["doc_id"]: r["c"]
             for r in df.select("doc_id", normalize_url("url").alias("c")).collect()}
    assert canon[1] == canon[2] == canon[3] == canon[4] == canon[5] \
        == canon[10] == canon[13] == "example.com/Page"
    assert canon[6] == "example.com/Page?id=5" == canon[8]
    assert canon[7] == "example.com/page"
    assert canon[9] == "other.com/Page"
    assert canon[14] == "example.com/Page?ref=branch"
    assert canon[11] is None
    # the tracker list is a parameter: opting `ref` back in strips it
    canon_ref = {r["doc_id"]: r["c"] for r in df.select(
        "doc_id",
        normalize_url("url", trackers=("utm_[A-Za-z0-9_]+", "ref")).alias("c"),
    ).collect()}
    assert canon_ref[14] == "example.com/Page"

    rows = url_dedup_ids(df).collect()
    out = {r["canonical_url"]: r["doc_id"]
           for r in rows if r["canonical_url"] is not None}
    assert out["example.com/Page"] == 1          # min id survives
    assert out["example.com/Page?id=5"] == 6
    assert out["example.com/Page?ref=branch"] == 14
    assert len(out) == 5
    # NULL urls are NOT keyed together: every url-less row survives
    null_ids = sorted(r["doc_id"] for r in rows if r["canonical_url"] is None)
    assert null_ids == [11, 12]


def test_emit_pairs_chunk_cap_path(spark):
    """The csz-scaling branch (r6: csz = max(chunk, ceil(m/256)), so
    nch <= 256 without empty trailing slices): with chunk forced tiny,
    a 600-element group scales csz up to ceil(600/256)=3 (200 chunks)
    — the pair set must still be exactly C(600, 2) with the ordering
    contract intact."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.dedup import _emit_pairs

    m = 600
    grouped = spark.createDataFrame(
        [(1, sorted(range(m)))], "g long, ms array<int>"
    )
    out = _emit_pairs(grouped, "ms", chunk=2)
    assert out.count() == m * (m - 1) // 2
    assert out.where(F.col("__a__") >= F.col("__b__")).count() == 0


def test_emit_pairs_stage_buffer_bounded(spark):
    """r6 regression test for the stage-boundary buffering cliff:
    `_emit_pairs` returns a Union, Union is a whole-stage-codegen
    boundary, and BufferedRowIterator buffers ONE INPUT ROW'S ENTIRE
    generate fanout (~80 B/row of object overhead) before the consumer
    sees anything. With the r5 chunk of 8192, four 8000-member buckets
    rode the "small" zero-shuffle path at C(8000,2) ~ 32M buffered rows
    ~ 2.5 GB per task and OOMed a 16 GB heap when processed
    concurrently (measured). The r6 chunk of 1024 + csz scaling bounds
    per-row fanout at ~1M pair rows; this emission must complete and
    be exactly 4 * C(8000, 2)."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.dedup import _emit_pairs

    m, nb = 8000, 4
    grouped = (
        spark.range(nb)
        .select(F.col("id"), F.sequence(F.lit(0), F.lit(m - 1)).alias("ms"))
        .select(F.transform("ms", lambda x: x + F.col("id") * 10_000_000).alias("ms"))
    )
    n = _emit_pairs(grouped, "ms").count()
    assert n == nb * m * (m - 1) // 2


def test_skew_report_hand_values(spark):
    """skew_report on a hand-built skewed frame: counts, shares and
    multiple-of-mean are exact, ordering is hottest-first with a total
    tie-break, top_k truncates."""
    from torcharrow_spark.operators import skew_report

    rows = [(k,) for k in (["hot"] * 6 + ["warm"] * 3 + ["a"] * 1 + ["b"] * 2)]
    df = spark.createDataFrame(rows, "k string")
    out = skew_report(df, ["k"], top_k=3).collect()
    assert [(r["k"], r["n_rows"]) for r in out] == [("hot", 6), ("warm", 3), ("b", 2)]
    r0 = out[0]
    assert abs(r0["share"] - 6 / 12) < 1e-12
    assert abs(r0["x_mean"] - 6 * 4 / 12) < 1e-12  # 2x the mean key pop


def test_emit_pairs_election_generic(spark):
    """r5 verdict ask #1 — TOTAL work bound: a bucket over
    elect_threshold collapses to per-class representatives. Emitted
    set must be exactly {rep-rep pairs} + {(rep, member) stars}, the
    ordering contract must hold, and elect_key=None must keep the full
    C(m,2) emission bit-for-bit."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.dedup import _emit_pairs

    # 3 classes: class 10 has ids 0..9, class 20 ids 10..14, class 30 id 15
    members = [(i, 10) for i in range(10)] + \
              [(i, 20) for i in range(10, 15)] + [(15, 30)]
    grouped = spark.createDataFrame(
        [(1, sorted(members))],
        "g long, ms array<struct<i:long,k:long>>",
    )
    elected = _emit_pairs(
        grouped, "ms", elect_key=lambda x: x["k"], elect_threshold=8
    )
    got = {(r["__a__"]["i"], r["__b__"]["i"]) for r in elected.collect()}
    reps = {0, 10, 15}
    want = {(a, b) for a in reps for b in reps if a < b}
    want |= {(0, i) for i in range(1, 10)} | {(10, i) for i in range(11, 15)}
    assert got == want
    assert all(a < b for a, b in got)

    # below the threshold: full emission, identical to elect_key=None
    full = _emit_pairs(grouped, "ms", elect_key=lambda x: x["k"],
                       elect_threshold=100)
    plain = _emit_pairs(grouped, "ms")
    assert full.exceptAll(plain).count() == 0
    assert plain.exceptAll(full).count() == 0
    assert plain.count() == 16 * 15 // 2

    # connectivity contraction: components of the elected graph equal
    # components of the full graph (here: one component per class pair
    # set — all 16 nodes connected through reps iff fully connected)
    import itertools

    def comps(pairs, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        return {frozenset(g) for _, g in itertools.groupby(
            sorted(nodes, key=find), key=find)}

    nodes = list(range(16))
    full_pairs = {(r["__a__"]["i"], r["__b__"]["i"]) for r in plain.collect()}
    assert comps(got, nodes) == comps(full_pairs, nodes)


def test_emit_pairs_star_overflow_chunked(spark):
    """r7: a collapsed class whose star list exceeds
    ``chunk`` must emit through the chunk-bounded overflow branch —
    same pair SET as a chunk large enough to inline the stars, so the
    bounding is pure plan shape, never semantics. Covers both the
    small-bare-branch (n_classes <= chunk) and big-bare-branch
    (n_classes > chunk) homes of an oversize star list."""
    from torcharrow_spark.operators.dedup import _emit_pairs

    # one giant class (40 members) + 5 singleton classes
    members = [(i, 10) for i in range(40)] + \
              [(40 + j, 100 + j) for j in range(5)]
    grouped = spark.createDataFrame(
        [(1, sorted(members))],
        "g long, ms array<struct<i:long,k:long>>",
    )

    def pairs(chunk):
        out = _emit_pairs(
            grouped, "ms", chunk=chunk,
            elect_key=lambda x: x["k"], elect_threshold=8,
        )
        return sorted((r["__a__"]["i"], r["__b__"]["i"])
                      for r in out.collect())

    inline = pairs(chunk=64)    # star list (39) fits inline
    # chunk=16: bare array (6 reps) on the small branch, stars overflow
    # chunk=4:  bare array (6 reps) on the big salted branch too
    assert pairs(chunk=16) == inline
    assert pairs(chunk=4) == inline
    reps = {0, 40, 41, 42, 43, 44}
    want = sorted({(a, b) for a in reps for b in reps if a < b}
                  | {(0, i) for i in range(1, 40)})
    assert inline == want


def test_elect_audit_counts(spark):
    """_elect_audit: members / n_classes / largest_class / pair math,
    bucket keys passed through, sub-threshold buckets absent."""
    from torcharrow_spark.operators.dedup import _elect_audit

    rows = [
        (1, [10] * 6 + [20] * 3 + [30]),   # 10 members, 3 classes
        (2, [40, 41]),                      # 2 members: under threshold
    ]
    grouped = spark.createDataFrame(rows, "g long, ks array<long>").selectExpr(
        "g", "transform(ks, x -> named_struct('k', x)) AS ms"
    )
    out = _elect_audit(grouped, "ms", lambda x: x["k"], elect_threshold=5)
    rws = out.collect()
    assert len(rws) == 1 and rws[0]["g"] == 1
    r = rws[0]
    assert r["members"] == 10 and r["n_classes"] == 3
    assert r["largest_class"] == 6
    assert r["pairs_full"] == 45
    assert r["pairs_elected"] == 3 + 7
    assert not r["cap_bound"]


def test_minhash_election_adversarial(spark):
    """10^6-dup shape at test scale: one boilerplate text duplicated
    2000x mixed with organic docs. With elect_threshold forced low the
    pair list must be LINEAR in the duplication (stars + rep pairs,
    never C(2000,2)), every duplicate must still be linked to the
    surviving representative, and organic pairs must be unchanged vs
    the unelected plan."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.dedup import minhash_pairs

    n_dup = 2000
    boiler = ("the same boilerplate text repeated everywhere across this "
              "synthetic corpus for the election test")
    dup = spark.range(n_dup).select(
        F.col("id").alias("doc_id"), F.lit(boiler).alias("text"))
    organic = spark.createDataFrame(
        [(100000, "alpha beta gamma delta epsilon zeta eta theta"),
         (100001, "alpha beta gamma delta epsilon zeta eta iota"),
         (100002, "totally different words nothing shared here at all ok")],
        "doc_id long, text string",
    )
    docs = dup.unionByName(organic)

    elected = minhash_pairs(docs, shingle_k=3, num_hashes=8, bands=4,
                            elect_threshold=64)
    pairs = {(r["id_a"], r["id_b"]) for r in elected.collect()}
    # linear, not quadratic: stars (n_dup - 1) + organic pairs
    assert len(pairs) < n_dup + 10
    # every duplicate is linked to the class representative (doc 0)
    assert {(0, i) for i in range(1, n_dup)} <= pairs
    # organic near-dup pair preserved exactly as unelected finds it
    organic_only = minhash_pairs(organic, shingle_k=3, num_hashes=8, bands=4)
    organic_pairs = {(r["id_a"], r["id_b"]) for r in organic_only.collect()}
    assert {(a, b) for a, b in pairs if a >= 100000} == organic_pairs


def test_simhash_and_jaccard_election_adversarial(spark):
    """Same adversarial shape through simhash_pairs (class key = full
    simhash, stars at hamming 0) and ngram_jaccard_pairs prefix mode
    (class key = shingle-set hash, stars verify to jaccard exactly
    1.0)."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    n_dup = 1200
    boiler = ("identical boilerplate body shared by every duplicated "
              "document in this adversarial corpus test case")
    dup = spark.range(n_dup).select(
        F.col("id").alias("doc_id"), F.lit(boiler).alias("text"))
    organic = spark.createDataFrame(
        [(200000, "completely unrelated content words for the organic doc"),
         (200001, "completely unrelated content words for the organic dok")],
        "doc_id long, text string",
    )
    docs = dup.unionByName(organic)

    sh = simhash_pairs(docs, bits=16, max_hamming=3, elect_threshold=64)
    sh_pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in sh.collect()}
    assert len(sh_pairs) < n_dup + 50
    for i in range(1, n_dup):
        assert sh_pairs.get((0, i)) == 0

    jc = ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.8,
                             elect_threshold=64)
    jc_pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jc.collect()}
    assert len(jc_pairs) < n_dup + 50
    for i in range(1, n_dup):
        assert jc_pairs.get((0, i)) == 1.0


def test_semantic_dedup_election_output_identical(spark, monkeypatch):
    """semantic_dedup's keep-first drop set is EXACTLY unchanged under
    election (the rep is the class min id, so every earlier-similar
    witness survives the collapse) — forced low threshold vs default
    must agree row-for-row even with duplicated vectors present."""
    import torcharrow_spark.operators.dedup as dd
    from torcharrow_spark.operators.similarity import semantic_dedup

    rows = []
    for i in range(300):
        rows.append((i, [1.0, 0.0, 0.0, 0.0]))          # one big dup class
    rows += [(1000, [0.0, 1.0, 0.0, 0.0]),
             (1001, [0.0, 0.999, 0.01, 0.0]),           # near-dup of 1000
             (1002, [0.0, 0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    base = semantic_dedup(df, n_clusters=2, threshold=0.95,
                          id_col="vec_id", vec_col="embedding")
    want = {r["vec_id"]: r["keep"] for r in base.collect()}

    monkeypatch.setattr(dd, "DEFAULT_ELECT_THRESHOLD", 16)
    got = {r["vec_id"]: r["keep"] for r in semantic_dedup(
        df, n_clusters=2, threshold=0.95,
        id_col="vec_id", vec_col="embedding").collect()}
    assert got == want
    # the dup class collapsed to its min id: 0 survives, 1..299 dropped
    assert got[0] and not got[1] and not got[299]
    assert got[1000] and not got[1001] and got[1002]


def _jvm_member_buckets(df, key, id_col, vec_col, norm_col):
    return (
        df.groupBy(key)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(vec_col).alias("v"), F.col(norm_col).alias("n")))
            ).alias("ms")
        )
        .where(F.size("ms") >= 2)
    )


def _jvm_pairs(buckets, dim):
    """The all-JVM pair plan the pair kernel replaced, verbatim:
    memory-bounded `_emit_pairs` with xxhash64 vector-class election."""
    import torcharrow_spark.operators.dedup as dd

    return dd._emit_pairs(
        buckets, "ms", elect_key=lambda x: F.xxhash64(x["v"]),
        elect_threshold=dd.DEFAULT_ELECT_THRESHOLD,
        member_bytes=32 + 4 * dim,
    )


def _semantic_dedup_jvm(corpus, threshold, centroids, id_col="vec_id",
                        vec_col="embedding"):
    """semantic_dedup (given centroids) on the all-JVM pair plan —
    the reference the Arrow pair kernel is pinned against."""
    from torcharrow_spark.operators.similarity import (
        _cell_sims,
        _cosine_from,
        _dot,
        _infer_dim,
        _norm,
    )

    cents = [(i, [float(x) for x in v]) for i, v in enumerate(centroids)]
    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        _norm(F.col(vec_col)).alias("__n__"),
        F.array_max(_cell_sims(vec_col, cents))["c"].alias("cluster"),
    )
    buckets = _jvm_member_buckets(assigned, "cluster", id_col, vec_col, "__n__")
    pairs = _jvm_pairs(buckets, _infer_dim(corpus, vec_col)).select(
        F.col("__b__.i").alias(id_col),
        _cosine_from(
            _dot(F.col("__a__.v"), F.col("__b__.v")),
            F.col("__a__.n"),
            F.col("__b__.n"),
        ).alias("__cos__"),
    )
    dropped = (
        pairs.where(F.col("__cos__") >= threshold)
        .select(id_col)
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


def _cosine_pairs_jvm(corpus, threshold, n_planes, id_col="vec_id",
                      vec_col="embedding"):
    """cosine_pairs (given n_planes) on the all-JVM pair plan — the
    reference the Arrow pair kernel is pinned against."""
    from torcharrow_spark.operators.similarity import (
        _cosine_from,
        _dot,
        _infer_dim,
        _norm,
        lsh_bucket,
    )

    dim = _infer_dim(corpus, vec_col)
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        _norm(F.col(vec_col)).alias("__norm__"),
        lsh_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
    )
    buckets = _jvm_member_buckets(c, "bucket", id_col, vec_col, "__norm__")
    exploded = _jvm_pairs(buckets, dim).select(
        F.col("__a__.i").alias("id_a"),
        F.col("__b__.i").alias("id_b"),
        F.col("__a__.v").alias("__va__"),
        F.col("__b__.v").alias("__vb__"),
        F.col("__a__.n").alias("__na__"),
        F.col("__b__.n").alias("__nb__"),
    )
    cos = _cosine_from(
        _dot(F.col("__va__"), F.col("__vb__")), F.col("__na__"), F.col("__nb__")
    )
    return (
        exploded.select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def test_semantic_dedup_kernel_matches_jvm_path(spark):
    """The Arrow pair kernel (similarity._bucket_drop_ids) computes the
    EXACT output of the all-JVM pair plan (rebuilt above as the
    reference) — including Spark's NaN-compares-greatest semantics,
    zip_with null padding on ragged/null vectors, and the when() 0.0
    fallback for non-positive norms."""
    from torcharrow_spark.operators.similarity import semantic_dedup

    nan, inf = float("nan"), float("inf")
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),       # exact duplicate of 0
        (2, [0.999, 0.01, 0.0, 0.0]),    # near-dup of 0
        (3, None),                        # null vector -> cos 0.0
        (4, [1.0, None, 0.0, 0.0]),      # null element -> null cos
        (5, [nan, 0.0, 0.0, 0.0]),       # NaN norm/cos -> DROPS (NaN >= t)
        (6, [0.0, 0.0, 0.0, 0.0]),       # zero norm -> cos 0.0
        (7, [1.0, 0.0]),                 # ragged length -> null cos
        (8, [inf, 0.0, 0.0, 0.0]),       # inf norm
        (9, [-1.0, 0.0, 0.0, 0.0]),      # anti-parallel
        (10, [0.6, 0.8, 0.0, 0.0]),
        (11, [nan, 0.0, 0.0, 0.0]),      # NaN pair with 5: cos NaN drops 11
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]

    def rows_of(out):
        return sorted(
            (r["vec_id"], r["cluster"], r["keep"]) for r in out.collect()
        )

    kernel = rows_of(semantic_dedup(df, threshold=0.5, centroids=cents))
    assert kernel == rows_of(_semantic_dedup_jvm(df, 0.5, cents))
    keep = {i: k for i, _c, k in kernel}
    assert keep[0] and not keep[1] and not keep[2]  # dup class collapses
    assert keep[3] and keep[4] and keep[7]          # null cos never drops
    assert keep[5] and not keep[11]                 # NaN cosine drops the
    #                                                 higher id of the pair


def test_cosine_pairs_kernel_matches_jvm_path(spark, monkeypatch):
    """The Arrow pair-cosine kernel (similarity._bucket_pair_cosines)
    emits the EXACT rows of the all-JVM pair plan (rebuilt above as the
    reference) — same pair set (including the election's thinned
    C(reps,2)+stars list when a duplicated class crosses the onset),
    bit-identical cosine doubles, and the same hostile-input semantics
    (null/ragged vectors never pass the threshold filter, NaN cosines
    always do)."""
    import math

    import torcharrow_spark.operators.dedup as dd
    from torcharrow_spark.operators.similarity import cosine_pairs

    nan = float("nan")
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(30)]  # dup class
    rows += [
        (100, [0.0, 1.0, 0.0, 0.0]),
        (101, [0.0, 0.999, 0.01, 0.0]),
        (102, None),
        (103, [1.0, None, 0.0, 0.0]),
        (104, [nan, 0.0, 0.0, 0.0]),
        (105, [0.0, 0.0, 0.0, 0.0]),
        (106, [1.0, 0.0]),
        (107, [0.6, 0.8, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def rows_of(out):
        return sorted(
            (r["id_a"], r["id_b"], r["cosine"]) for r in out.collect()
        )

    def check_equal():
        kern = rows_of(cosine_pairs(df, threshold=0.5, n_planes=2))
        legacy = rows_of(_cosine_pairs_jvm(df, 0.5, n_planes=2))
        assert len(kern) == len(legacy)
        for (a, b, c), (la, lb, lc) in zip(kern, legacy):
            assert (a, b) == (la, lb)
            assert c == lc or (math.isnan(c) and math.isnan(lc))
        return kern

    full = check_equal()
    # force election: the 30-member duplicate class must THIN to
    # C(reps,2) + stars on both paths — fewer rows than full emission
    monkeypatch.setattr(dd, "DEFAULT_ELECT_THRESHOLD", 8)
    elected = check_equal()
    assert len(elected) < len(full)
    # the dup class stays fully covered through its rep's stars
    star_targets = {b for a, b, _ in elected if a == 0}
    assert star_targets >= set(range(1, 30))


def test_bucket_audit_operators(spark):
    """minhash_bucket_audit / simhash_bucket_audit surface the buckets
    the policy collapses — the non-silent half of the r5 ask."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import (
        minhash_bucket_audit,
        simhash_bucket_audit,
    )

    n_dup = 500
    docs = spark.range(n_dup).select(
        F.col("id").alias("doc_id"),
        F.lit("audited boilerplate body for the bucket report test "
              "with enough words to shingle").alias("text"),
    ).unionByName(spark.createDataFrame(
        [(9000, "an organic document with its own distinct words here")],
        "doc_id long, text string"))

    mh = minhash_bucket_audit(docs, bands=4, elect_threshold=64).collect()
    assert len(mh) >= 4      # every band bucket of the dup class
    for r in mh:
        assert r["members"] == n_dup and r["n_classes"] == 1
        assert r["largest_class"] == n_dup
        assert r["pairs_full"] == n_dup * (n_dup - 1) // 2
        assert r["pairs_elected"] == n_dup - 1
        assert not r["cap_bound"]

    sh = simhash_bucket_audit(docs, bits=16, elect_threshold=64).collect()
    assert len(sh) >= 4
    # the organic doc may share a block value with the dup class, so a
    # bucket is either the pure class or class + 1 organic straggler
    assert all(
        (r["members"], r["n_classes"]) in {(n_dup, 1), (n_dup + 1, 2)}
        for r in sh
    )
    assert sum((r["members"], r["n_classes"]) == (n_dup, 1) for r in sh) >= 3


def test_mp4_sample_tables_roundtrip_and_edges():
    """r6 frame decode: encode_mp4_video's stsz/stsc/stco tables locate
    every frame's exact bytes; the reader honors multi-run stsc maps,
    fixed-size stsz, co64 offsets, and rejects tables that disagree."""
    import struct

    import numpy as np
    import pytest

    from torcharrow_spark.operators.imagecodec import decode_image, encode_ppm
    from torcharrow_spark.operators.videocodec import (
        _box,
        _fullbox,
        encode_mp4_video,
        parse_mp4_meta,
        parse_mp4_samples,
    )

    frames = [
        encode_ppm((np.arange(4 * 3 * 3, dtype=np.int64) * (i + 1) % 256)
                   .astype(np.uint8).reshape(3, 4, 3))
        for i in range(4)
    ]
    mp4 = encode_mp4_video(frames, timescale=600, frame_duration=30)
    # container meta still coherent for the q143 walker
    meta = parse_mp4_meta(mp4)
    assert meta["n_tracks"] == 1 and meta["duration"] == 120
    (tr,) = parse_mp4_samples(mp4)
    assert tr["handler"] == "vide" and tr["timescale"] == 600
    assert len(tr["samples"]) == 4
    for f, (off, sz) in zip(frames, tr["samples"]):
        assert mp4[off: off + sz] == f
        w, h, _ = decode_image(mp4[off: off + sz])
        assert (w, h) == (4, 3)

    # hand-built track: multi-run stsc (chunks of 2,2,1 samples),
    # fixed-size stsz, co64 offsets
    payload = b"".join(bytes([i]) * 3 for i in range(5))   # 5 samples, 3B each
    stsd = _fullbox(b"stsd", struct.pack(">I", 1)
                    + _box(b"raw ", b"\x00" * 6 + struct.pack(">H", 1)))
    stsz = _fullbox(b"stsz", struct.pack(">II", 3, 5))     # fixed size 3
    stsc = _fullbox(b"stsc", struct.pack(">I", 2)
                    + struct.pack(">III", 1, 2, 1)          # chunks 1-2: 2 each
                    + struct.pack(">III", 3, 1, 1))         # chunk 3: 1
    def co64(base):
        return _fullbox(b"co64", struct.pack(">I", 3)
                        + struct.pack(">QQQ", base, base + 6, base + 12))
    mdhd = _fullbox(b"mdhd", struct.pack(">II", 0, 0)
                    + struct.pack(">II", 90000, 450)
                    + struct.pack(">HH", 0x55C4, 0))
    hdlr = _fullbox(b"hdlr", struct.pack(">I", 0) + b"vide"
                    + b"\x00" * 12 + b"\x00")

    def build(co):
        stbl = _box(b"stbl", stsd + stsc + stsz + co)
        trak = _box(b"trak", _box(b"mdia", mdhd + hdlr + _box(b"minf", stbl)))
        moov = _box(b"moov", trak)
        return moov

    moov_len = len(build(co64(0)))
    base = moov_len + 8
    data = build(co64(base)) + _box(b"mdat", payload)
    (t2,) = parse_mp4_samples(data)
    assert t2["samples"] == [
        (base, 3), (base + 3, 3), (base + 6, 3), (base + 9, 3), (base + 12, 3)
    ]
    for i, (off, sz) in enumerate(t2["samples"]):
        assert data[off: off + sz] == bytes([i]) * 3

    # stsc covering fewer samples than stsz declares: rejected
    bad_stsc = _fullbox(b"stsc", struct.pack(">I", 1)
                        + struct.pack(">III", 1, 1, 1))     # 3 chunks x 1 = 3 < 5
    def build_bad(co):
        stbl = _box(b"stbl", stsd + bad_stsc + stsz + co)
        trak = _box(b"trak", _box(b"mdia", mdhd + hdlr + _box(b"minf", stbl)))
        return _box(b"moov", trak)
    bad_len = len(build_bad(co64(0)))
    bad = build_bad(co64(bad_len + 8)) + _box(b"mdat", payload)
    with pytest.raises(ValueError, match="stsc/stco cover"):
        parse_mp4_samples(bad)

    # sample past EOF: rejected
    trunc = build(co64(base)) + _box(b"mdat", payload[:7])
    with pytest.raises(ValueError, match="EOF|malformed"):
        parse_mp4_samples(trunc)


def test_video_frame_decode_on_spark(spark):
    """decode_video_frames_stats end-to-end: per-frame exact checksums
    through mapInPandas, frame_sample_plan's real stsz-driven count,
    and every_n sampling."""
    import numpy as np
    from pyspark.sql import types as T

    from torcharrow_spark.operators import (
        decode_video_frames_stats,
        frame_sample_plan,
    )
    from torcharrow_spark.operators.imagecodec import encode_ppm
    from torcharrow_spark.operators.videocodec import encode_mp4_video

    def synth(d, n):
        frames = []
        for fi in range(n):
            px = ((d * 7 + fi * 13 + np.arange(2 * 2 * 3, dtype=np.int64))
                  % 256).astype(np.uint8).reshape(2, 2, 3)
            frames.append(encode_ppm(px))
        return bytearray(encode_mp4_video(frames))

    rows = [(1, synth(1, 5)), (2, synth(2, 1)), (3, None)]
    df = spark.createDataFrame(
        rows,
        T.StructType([T.StructField("doc_id", T.LongType(), False),
                      T.StructField("vid", T.BinaryType(), True)]),
    )
    out = decode_video_frames_stats(df, "vid", "doc_id", every_n=2).collect()
    got = {(r["doc_id"], r["frame_index"]): r for r in out}
    assert set(got) == {(1, 0), (1, 2), (1, 4), (2, 0)}
    for (d, fi), r in got.items():
        want = sum((d * 7 + fi * 13 + j) % 256 for j in range(12))
        assert (r["width"], r["height"], r["fmt"]) == (2, 2, "ppm")
        assert r["n_px"] == 12 and r["px_sum"] == want
        assert r["px_mean"] == want / 12

    plan = frame_sample_plan(df, "vid", "doc_id", every_n=2).collect()
    assert {(r["doc_id"], r["frame_index"]) for r in plan} == \
        {(1, 0), (1, 2), (1, 4), (2, 0)}


def test_kmeans_pp_init_deterministic_and_spreads(spark):
    """init='kmeans++' (r6): bit-deterministic under repartitioning
    (md5-priority weighted draw, never an RNG), seeds REPEL — on three
    well-separated blobs, k=3 D^2 seeding lands one seed per blob even
    when md5-order luck would stack two in one blob — and exact
    duplicates of a chosen seed can never be re-picked (d2=0 -> -inf
    key)."""
    from torcharrow_spark.operators.clustering import (
        _init_centroids,
        _init_centroids_pp,
        kmeans,
    )

    # 3 tight blobs at x = 0 / 1000 / 2000; ids interleaved
    pts = [(i, [float((i % 3) * 1000) + (i % 7) * 0.1, 0.0])
           for i in range(300)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")

    pp1 = _init_centroids_pp(df, 3, "vec_id", "embedding")
    pp2 = _init_centroids_pp(df.repartition(11), 3, "vec_id", "embedding")
    assert pp1 == pp2
    blobs = {round(c[0], -2) for c in pp1}
    assert blobs == {0.0, 1000.0, 2000.0}

    # the fitted model is deterministic end-to-end too
    _a1, c1 = kmeans(df, k=3, max_iter=2, init="kmeans++")
    _a2, c2 = kmeans(df.repartition(7), k=3, max_iter=2, init="kmeans++")
    assert c1 == c2
    assert {round(c[0], -2) for c in c1} == {0.0, 1000.0, 2000.0}

    # duplicate-heavy corpus: k > distinct points stops early, no dupes
    dup = spark.createDataFrame(
        [(i, [0.0, 0.0]) for i in range(50)] + [(99, [5.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    seeds = _init_centroids_pp(dup, 4, "vec_id", "embedding")
    assert len(seeds) == 2 and [0.0, 0.0] in seeds and [5.0, 5.0] in seeds

    # md5 init on the blob corpus is genuinely what ++ improves on:
    # it picks by id-hash luck, not spread (sanity: still 3 seeds)
    assert len(_init_centroids(df, 3, "vec_id", "embedding")) == 3


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted index (r6)


@pytest.fixture(scope="module")
def delivery_split(spark):
    # even ids = already-curated corpus, odd ids = tonight's delivery
    data = [
        (0, "the cat sat on the mat"),               # corpus
        (2, "the cat sat on the hat"),               # corpus
        (6, "spark executors shuffle fixed width keys"),  # corpus
        (1, "the cat sat on the mat"),               # dup of corpus 0
        (3, "completely different text here entirely"),  # new: survives
        (5, "the cat sat on the mat"),               # dup of corpus 0
        (7, "completely different text here entirely"),  # intra dup of 3
        (9, "hi"),                                   # too short to shingle
    ]
    df = spark.createDataFrame(data, "doc_id long, text string")
    return df.where("doc_id % 2 = 0"), df.where("doc_id % 2 = 1")


def test_dedup_against_index(spark, delivery_split):
    corpus, new = delivery_split
    idx = ops.minhash_index(corpus, shingle_k=2)
    surv = ops.dedup_against_index(new, idx, shingle_k=2)
    assert sorted(r["doc_id"] for r in surv.collect()) == [3, 9]
    # all original columns ride through
    assert surv.columns == ["doc_id", "text"]


def test_dedup_against_index_appended_stays_current(spark, delivery_split):
    # appending the surviving delivery's own band keys IS the merged
    # index: re-presenting the same delivery afterwards drops everything
    corpus, new = delivery_split
    idx = ops.minhash_index(corpus, shingle_k=2)
    surv = ops.dedup_against_index(new, idx, shingle_k=2)
    idx2 = idx.union(ops.minhash_index(surv, shingle_k=2))
    again = ops.dedup_against_index(
        new.where("doc_id != 9"), idx2, shingle_k=2
    )
    assert again.count() == 0  # 9 has no buckets and would still pass


def test_exact_dedup_against_index(spark, delivery_split):
    corpus, new = delivery_split
    idx = ops.exact_index(corpus)
    surv = ops.exact_dedup_against_index(new, idx)
    assert sorted(r["doc_id"] for r in surv.collect()) == [3, 9]
    # r8: the index carries the class WITNESS (min doc_id per text) so
    # retirement can key on document ids
    assert set(idx.columns) == {"h_hi", "h_lo", "doc_id"}


def test_retire_from_index_minhash(spark, delivery_split):
    """r8: retiring a corpus doc drops ALL its band
    rows, so a delivery doc that collided ONLY with retired docs now
    survives — takedowns must actually re-admit."""
    corpus, new = delivery_split
    idx = ops.minhash_index(corpus, shingle_k=2)
    retired = spark.createDataFrame([(0,), (2,)], "doc_id long")
    idx2 = ops.retire_from_index(idx, retired)
    # every band row of docs 0 and 2 is gone; doc 6's rows remain
    assert idx2.where("doc_id in (0, 2)").count() == 0
    assert idx2.where("doc_id = 6").count() > 0
    surv = ops.dedup_against_index(new, idx2, shingle_k=2)
    # doc 1 collided only with retired 0/2 -> now survives (and wins
    # the intra-delivery keep-min-id against its own dup, doc 5)
    assert sorted(r["doc_id"] for r in surv.collect()) == [1, 3, 9]


def test_retire_from_index_exact(spark, delivery_split):
    """Exact-index retirement: the witness IS the kept corpus copy, so
    retiring it retires the text class and a future copy re-admits."""
    corpus, new = delivery_split
    idx = ops.exact_index(corpus)
    retired = spark.createDataFrame([(0,)], "doc_id long")
    idx2 = ops.retire_from_index(idx, retired)
    surv = ops.exact_dedup_against_index(new, idx2)
    # doc 1 ("the cat sat on the mat") was exact-dup of retired doc 0
    assert sorted(r["doc_id"] for r in surv.collect()) == [1, 3, 9]


def test_compact_index_merges_and_releases_root(spark, delivery_split, tmp_path):
    """r8: compact_index folds delta partitions (and retirements) into
    one fresh base, clears the deltas and the stream's owner marker,
    and the compacted base answers dedup_against_index exactly like
    the uncompacted base+delta union."""
    corpus, new = delivery_split
    root = str(tmp_path / "idx")
    base = ops.minhash_index(corpus, shingle_k=2)
    base.write.parquet(f"{root}/base")
    surv = ops.dedup_against_index(new, base, shingle_k=2)
    delta = ops.minhash_index(surv, shingle_k=2)
    delta.write.parquet(f"{root}/delta/batch_id=0")
    # a stream's ownership marker (same layout _claim_index_root writes)
    spark.createDataFrame([("ckpt-a",)], "value string").coalesce(1) \
        .write.text(f"{root}/_owner_checkpoint")

    want = {
        r["doc_id"]
        for r in ops.dedup_against_index(
            new, base.unionByName(delta), shingle_k=2
        ).collect()
    }
    report = ops.compact_index(root, spark)
    assert report["had_base"] and report["had_delta"]
    assert report["merged_rows"] == base.count() + delta.count()
    import os as _os

    assert not _os.path.exists(f"{root}/delta")
    assert not _os.path.exists(f"{root}/_owner_checkpoint")
    # r9: the compacted snapshot is manifest-resolved (base_v{N}); the
    # legacy bare base dir is migrated away
    assert not _os.path.exists(f"{root}/base")
    compacted = ops.read_index(spark, root)
    got = {
        r["doc_id"]
        for r in ops.dedup_against_index(new, compacted, shingle_k=2).collect()
    }
    assert got == want

    # retirement applied in the same pass: retire everything, and the
    # whole delivery's shingleable docs resolve intra-delivery only
    report2 = ops.compact_index(
        root, spark,
        retired=spark.createDataFrame(
            [(i,) for i in range(10)], "doc_id long"
        ),
    )
    assert report2["retired_applied"]
    assert ops.read_index(spark, root).count() == 0
    assert report2["version"] > report["version"]


def test_incremental_hot_bucket_is_one_aggregate(spark):
    # 500 copies of one text not in the corpus: keep-min-id survives,
    # and the plan carries NO pair emission (no explode of id arrays) —
    # the hot-bucket cost is a single map-side-combinable min
    corpus = spark.createDataFrame(
        [(0, "some unrelated corpus document text")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2 * i + 1, "boiler plate legal footer text repeated") for i in range(500)],
        "doc_id long, text string",
    )
    surv = ops.dedup_against_index(new, ops.minhash_index(corpus), shingle_k=2)
    assert [r["doc_id"] for r in surv.collect()] == [1]
    plan = surv._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_cap_amplified_scan(spark, tmp_path):
    """r9: a bare parquet scan feeding a known
    row-amplifying stage is re-read through a conf-scoped child session
    that caps split bytes — more, narrower map tasks; zero new
    exchanges; the user's session conf untouched. The cap only binds
    when effective split bytes exceed rows_budget/density (Spark's own
    bytesPerCore sizing already narrows small corpora, so bench-SF
    plans and their byte anchors never change)."""
    from pyspark.sql import functions as F

    from torcharrow_spark.operators import cap_amplified_scan
    from torcharrow_spark.operators.dedup import _shingles

    # ~14 MB of md5 words: incompressible, so disk bytes ~= data bytes
    docs = spark.range(40_000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.md5(F.concat(F.col("id").cast("string"), F.lit(f"|{i}")))
                for i in range(11)
            ],
        ).alias("text"),
    )
    docs.coalesce(1).write.parquet(str(tmp_path / "corpus"))
    scan = spark.read.parquet(str(tmp_path / "corpus"))

    # default budget: bytesPerCore (total/32 << 4 MB here) already
    # narrows this corpus below the cap -> no-op, SAME object
    assert cap_amplified_scan(scan) is scan

    # a lowered budget makes the cap bind: new df, narrower splits,
    # identical rows and shingles, parent session conf untouched
    before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    capped = cap_amplified_scan(scan, rows_budget=1 << 17)
    assert capped is not scan
    assert capped.rdd.getNumPartitions() > scan.rdd.getNumPartitions()
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == before
    assert capped.sparkSession is not spark  # conf-scoped child
    # runtime confs cloned so the child plans identically otherwise
    assert capped.sparkSession.conf.get(
        "spark.sql.session.timeZone"
    ) == spark.conf.get("spark.sql.session.timeZone")
    # ... except the two amplified-regime sizings (map cap + the 4x
    # reduce-side AQE advisory target — the sf40 zero-spill pair)
    cap_bytes = int(
        capped.sparkSession.conf.get("spark.sql.files.maxPartitionBytes")
    )
    assert int(
        capped.sparkSession.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        )
    ) == cap_bytes * 4
    assert capped.count() == scan.count()
    assert (
        _shingles(capped, "text", "doc_id", 3).count()
        == _shingles(scan, "text", "doc_id", 3).count()
    )

    # attribute-only projection: fires, column set preserved
    proj = scan.select("text", "doc_id")
    cp = cap_amplified_scan(proj, rows_budget=1 << 17)
    assert cp is not proj and cp.columns == proj.columns

    # deliberate no-ops: a Filter cannot be reproduced by a re-read;
    # in-memory plans have no file splits; a STRICTER manual conf wins
    filt = scan.where("doc_id > 5")
    assert cap_amplified_scan(filt, rows_budget=1 << 17) is filt
    mem = spark.range(10)
    assert cap_amplified_scan(mem, rows_budget=1 << 17) is mem
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 18))
    try:
        assert cap_amplified_scan(scan, rows_budget=1 << 21) is scan
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", before)


def test_spread_narrow_source_adaptive(spark, sf_dir):
    """r7: spread_narrow_source widens ONLY a narrow bare file scan —
    no-op for an in-memory df, a post-exchange plan, and a source
    whose PLANNED SCAN SPLITS (row-group level, not file count)
    already use more than half the parallelism."""
    from torcharrow_spark.operators import spread_narrow_source

    par = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the bench table is one row group -> one planned scan split
    assert docs.rdd.getNumPartitions() * 2 <= par

    wide = spread_narrow_source(docs)
    assert wide.rdd.getNumPartitions() == par
    # values untouched (same rows, any order)
    assert wide.count() == docs.count()
    assert wide.exceptAll(docs).count() == 0

    # post-exchange df: untouched (no double repartition)
    pre = docs.repartition(8)
    assert spread_narrow_source(pre) is pre

    # in-memory df: untouched (LocalTableScan/Range are not FileScans)
    mem = spark.range(10)
    assert spread_narrow_source(mem) is mem
    loc = spark.createDataFrame([(1, "a")], "id long, t string")
    assert spread_narrow_source(loc) is loc

    # healthy wide layout: untouched even though it is ONE directory
    # (narrowness keys on scan splits, not file count)
    import tempfile

    d = tempfile.mkdtemp()
    docs.repartition(par).write.mode("overwrite").parquet(f"{d}/wide")
    wide_src = spark.read.parquet(f"{d}/wide")
    assert wide_src.rdd.getNumPartitions() * 2 > par
    assert spread_narrow_source(wide_src) is wide_src


def test_unigram_viterbi_exact_and_tieless():
    """r10: the Unigram-LM tokenizer (functions/unigram.py, Kudo 2018)
    must return the GLOBAL-optimum segmentation — checked against an
    exhaustive enumeration over every distinct word of both driver
    corpora, which simultaneously proves the toy vocab's no-tie
    contract (the q168 oracle's determinism assumption)."""
    import re
    from functools import lru_cache

    import duckdb
    import pytest

    from torcharrow_spark.functions.unigram import UnigramTokenizer

    tok = UnigramTokenizer.toy()

    # greedy longest-match diverges: Viterbi must NOT take 'the' here
    assert tok.encode_word("then") == ["th", "en"]
    assert tok.encode_word("the") == ["th", "e"]
    assert tok.encode("a the then") == ["a", "th", "e", "th", "en"]
    assert tok.cost(["th", "en"]) == 551 + 613
    with pytest.raises(ValueError):
        tok.encode_word("caf9")  # digit not in vocab
    # ids: dense, stable, cost-ordered
    assert sorted(tok.ids.values()) == list(range(len(tok.vocab)))
    assert tok.encode_ids("then") == [tok.ids["th"], tok.ids["en"]]

    @lru_cache(maxsize=None)
    def all_segs(w):
        if not w:
            return ((),)
        out = []
        for ln in range(1, min(tok.max_len, len(w)) + 1):
            if w[:ln] in tok.vocab:
                out.extend((w[:ln],) + rest for rest in all_segs(w[ln:]))
        return tuple(out)

    words = set()
    for sf in ("sf0.001", "sf0.01"):
        rows = duckdb.sql(
            f"SELECT text FROM '/root/testdata/{sf}/documents.parquet'"
        ).fetchall()
        for (t,) in rows:
            t = re.sub(" +", " ", re.sub("[^a-z ]", "", t.lower())).strip()
            words.update(t.split())
    words.discard("")
    assert len(words) > 20
    for w in sorted(words):
        segs = all_segs(w)
        costs = sorted(tok.cost(s) for s in segs)
        best = min(segs, key=tok.cost)
        # no tie at the optimum (q168 oracle determinism contract)
        assert len(costs) == 1 or costs[0] < costs[1], (w, costs[:2])
        assert tok.encode_word(w) == list(best), w


def test_language_id_trained_end_to_end(spark):
    """r10: multinomial-NB language ID — fit on half a labeled corpus,
    predict the held-out half. The accuracy floor is the capability
    claim; exactness vs the SQL replay is q169's oracle."""
    import pytest

    from torcharrow_spark.operators import (
        language_id_score,
        language_id_train,
    )
    from pyspark.sql import functions as F

    rows = []
    phrases = {
        "de": "der hund und die katze ist nicht da",
        "en": "the dog and the cat is not here",
        "fr": "le chien et le chat est ne pas la",
    }
    for i in range(120):
        lang = ["de", "en", "fr"][i % 3]
        rows.append((i, lang, f"doc {i} says " + phrases[lang] * 3))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    model = language_id_train(df.where(F.col("doc_id") % 2 == 0), ("de", "en", "fr"))
    assert set(model) == {"de", "en", "fr"}
    assert all(len(m["logp"]) == 256 for m in model.values())
    scored = language_id_score(
        df.where(F.col("doc_id") % 2 == 1), model, passthrough=("lang",)
    )
    got = scored.collect()
    acc = sum(r.pred_lang == r.lang for r in got) / len(got)
    assert acc == 1.0
    # scores are exact int64 (SQL-replayable without float slop)
    assert all(isinstance(r.s_en, int) for r in got)
    # scoring plan: zero shuffle, zero Python — weights are literals
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "MapInPandas" not in plan
    # unlabeled class raises at fit time
    with pytest.raises(ValueError):
        language_id_train(df.where(F.col("lang") == "en"), ("de", "en"))


def test_char_ngram_features_with_logreg(spark):
    """The generic hashed-char-n-gram feature builder feeds the
    existing logreg machinery: a linearly separable two-class toy
    corpus must fit to a clean split."""
    from torcharrow_spark.operators import (
        char_ngram_features,
        logreg_score,
        logreg_train,
    )
    from pyspark.sql import functions as F

    rows = [(i, i % 2, ("aaaa bbbb " if i % 2 else "zzzz yyyy ") * 6)
            for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, y int, text string")
    feat = char_ngram_features(df, passthrough=("y",), n_buckets=16)
    assert feat.columns[:2] == ["doc_id", "y"]
    assert [c for c in feat.columns if c.startswith("x")] == [
        f"x{k}" for k in range(17)
    ]
    cols = [f"x{k}" for k in range(17)]
    w = logreg_train(feat, cols, "y", lr=8.0, iters=10)
    scored = logreg_score(feat, cols, w)
    got = scored.select("doc_id", "y", "score").collect()
    acc = sum((r.score >= 0.5) == bool(r.y) for r in got) / len(got)
    assert acc == 1.0


def test_quantized_rerank_matches_brute_force(spark):
    """r10: int8 coarse scan + exact re-rank must reproduce the exact
    brute-force top-k when the candidate pool is generous, and its
    re-rank stage must emit EXACT cosines (same values as brute
    force), not the approximate ones."""
    import math
    import random

    from torcharrow_spark.operators import (
        brute_force_topk,
        quantized_rerank_topk,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where("vec_id < 4")
    exact = brute_force_topk(df, q, k=5).collect()
    got = quantized_rerank_topk(df, q, k=5, candidates=40).collect()
    ekey = {(r.query_id, r.rank): (r.match_id, r.cosine) for r in exact}
    gkey = {(r.query_id, r.rank): (r.match_id, r.cosine) for r in got}
    assert set(ekey) == set(gkey)
    for kk in ekey:
        assert ekey[kk][0] == gkey[kk][0], kk
        assert math.isclose(ekey[kk][1], gkey[kk][1], rel_tol=0, abs_tol=0)
    # constant vector (scale 0) must not divide by zero
    rows2 = rows + [(999, [0.25] * 16)]
    df2 = spark.createDataFrame(rows2, "vec_id long, embedding array<double>")
    assert quantized_rerank_topk(df2, df2.where("vec_id = 999"), k=3).count() == 3


def test_unigram_canonical_tie_break():
    """r11: trained vocabs can't guarantee the toy vocab's tie-freedom,
    so canonical_ties=True must resolve equal-cost optima to the
    LEXICOGRAPHICALLY smallest piece list (the q173 oracle's
    ``ORDER BY cost, pieces`` rule), checked against an exhaustive
    enumeration on a vocab built to tie."""
    from itertools import product

    from torcharrow_spark.functions.unigram import UnigramTokenizer

    # 'ab' == 'a'+'b' (10 = 5+5): a genuine tie at the optimum
    v = {"a": 5, "b": 5, "ab": 10, "ba": 10, "aba": 15}
    tok = UnigramTokenizer(v, canonical_ties=True)

    def all_segs(w):
        if not w:
            return [()]
        out = []
        for ln in range(1, min(3, len(w)) + 1):
            if w[:ln] in v:
                out.extend((w[:ln],) + r for r in all_segs(w[ln:]))
        return out

    for w in ("ab", "aba", "abab", "ababa", "baba", "aabb"):
        segs = all_segs(w)
        best_cost = min(sum(v[p] for p in s) for s in segs)
        expect = min(
            sorted(s for s in segs if sum(v[p] for p in s) == best_cost)
        )
        assert tuple(tok.encode_word(w)) == expect, w
    # the default (positional) tie rule differs on the tie case —
    # proof the canonical flag changes behavior only where ties exist
    assert UnigramTokenizer(v).encode_word("ab") == ["ab"]
    assert tok.encode_word("ab") == ["a", "b"]


def test_unigram_tokenizer_state_is_read_only():
    """encode_word memoizes per word, so the state a segmentation
    depends on (vocab, canonical_ties) is read-only: mutating it raises
    instead of silently serving stale memoized segmentations."""
    import pickle

    from torcharrow_spark.functions.unigram import UnigramTokenizer

    v = {"a": 5, "b": 5, "ab": 10}
    tok = UnigramTokenizer(v, canonical_ties=True)
    before = {w: tok.encode_word(w) for w in ("ab", "ba", "abab")}
    with pytest.raises(TypeError):
        tok.vocab["ab"] = 1
    with pytest.raises(TypeError):
        del tok.vocab["a"]
    with pytest.raises(AttributeError):
        tok.canonical_ties = False
    with pytest.raises(AttributeError):
        tok.vocab = {"a": 1, "b": 1}
    v["ab"] = 1  # the caller's dict is copied, not aliased
    assert dict(tok.vocab) == {"a": 5, "b": 5, "ab": 10}
    assert tok.canonical_ties is True
    assert {w: tok.encode_word(w) for w in before} == before
    # the tokenizer still ships to workers
    clone = pickle.loads(pickle.dumps(tok))
    assert {w: clone.encode_word(w) for w in before} == before


def test_unigram_train_fit_properties(spark):
    """r11 trainer (functions/unigram.unigram_train): deterministic,
    vocab-bounded, and the trained pieces genuinely compress — the
    multi-char pieces it keeps are exactly the high-frequency
    substrings of the toy corpus, and segmenting the training text
    with them beats the all-chars segmentation."""
    from torcharrow_spark.functions.unigram import (
        UnigramTokenizer,
        unigram_train,
    )

    rows = [
        (i, ("the cat sat on the mat " * 3) + ("thing " * (i % 3)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    v1 = unigram_train(df, max_piece_len=3, n_seed=20, keep=10)
    v2 = unigram_train(df, max_piece_len=3, n_seed=20, keep=10)
    assert v1 == v2  # deterministic fit
    import string

    assert set(string.ascii_lowercase) <= set(v1)
    multis = {p for p in v1 if len(p) > 1}
    assert 0 < len(multis) <= 10
    corpus_subs = set()
    for w in "the cat sat on mat thing".split():
        for l in (2, 3):
            corpus_subs.update(w[i : i + l] for i in range(len(w) - l + 1))
    assert multis <= corpus_subs
    assert all(c > 0 for c in v1.values())
    tok = UnigramTokenizer(v1, canonical_ties=True)
    pieces = tok.encode("the thing sat")
    chars_only = sum(v1[c] for c in "thethingsat")
    assert tok.cost(pieces) < chars_only
    assert any(len(p) > 1 for p in pieces)


# ---------------------------------------------------------------------------
# r12: cross-document exact substring dedup (operators/substring.py,
# Lee et al. 2022 ExactSubstr family)


def test_cross_doc_spans_planted(spark):
    """Planted cross-doc substrings: extents are exact and maximal,
    the cross-document restriction holds (a window repeated only
    WITHIN one doc is never flagged), and within-doc copies of a
    cross-doc span are each reported."""
    from torcharrow_spark.operators import cross_doc_spans

    shared = " ".join(f"s{i}" for i in range(6))          # 6 tokens
    docs = spark.createDataFrame(
        [
            # doc 0: shared block at positions 2..7 of 12 tokens
            (0, "a0 a1 " + shared + " a2 a3 a4 a5"),
            # doc 1: same block at positions 0..5
            (1, shared + " b0 b1 b2"),
            # doc 2: an 8-token block repeated twice WITHIN the doc
            # only — must not be flagged (cross-doc op)
            (2, "c0 c1 c2 c3 c4 c5 c6 c7 c0 c1 c2 c3 c4 c5 c6 c7"),
            # doc 3: unrelated
            (3, "d0 d1 d2 d3 d4 d5 d6 d7 d8 d9"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["span_start"], r["span_len"], r["n_grams"],
                      r["max_docs"])
        for r in cross_doc_spans(docs, k=4).collect()
    }
    # k=4 anchors inside a 6-token shared block: 3 consecutive starts
    assert got[0] == (2, 6, 3, 2)
    assert got[1] == (0, 6, 3, 2)
    assert 2 not in got and 3 not in got


def test_cross_doc_spans_merge_and_three_way(spark):
    """Two overlapping shared regions merge into ONE maximal span;
    max_docs reports the widest sharing of any anchor in the span."""
    from torcharrow_spark.operators import cross_doc_spans

    left = "x0 x1 x2 x3 x4"    # 5 tokens, shared by docs 0,1,2
    right = "y0 y1 y2 y3 y4"   # 5 tokens, shared by docs 0,1 only
    docs = spark.createDataFrame(
        [
            (0, left + " " + right),      # contiguous: one 10-token span
            (1, left + " " + right),
            (2, "z0 " + left + " z1 z2 z3"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        (r["doc_id"], r["span_start"]): (r["span_len"], r["max_docs"])
        for r in cross_doc_spans(docs, k=4).collect()
    }
    # docs 0/1: anchors at 0..6 all shared (0,1 share the whole line;
    # anchors 0,1 also hit doc 2) -> single merged 10-token span
    assert rows[(0, 0)] == (10, 3)
    assert rows[(1, 0)] == (10, 3)
    assert rows[(2, 1)] == (5, 3)


def test_strip_cross_doc_spans_audit(spark):
    """Removal strips every covered token in EVERY sharing doc and the
    audit columns reconcile; untouched docs come back normalized with
    zero removals."""
    from torcharrow_spark.operators import strip_cross_doc_spans

    shared = " ".join(f"s{i}" for i in range(6))
    docs = spark.createDataFrame(
        [
            (0, "a0 a1 " + shared + " a2  a3"),   # double space: norm
            (1, shared + " b0 b1 b2"),
            (2, "lone doc with no duplication at all"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in strip_cross_doc_spans(docs, k=4).collect()}
    assert got[0]["text"] == "a0 a1 a2 a3"
    assert (got[0]["n_tokens"], got[0]["n_removed"], got[0]["n_spans"]) == (
        10, 6, 1,
    )
    assert got[1]["text"] == "b0 b1 b2"
    assert got[1]["n_removed"] == 6 and got[1]["n_spans"] == 1
    assert got[2]["text"] == "lone doc with no duplication at all"
    assert got[2]["n_removed"] == 0 and got[2]["n_spans"] == 0


def test_cross_corpus_spans_decontamination(spark):
    """Planted train-vs-reference overlap: only training docs are
    scored, only reference-shared spans are removed, and overlap
    WITHIN the training corpus alone is untouched (that's
    cross_doc_spans' job, not decontamination's)."""
    from torcharrow_spark.operators import (
        cross_corpus_spans,
        strip_cross_corpus_spans,
    )

    bench = " ".join(f"b{i}" for i in range(6))   # benchmark text
    train_dup = " ".join(f"t{i}" for i in range(6))
    train = spark.createDataFrame(
        [
            (0, "x0 x1 " + bench + " x2"),        # leaked benchmark
            # train-internal duplication only — must NOT be flagged
            (1, train_dup + " y0"),
            (2, train_dup + " y1"),
        ],
        ["doc_id", "text"],
    )
    ref = spark.createDataFrame(
        [(100, bench + " r0 r1")], ["doc_id", "text"]
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_len"], r["n_grams"])
        for r in cross_corpus_spans(train, ref, k=4).collect()
    }
    assert spans == {0: (2, 6, 3)}
    got = {
        r["doc_id"]: r
        for r in strip_cross_corpus_spans(train, ref, k=4).collect()
    }
    assert got[0]["text"] == "x0 x1 x2"
    assert (got[0]["n_removed"], got[0]["n_spans"]) == (6, 1)
    assert got[1]["n_removed"] == 0 and got[2]["n_removed"] == 0
    assert set(got) == {0, 1, 2}  # reference docs never scored


def test_connected_components_materializes_edges_once(spark):
    """r12 optimization pin: the symmetric edge list is cut from its
    lineage before the label loop, so the caller's (possibly very
    expensive) pair pipeline executes exactly once — iterations read
    executor-local blocks. The accumulator counts evaluations of the
    edge source: 2 x 60 rows (one per union side) at materialization,
    and nothing more across the loop's joins."""
    from pyspark.sql import functions as F

    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf("long")
    def bump(s):
        acc.add(len(s))
        return s

    base = spark.range(0, 60, 1, 4)
    edges = base.select(
        bump("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = ops.connected_components(edges).collect()
    assert {r["component"] for r in out} == {0}  # one 61-node chain
    assert acc.value == 120  # 2 union branches x 60 rows, exactly once


def test_unigram_train_scans_corpus_once(spark):
    """r12 optimization pin: unigram_train's word-type table is cut
    from its lineage, so the corpus text is read once per fit — the
    seed's collect and the E-step re-read the cached types, not the
    corpus."""
    from pyspark.sql import functions as F

    from torcharrow_spark.functions.unigram import unigram_train

    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf("string")
    def bump(s):
        acc.add(len(s))
        return s

    df = spark.createDataFrame(
        [(i, "the theatre heats the heather " * 3) for i in range(10)],
        "doc_id long, text string",
    ).select("doc_id", bump("text").alias("text"))
    vocab = unigram_train(df)
    assert vocab and all(isinstance(c, int) for c in vocab.values())
    assert acc.value == 10  # corpus text evaluated exactly once
