"""torcharrow_spark.tuning — the published ops surface. Every documented
knob must (a) exist where the registry says, (b) carry the documented
default, and (c) actually gate its behavior."""

import inspect
import math
import os

from pyspark.sql import functions as F

from torcharrow_spark import tuning


def test_registry_structure():
    assert len(tuning.REGISTRY) >= 10
    for e in tuning.REGISTRY:
        for key in ("name", "kind", "location", "default", "effect",
                    "trade", "override"):
            assert e.get(key), (e.get("name"), key)
        assert e["kind"] in (
            "session-conf", "module-constant", "parameter", "operational",
        )
    # describe() renders every knob
    text = tuning.describe()
    for e in tuning.REGISTRY:
        assert e["name"] in text


def test_every_engine_conf_is_registered():
    """Every ``spark.torcharrow.*`` conf the package source names is a
    REGISTRY ``location``, so an undocumented knob cannot come back.
    The engine owns none today."""
    import pathlib
    import re

    root = pathlib.Path(tuning.__file__).parent
    sources = list(root.rglob("*.py"))
    assert len(sources) > 10, "the source scan is broken"
    named = {
        m
        for f in sources
        for m in re.findall(r"spark\.torcharrow\.[A-Za-z0-9_]+", f.read_text())
    }
    registered = {e["location"] for e in tuning.REGISTRY}
    assert named <= registered, sorted(named - registered)


def test_docs_cite_only_what_exists():
    """Every ``tests/<file>.py::<name>`` that README.md and COVERAGE.md
    cite (a bare ``::<name>`` continues the last cited file) names a
    function or class in that file, by prefix when the cite ends in
    ``_`` or ``*``; and every ``*.md`` path they cite exists."""
    import ast
    import pathlib
    import re

    repo = pathlib.Path(__file__).resolve().parent.parent
    defs = {}
    missing = []
    for doc in ("README.md", "COVERAGE.md"):
        text = (repo / doc).read_text()
        cited = None
        for m in re.finditer(r"(tests/[\w/]+\.py)?::([\w*]+)", text):
            cited = m.group(1) or cited
            if cited is None or not (repo / cited).exists():
                missing.append((doc, m.group(0)))
                continue
            if cited not in defs:
                defs[cited] = {
                    n.name
                    for n in ast.walk(ast.parse((repo / cited).read_text()))
                    if isinstance(n, (ast.FunctionDef, ast.ClassDef))
                }
            name = m.group(2)
            if name.endswith(("_", "*")):
                ok = any(d.startswith(name.rstrip("*")) for d in defs[cited])
            else:
                ok = name in defs[cited]
            if not ok:
                missing.append((doc, f"{cited}::{name}"))
        missing += [
            (doc, p) for p in re.findall(r"[\w./-]+\.md\b", text)
            if not (repo / p).exists()
        ]
    assert defs, "no test cite found: the docs scan is broken"
    assert missing == [], missing


def test_constants_match_their_modules():
    """The registry imports defaults instead of transcribing them, so a
    drift here means a knob moved without its docs."""
    from torcharrow_spark.operators import dedup, similarity

    by_loc = {e["location"]: e for e in tuning.REGISTRY}
    assert (
        by_loc["operators.dedup.DEFAULT_EMIT_CHUNK"]["default"]
        == dedup.DEFAULT_EMIT_CHUNK
    )
    assert (
        by_loc["operators.dedup.DEFAULT_ELECT_THRESHOLD"]["default"]
        == dedup.DEFAULT_ELECT_THRESHOLD
    )
    assert (
        by_loc["operators.dedup.ELECT_BYTES_BOUND"]["default"]
        == dedup.ELECT_BYTES_BOUND
    )
    assert (
        by_loc["operators.similarity.AUTO_TARGET_BUCKET"]["default"]
        == similarity.AUTO_TARGET_BUCKET
    )
    from torcharrow_spark.operators import indexstore

    assert (
        by_loc["operators.indexstore.DEFAULT_KEEP_VERSIONS"]["default"]
        == indexstore.DEFAULT_KEEP_VERSIONS
    )
    from torcharrow_spark.operators import preprocess

    assert (
        by_loc[
            "operators.preprocess.AMPLIFIED_SORT_ROWS_BUDGET "
            "(+ SHINGLE_ROWS_PER_INPUT_BYTE)"
        ]["default"]
        == preprocess.AMPLIFIED_SORT_ROWS_BUDGET
    )
    assert (
        by_loc["operators.similarity._MAX_PERTURB_PLANES"]["default"]
        == similarity._MAX_PERTURB_PLANES
    )
    # parameter-kind knobs: the documented default is the live
    # signature default
    sig = inspect.signature(dedup.simhash_auto_bits)
    assert sig.parameters["target_bucket"].default == 256
    sig = inspect.signature(dedup._emit_pairs)
    assert sig.parameters["chunk"].default == dedup.DEFAULT_EMIT_CHUNK
    assert (
        sig.parameters["elect_threshold"].default
        == dedup.DEFAULT_ELECT_THRESHOLD
    )
    assert sig.parameters["member_bytes"].default == 16
    sig = inspect.signature(similarity.cosine_pairs)
    assert sig.parameters["n_planes"].default == "auto"
    # r9 ingest knobs: registry renders the LIVE constants
    from torcharrow_spark.operators import cdc, webextract

    gate = by_loc[
        "operators.webextract.LINK_DENSITY_MAX (+ BOILERPLATE_MAX_WORDS)"
    ]
    assert gate["default"] == "{} / {}".format(
        webextract.LINK_DENSITY_MAX, webextract.BOILERPLATE_MAX_WORDS
    )
    cdc_e = by_loc["operators.cdc.DEFAULT_WINDOW (+ DEFAULT_MODULUS)"]
    assert cdc_e["default"] == "{} / {}".format(
        cdc.DEFAULT_WINDOW, cdc.DEFAULT_MODULUS
    )
    sig = inspect.signature(cdc.cdc_dedup_stats)
    assert sig.parameters["window"].default == cdc.DEFAULT_WINDOW
    assert sig.parameters["modulus"].default == cdc.DEFAULT_MODULUS
    sig = inspect.signature(webextract.html_extract)
    assert sig.parameters["drop_boilerplate"].default is True


def test_simhash_clamp_bounds_cannot_drift():
    """The r8 un-clamp to 64 bits left two prose sites still saying
    '[16, 32]'. The bounds are now module constants; this pins (a) the
    sizing function honors them, (b) the registry text and the
    simhash_pairs docstring render the LIVE values, so a future
    re-clamp cannot hide in prose."""
    from torcharrow_spark.operators import dedup

    lo, hi = dedup.SIMHASH_MIN_BITS, dedup.SIMHASH_MAX_BITS
    assert dedup.simhash_auto_bits(1) == lo
    assert dedup.simhash_auto_bits(10**12) == hi
    live = f"[{lo}, {hi}]"
    entry = next(
        e for e in tuning.REGISTRY if e["name"] == "simhash auto-sizing target"
    )
    assert live in entry["effect"]
    assert "[16, 32]" not in entry["effect"]
    doc = dedup.simhash_pairs.__doc__
    assert live in doc
    assert "[16, 32]" not in doc
    assert live in dedup.simhash_auto_bits.__doc__


def test_reliable_lineage_cut_conf(spark):
    """lineage_cut stores its block by what the context offers:
    localCheckpoint while no checkpoint directory is set, reliable
    checkpoint() files under the directory once one is. The directory
    cannot be unset on a live context, so that half runs in its own
    driver process."""
    import subprocess
    import sys

    from torcharrow_spark.operators.preprocess import lineage_cut

    assert not spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    out = lineage_cut(spark.range(100), eager=True)
    assert out.count() == 100
    assert out._jdf.queryExecution().logical().rdd().isLocallyCheckpointed()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _RELIABLE_CUT_PROBE], cwd=repo,
        env=dict(os.environ, SPARK_DRIVER_MEMORY="1g"),
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.split()[-1] == "ok", proc.stdout[-2000:]


_RELIABLE_CUT_PROBE = """
import os, tempfile
import torcharrow_spark as ts
from torcharrow_spark.operators.preprocess import lineage_cut
spark = ts.get_session("reliable-cut-probe")
with tempfile.TemporaryDirectory() as ckpt:
    spark.sparkContext.setCheckpointDir(ckpt)
    out = lineage_cut(spark.range(100), eager=True)
    assert out.count() == 100
    assert any(fs for _, _, fs in os.walk(ckpt)), "no checkpoint files"
    spark.stop()
print("ok")
"""


def test_bytes_bound_arithmetic():
    """Effective election onset = min(member threshold, bytes bound /
    member width): narrow members keep the member onset exactly, wide
    members elect earlier (the dim-64 and dim-1024 examples the
    registry documents)."""
    from torcharrow_spark.operators.dedup import (
        DEFAULT_ELECT_THRESHOLD,
        ELECT_BYTES_BOUND,
    )

    def effective(member_bytes):
        return min(
            DEFAULT_ELECT_THRESHOLD,
            max(2, ELECT_BYTES_BOUND // max(member_bytes, 1)),
        )

    assert effective(16) == DEFAULT_ELECT_THRESHOLD          # minhash keys
    assert effective(32) == DEFAULT_ELECT_THRESHOLD          # jaccard prefix
    assert 100_000 < effective(32 + 4 * 64) < 130_000        # dim-64 vectors
    assert 7_000 < effective(32 + 4 * 1024) < 9_000          # dim-1024


def test_auto_sizing_targets():
    from torcharrow_spark.operators.similarity import (
        AUTO_TARGET_BUCKET,
        auto_n_planes,
    )

    for k in (3, 8, 14):
        assert auto_n_planes(AUTO_TARGET_BUCKET * (2 ** k)) == k
        # one vector over a power-of-two boundary rounds up
        assert auto_n_planes(AUTO_TARGET_BUCKET * (2 ** k) + 1) == k + 1
    assert auto_n_planes(int(1e12)) == 30  # clamp: int bucket ids


def test_session_confs_applied(spark):
    """session.tune() must actually land the documented conf values."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    ) == str(cpus * 8)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_quantized_scan_ceiling_row():
    """r11: the N*Q*dim cost ceiling for
    the deliberate full-scan ANN path must exist as a module constant
    AND a registry row pointing at the sublinear composition."""
    from torcharrow_spark.operators import similarity
    from torcharrow_spark import tuning

    assert similarity.QUANTIZED_SCAN_NQD_CEILING > 0
    row = next(
        e for e in tuning.REGISTRY
        if e["location"] == "operators.similarity.QUANTIZED_SCAN_NQD_CEILING"
    )
    assert row["default"] == similarity.QUANTIZED_SCAN_NQD_CEILING
    assert "ivf_quantized_topk" in row["effect"]
    # the operator the ceiling points to actually exists
    assert callable(similarity.ivf_quantized_topk)
