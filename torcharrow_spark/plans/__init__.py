"""Plan inspection helpers.

The reference has no optimizer (SURVEY §4.1) — Catalyst is ours. These
helpers make the scale-sensitive properties of a plan visible so every
operator can be audited: are filters pushed to the scan, is the read
schema pruned, how many exchanges (shuffles) does the plan contain, and
how wide are the whole-stage-codegen spans.
"""

from __future__ import annotations

import re
import typing as _ty

from pyspark.sql import DataFrame as SDF


def formatted_plan(sdf: SDF) -> str:
    return sdf._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        sdf._jdf.queryExecution(), "formatted"
    )


def plan_stats(sdf: SDF) -> _ty.Dict[str, _ty.Any]:
    """Counts of scale-relevant plan features."""
    try:
        text = formatted_plan(sdf)
    except Exception:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            sdf.explain("formatted")
        text = buf.getvalue()
    return {
        "exchanges": len(re.findall(r"\bExchange\b", text)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", text)),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", text)),
        # formatted mode annotates operators with "[codegen id : N]";
        # distinct ids == whole-stage codegen spans
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", text))),
        "pushed_filters": "PushedFilters: \\[\\]" not in text
        and "PushedFilters" in text,
        "scans": len(re.findall(r"Scan parquet", text)),
    }


def shuffle_payloads(sdf: SDF) -> _ty.List[_ty.Dict[str, _ty.Any]]:
    """One entry per Exchange in the plan: the columns that actually
    ride the shuffle (the node's Input list) and the partitioning
    expression. This is the '100 TB question' made checkable — a dedup
    whose exchange carries the document text shuffles hundreds of
    bytes per row where two hashed longs would do; tests pin that the
    payloads of the hot shuffles are narrow."""
    text = formatted_plan(sdf)
    out = []
    for m in re.finditer(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\nArguments: ([^\n]*)",
        text,
    ):
        cols = [c.strip().split("#")[0] for c in m.group(1).split(",")]
        out.append({"columns": cols, "partitioning": m.group(2)})
    return out
