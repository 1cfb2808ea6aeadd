"""Untimed correctness checks against the DuckDB oracle.

Query results are compared by the canonical hash of ``tools/driver_sim.py``.
The oracle runs on the unpermuted source tables and its answers are cached
by source identity, so a query whose Spark result on permuted rows differs
from the oracle either is wrong or depends on row order; both are failures.
Exports are checked by row count and per-column sums.
"""

from __future__ import annotations

import json
import math
import os

from perfbench import inputs, workloads


class Oracle:
    def __init__(self, src: str, cache_root: str):
        self.src = src
        self.cache = os.path.join(cache_root, inputs.source_identity(self.src))
        self._con = None

    def _duck(self):
        if self._con is None:
            from tools.oracle_check import duck_connect

            self._con = duck_connect(self.src)
        return self._con

    def _cached(self, key: str, compute):
        path = os.path.join(self.cache, f"{key}.json")
        try:
            with open(path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            pass
        value = compute()
        os.makedirs(self.cache, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(value, fh)
        os.replace(tmp, path)
        return value

    def expected_hash(self, name: str) -> str:
        from torcharrow_spark.queries import ORACLES
        from tools.driver_sim import _canon, _hash

        return self._cached(
            name, lambda: _hash(_canon(self._duck().execute(ORACLES[name]).df()))
        )

    def check_query(self, name: str, pdf) -> str | None:
        """None when ``pdf`` matches the oracle, else the reason it does not."""
        from tools.driver_sim import _canon, _hash

        got = _hash(_canon(pdf))
        want = self.expected_hash(name)
        if got != want:
            return f"hash {got} != oracle {want} ({len(pdf)} rows)"
        return None

    def expected_export(self, name: str) -> dict:
        from torcharrow_spark.queries import ORACLES

        if name == "export:lineitem_numeric":
            cols, sql = workloads.LINEITEM_NUMERIC, "lineitem"
        else:
            cols = ("doc_id", "n_words", "n_tokens")
            sql = f"({ORACLES['q41_bpe_tokenize']})"
        sums = ", ".join(f"SUM({c})::DOUBLE" for c in cols)

        def compute():
            row = self._duck().execute(f"SELECT COUNT(*), {sums} FROM {sql}").fetchone()
            return {"rows": row[0], "sums": dict(zip(cols, row[1:]))}

        return self._cached(name.replace(":", "_"), compute)

    def check_export(self, name: str, rows: int, sums: dict) -> str | None:
        want = self.expected_export(name)
        if rows != want["rows"]:
            return f"{rows} rows != oracle {want['rows']}"
        for col, v in want["sums"].items():
            if not math.isclose(sums.get(col, math.nan), v, rel_tol=1e-9):
                return f"sum({col}) {sums.get(col)} != oracle {v}"
        return None
