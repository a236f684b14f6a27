"""Correctness gate, run after the timed loop.

Slug results are compared with their DuckDB oracle from
``registry.oracle_sql()`` under the rules of
``tools/check_correctness.py`` (imported, not copied). MapReduce word
counts are compared with the counts recorded when the text was
generated. A mismatch is returned as a problem string; the caller
counts it as a failed call.
"""

from __future__ import annotations

import glob
import json
import os

import pandas as pd


class Gate:
    def __init__(self, tables_dir: str, word_counts: dict[str, int] | None = None):
        from tools.check_correctness import duck_con

        self._con = duck_con(tables_dir)
        self._expected: dict[str, pd.DataFrame] = {}
        self._word_counts = word_counts

    def check_slug(self, slug: str, result: pd.DataFrame) -> str | None:
        from tools.check_correctness import compare

        from mapreduce_rust_spark.registry import oracle_sql

        if slug not in self._expected:
            self._expected[slug] = self._con.execute(oracle_sql()[slug]).df()
        problems = compare(slug, result, self._expected[slug])
        return "; ".join(problems) or None

    def check_wordcount(self, out_dir: str) -> str | None:
        got: dict[str, str] = {}
        for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
            with open(part) as fh:
                for line in fh:
                    rec = json.loads(line)
                    if rec["key"] in got:
                        return f"key {rec['key']!r} written twice"
                    got[rec["key"]] = rec["value"]
        want = {w: str(c) for w, c in self._word_counts.items()}
        if got == want:
            return None
        missing = sorted(want.keys() - got.keys())
        extra = sorted(got.keys() - want.keys())
        wrong = sorted(k for k in want.keys() & got.keys() if got[k] != want[k])
        return (
            f"word counts differ: {len(missing)} missing, {len(extra)} extra, "
            f"{len(wrong)} wrong (e.g. {(missing or extra or wrong)[:3]})"
        )

