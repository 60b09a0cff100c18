"""Output checks, run off the timer.

A query with a registered DuckDB oracle is compared cell-exact with
``oracle.compare_frames``. A query without one must give the same row
count and content hash on every pass of the run.
"""

from __future__ import annotations

import hashlib

from kafka_streams_aggregate_spark.oracle import compare_frames, duck_con_for


def content_hash(pdf) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the canonical rows."""
    rows = sorted(map(repr, pdf[sorted(pdf.columns)].itertuples(index=False, name=None)))
    return len(pdf), hashlib.sha256("\n".join(rows).encode()).hexdigest()


class OutputChecker:
    """Checks outputs one query at a time; keeps the counts the run
    reports and the first detail line of every failure."""

    def __init__(self, sf_dir: str) -> None:
        self._con = duck_con_for(sf_dir)
        self._hashes: dict[str, tuple[int, str]] = {}
        self.checked = 0
        self.mismatches: dict[str, str] = {}

    def check(self, qd, pdf) -> bool:
        self.checked += 1
        if qd.oracle is None:
            got = content_hash(pdf)
            first = self._hashes.setdefault(qd.name, got)
            ok = got == first
            detail = f"rows-only output changed between passes: {first[0]} -> {got[0]} rows"
        else:
            res = compare_frames(qd.name, pdf, self._con.execute(qd.oracle).fetchdf())
            ok, detail = res.ok, res.detail
        if not ok:
            self.mismatches.setdefault(qd.name, detail.splitlines()[0][:200])
        return ok

    def close(self) -> None:
        self._con.close()
