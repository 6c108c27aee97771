#!/usr/bin/env python
"""Translation-latency microbench (VERDICT r9 #6).

Times ``to_spark_sql`` ALONE (no Spark, no execution) over every
guarded-path gate SQL in the registry — the per-request cost the API
pays before Catalyst sees the query. The pass pipeline threads one
token stream through its ~40 passes and re-tokenizes only after a
rewrite; ``tokenize_calls`` (one translation per statement) keeps that
property visible. ``max_ratio`` is the largest output/input length
ratio and ``max_ratio_statement`` the gate that has it (emitted SQL
should stay a small multiple of its input). Budget and history live in
docs/BENCH_NOTES.md.

Usage: python tools/translate_bench.py [reps]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gfw_data_api_spark import inventory  # noqa: E402
from gfw_data_api_spark.sql import dialect  # noqa: E402


def _gate_sqls() -> dict[str, str]:
    """PG SQL texts embedded in registry spark_fns (the _guarded
    closures), name → sql."""
    out: dict[str, str] = {}
    for spec in inventory._SPECS:
        fn = spec.spark_fn
        for cell in getattr(fn, "__closure__", None) or ():
            v = cell.cell_contents
            if isinstance(v, str) and v.lstrip().upper().startswith("SELECT"):
                out[spec.name] = v
                break
    return out


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    sqls = _gate_sqls()
    # sample column_types like the guarded path would derive for the
    # common tables (translation cost, not semantics, is measured)
    coltypes = {
        "event_id": "bigint", "event_type": "text", "ts": "timestamp",
        "doc_id": "bigint", "n_chars": "bigint", "lang": "text",
        "text": "text", "amount": "decimal", "o_orderdate": "date",
    }
    tokenize = dialect.tokenize
    calls = 0

    def counting_tokenize(text):
        nonlocal calls
        calls += 1
        return tokenize(text)

    # one counted translation per statement, outside the timed reps
    ratios: dict[str, float] = {}
    dialect.tokenize = counting_tokenize
    try:
        for name, sql in sqls.items():
            ratios[name] = len(dialect.to_spark_sql(sql, column_types=coltypes)) / len(sql)
    finally:
        dialect.tokenize = tokenize
    worst = max(ratios, key=ratios.get)
    times_ms: dict[str, float] = {}
    for name, sql in sorted(sqls.items()):
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            dialect.to_spark_sql(sql, column_types=coltypes)
            best = min(best, (time.perf_counter() - t0) * 1000)
        times_ms[name] = best
    vals = sorted(times_ms.values())
    p50 = statistics.median(vals)
    p95 = vals[max(0, int(round(0.95 * len(vals))) - 1)]
    print(
        json.dumps(
            {
                "n_statements": len(vals),
                "reps": reps,
                "p50_ms": round(p50, 2),
                "p95_ms": round(p95, 2),
                "max_ms": round(max(vals), 2),
                "sum_ms": round(sum(vals), 2),
                "tokenize_calls": calls,
                "max_ratio": round(ratios[worst], 2),
                "max_ratio_statement": worst,
                "slowest": sorted(
                    times_ms.items(), key=lambda kv: -kv[1]
                )[:5],
            }
        )
    )


if __name__ == "__main__":
    main()
