"""Golden translation corpus for the PG dialect.

``dialect_golden.jsonl`` holds one JSON object per line: an input
``sql`` and its ``column_types`` (as the dialect tests and the guarded
gate statements hand them to ``to_spark_sql``), plus either the emitted
``out`` text or the ``error`` the translation raised. Gate statements
also carry their registry ``name``. A change in emitted text therefore
shows up as a reviewable diff of the data file.

After a reviewed change to the dialect, re-record the outputs with::

    python tests/test_dialect_golden.py
"""

from __future__ import annotations

import json
import os
import sys

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "dialect_golden.jsonl")


def _translate(entry: dict) -> dict:
    from gfw_data_api_spark.sql.dialect import to_spark_sql

    try:
        return {"out": to_spark_sql(entry["sql"], column_types=entry["column_types"])}
    except Exception as e:  # noqa: BLE001 - the error text is the record
        return {"error": f"{type(e).__name__}: {e}"}


def _load() -> list[dict]:
    with open(GOLDEN, encoding="utf-8") as f:
        return [json.loads(line) for line in f]


def test_translation_matches_golden_corpus():
    entries = _load()
    assert len(entries) > 1000
    bad = []
    for n, entry in enumerate(entries, 1):
        want = {k: entry[k] for k in ("out", "error") if k in entry}
        got = _translate(entry)
        if got != want:
            bad.append(f"line {n}: {entry['sql'][:120]!r}\n  want {want}\n  got  {got}")
    assert not bad, f"{len(bad)} of {len(entries)} translations changed:\n" + "\n".join(bad[:10])


def test_gate_output_stays_a_small_multiple_of_input():
    """Emitted SQL of every gate statement stays within 8x its input
    (q62, whose age() calls once inlined every operand over a hundred
    times, within 3x): an expansion that repeats its operands shows up
    here before Catalyst pays for it."""
    from gfw_data_api_spark.sql.dialect import to_spark_sql

    gates = [e for e in _load() if "name" in e]
    assert len(gates) == 59
    ratio = {
        e["name"]: len(to_spark_sql(e["sql"], column_types=e["column_types"])) / len(e["sql"])
        for e in gates
    }
    assert ratio["q62_age_function"] <= 3, ratio["q62_age_function"]
    too_big = {name: round(r, 2) for name, r in ratio.items() if r > 8}
    assert not too_big, too_big


def _record() -> None:
    """Rewrite every entry's output from the current dialect."""
    entries = _load()
    with open(GOLDEN, "w", encoding="utf-8") as f:
        for entry in entries:
            keep = {k: entry[k] for k in ("name", "sql", "column_types") if k in entry}
            f.write(json.dumps({**keep, **_translate(entry)}, ensure_ascii=False) + "\n")
    print(f"re-recorded {len(entries)} entries in {GOLDEN}")


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    _record()
