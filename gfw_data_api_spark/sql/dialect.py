"""Postgres-dialect → Spark-SQL translation for the guarded query surface.

The reference executes the guarded SQL on Postgres; we execute on Spark.
The guarded dialect is small (single-table SELECT), so the translation is
a short list of surface fixes, applied token-wise on the validated SQL:

- ``expr::type`` casts → ``CAST(expr AS type)`` with a PG→Spark type map
- ``ILIKE`` is native in Spark; most scalar functions and predicates in
  the dialect (Q2-Q11 in SURVEY.md §2.1) are ANSI and shared.

PG functions with no Spark builtin (ST_*) are registered as session UDFs
by :mod:`gfw_data_api_spark.functions.geo_udfs`, so injected spatial
predicates execute verbatim.

FINDER CONTRACT: every rewrite is a *finder*,
``find(sql, tokens) -> (start, end, replacement) | None``. It returns
the FIRST edit it wants — a character span of ``sql`` and the text to
put there — or None when nothing is left to rewrite. :func:`_rewrite`
applies a finder until it returns None, then moves on to the next,
re-tokenizing only after a splice, so one token stream is threaded
through the whole pipeline (a statement no finder touches is tokenized
once). A finder must stop matching its own emission, or the driver
never reaches its fixpoint; one whose emission keeps the name it
matched tells its own emissions apart by position
(:func:`_after_last_edit`). Adding a pass means adding one finder to
:func:`_pipeline`; each public ``translate_*`` is the driver run over
that pass's finders.

LITERAL CONTRACT: PG string literals are VERBATIM
(standard_conforming_strings, the default since PG 9.1) — ``'\\s+'``
keeps its backslash — while Spark's default parser processes backslash
escapes, silently turning ``'\\s+'`` into ``'s+'``. Translation passes
therefore read and emit literal VALUES in PG's verbatim spelling, and
the last step of :func:`to_spark_sql` writes every string literal once
in Spark's default spelling (each backslash doubled, each quote
doubled), so the translated SQL runs with plain ``spark.sql`` and no
session-wide parser setting.
"""

from __future__ import annotations

import functools
import re

from gfw_data_api_spark.sql.tokenizer import tokenize

_ANSI_CONF = "spark.sql.ansi.enabled"


def require_ansi(spark) -> None:
    """PG error parity (division by zero, overflow, invalid casts all
    RAISE in Postgres) rests on Spark's ANSI mode. Spark 4 defaults it
    on, but a session that turned it off would silently convert PG
    errors into NULLs — the silent-divergence class this engine rejects
    loudly. Enforced at the shared execution chokepoint, matching the
    policy in docs/PARITY.md."""
    try:
        val = spark.conf.get(_ANSI_CONF)
    except Exception:  # pragma: no cover - conf always readable on 3.x+
        return
    if str(val).lower() != "true":
        raise ValueError(
            "gfw_data_api_spark requires spark.sql.ansi.enabled=true "
            "(PG error parity: x/0, overflow and bad casts must raise); "
            f"session has {_ANSI_CONF}={val!r}"
        )


def _interval_part_sql(n: str, unit: str) -> str:
    """One component of postgres-style interval_out: printed when
    nonzero, carrying the sign, plural unless exactly 1 and not
    negative (``negative`` is the enclosing function's parameter)."""
    return (
        f"CASE WHEN {n} = 0 THEN NULL ELSE concat(IF(negative, '-', ''), "
        f"CAST({n} AS STRING), ' {unit}', IF({n} = 1 AND NOT negative, '', 's')) END"
    )


# PG's interval rendering and age(), written once as session SQL
# functions. A SQL function binds each argument once (a Project), so an
# emitted call repeats none of its operands; the nested helpers bind
# each intermediate value the same way. Each nested call adds Catalyst
# analysis time (about 12 ms on 4 cores, Spark 4.1), so a rule used
# several times in one body is spelled there, not called. Spark keeps the session's SQL settings from
# the moment of CREATE FUNCTION, so no body may depend on one: age()
# takes TIMESTAMP_NTZ operands (cast at the call site, in the caller's
# time zone) and reads only their fields, and the functions are created
# after require_ansi has passed. Listed in dependency order;
# run_spark_sql creates them all when the last one is missing. The "_"
# prefix keeps them out of user SQL (guard blocklist).
_GFW_FUNCTIONS = (
    # magnitudes (never negative) plus one sign; the time as
    # [-]HH:MM:SS with the fraction's trailing zeros trimmed, omitted
    # when zero beside another component; 00:00:00 alone for zero; NULL
    # in, NULL out
    "_gfw_interval_text(months BIGINT, days BIGINT, micros BIGINT, "
    "negative BOOLEAN) RETURNS STRING RETURN CASE WHEN negative IS NULL "
    "THEN NULL ELSE concat_ws(' ', "
    f"{_interval_part_sql('months DIV 12', 'year')}, "
    f"{_interval_part_sql('months % 12', 'mon')}, "
    f"{_interval_part_sql('days', 'day')}, "
    "CASE WHEN micros = 0 AND (months != 0 OR days != 0) THEN NULL "
    "ELSE concat(IF(negative, '-', ''), "
    "lpad(CAST(micros DIV 3600000000L AS STRING), 2, '0'), ':', "
    "lpad(CAST(micros DIV 60000000L % 60 AS STRING), 2, '0'), ':', "
    "lpad(CAST(micros DIV 1000000L % 60 AS STRING), 2, '0'), "
    "CASE WHEN micros % 1000000L = 0 THEN '' ELSE concat('.', "
    "TRIM(TRAILING '0' FROM lpad(CAST(micros % 1000000L AS STRING), 6, "
    "'0'))) END) END) END",
    "_gfw_dt_interval_text(micros BIGINT) RETURNS STRING RETURN "
    "_gfw_interval_text(0, abs(micros) DIV 86400000000L, "
    "abs(micros) % 86400000000L, micros < 0)",
    "_gfw_ym_interval_text(months INT) RETURNS STRING RETURN "
    "_gfw_interval_text(abs(months), 0, 0, months < 0)",
    # age() follows PG's timestamp_age, which subtracts FIELDS (not
    # elapsed time) of the ordered pair g >= l: a negative time of day
    # borrows one day, a negative day count borrows the length of the
    # lesser timestamp's month, and every component takes the sign.
    # Its years-to-microseconds result fits no one Spark interval type,
    # so it is PG's text rendering (DuckDB's age() is the test twin).
    "_gfw_age_days(g TIMESTAMP_NTZ, l TIMESTAMP_NTZ, micros BIGINT, "
    "days INT, negative BOOLEAN) RETURNS STRING RETURN _gfw_interval_text("
    "(year(g) - year(l)) * 12 + month(g) - month(l) - IF(days < 0, 1, 0), "
    "days + IF(days < 0, day(last_day(l)), 0), micros, negative)",
    "_gfw_age_clock(g TIMESTAMP_NTZ, l TIMESTAMP_NTZ, micros BIGINT, "
    "negative BOOLEAN) RETURNS STRING RETURN _gfw_age_days(g, l, "
    "micros + IF(micros < 0, 86400000000L, 0), "
    "day(g) - day(l) - IF(micros < 0, 1, 0), negative)",
    "_gfw_age_ordered(g TIMESTAMP_NTZ, l TIMESTAMP_NTZ, negative BOOLEAN) "
    "RETURNS STRING RETURN _gfw_age_clock(g, l, "
    "(hour(g) - hour(l)) * 3600000000L + (minute(g) - minute(l)) * 60000000L"
    " + CAST((extract(SECOND FROM g) - extract(SECOND FROM l)) * 1000000 "
    "AS BIGINT), negative)",
    "_gfw_age(a TIMESTAMP_NTZ, b TIMESTAMP_NTZ) RETURNS STRING RETURN "
    "_gfw_age_ordered(GREATEST(a, b), LEAST(a, b), a < b)",
)
_GFW_LAST = _GFW_FUNCTIONS[-1].split("(", 1)[0]
_GFW_CALL = re.compile(r"\b_gfw_")  # not the dialect's __gfw_ lambda variables


def run_spark_sql(spark, spark_sql: str):
    """Run translated SQL: ANSI checked first, then the PG functions
    it calls created if this session lacks them (a request that calls
    none pays only the pattern test)."""
    require_ansi(spark)
    if _GFW_CALL.search(spark_sql) and not spark.catalog.functionExists(_GFW_LAST):
        for ddl in _GFW_FUNCTIONS:
            spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {ddl}")
    return spark.sql(spark_sql)


def run_pg_sql(spark, sql: str):
    """Translate a guarded PG statement and run it — the one-stop
    execution helper for translated SQL."""
    return run_spark_sql(spark, to_spark_sql(sql))


PG_TO_SPARK_TYPES: dict[str, str] = {
    "text": "STRING",
    "varchar": "STRING",
    "char": "STRING",
    "bpchar": "STRING",
    "name": "STRING",
    "uuid": "STRING",
    "json": "STRING",
    "jsonb": "STRING",
    "xml": "STRING",
    "int2": "SMALLINT",
    "smallint": "SMALLINT",
    "int4": "INT",
    "int": "INT",
    "integer": "INT",
    "int8": "BIGINT",
    "bigint": "BIGINT",
    "oid": "BIGINT",
    "float4": "FLOAT",
    "real": "FLOAT",
    "float8": "DOUBLE",
    "float": "DOUBLE",  # PG: bare float = float8 (float(n) picks width)
    "double": "DOUBLE",
    "numeric": "DECIMAL(38,10)",
    "decimal": "DECIMAL(38,10)",
    "money": "DECIMAL(38,2)",
    "bool": "BOOLEAN",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamptz": "TIMESTAMP",
    "time": "STRING",
    # PG text→bytea goes through the bytea INPUT parser: a leading \x
    # means hex octets, otherwise the escape format (plain chars =
    # their UTF-8 bytes; backslash sequences raise here, loudly).
    # Spark's string→BINARY cast is plain UTF-8, so literal \x forms
    # are special-cased in translate_pg_casts.
    "bytea": "BINARY",
}


# ---------------------------------------------------------------------------
# Rewrite machinery: the driver and the shared token matchers every
# finder is built from (see FINDER CONTRACT in the module docstring).
# ---------------------------------------------------------------------------


def _after_last_edit(find):
    """A fresh finder over ``find(sql, tokens, last)``, where ``last``
    is the start offset of its previous edit in this run (-1 before the
    first): passes whose emission keeps the name they match tell their
    own emissions apart by position."""
    last = -1

    def run(sql, tokens):
        nonlocal last
        edit = find(sql, tokens, last)
        if edit is not None:
            last = edit[0]
        return edit

    return run


def _rewrite(sql: str, finders, tokens=None):
    """Run each finder to its fixpoint, in order; ``tokens`` (when
    given) must be ``tokenize(sql)``. Returns ``(sql, tokens)`` so the
    caller can hand the current token stream on."""
    if tokens is None:
        tokens = tokenize(sql)
    for find in finders:
        while (edit := find(sql, tokens)) is not None:
            start, end, repl = edit
            sql = f"{sql[:start]}{repl}{sql[end:]}"
            tokens = tokenize(sql)
    return sql, tokens


def _is_punct(tok, value: str) -> bool:
    return tok.kind == "PUNCT" and tok.value == value


def _is_kw(tok, word: str) -> bool:
    """``tok`` is the bare keyword/identifier ``word`` (upper-case)."""
    return tok.kind == "IDENT" and tok.upper == word


def _calls(tokens, names):
    """Indices of the call sites ``name(`` whose lower-cased name is in
    ``names``, in text order."""
    for i in range(len(tokens) - 1):
        t = tokens[i]
        if (
            t.kind == "IDENT"
            and t.value.lower() in names
            and _is_punct(tokens[i + 1], "(")
        ):
            yield i


def _find_call(tokens, names):
    """Index of the first call site of one of ``names``, or None."""
    return next(_calls(tokens, names), None)


def _close(tokens, at, seps=()):
    """Match the bracket opening at ``tokens[at]`` (``(`` or ``[``; the
    depth counts both kinds). Returns ``(close_index, spans)``: the
    top-level pieces between the brackets as inclusive token-index
    pairs, split at commas and at the keywords in ``seps``
    (upper-case). An empty bracket pair has no spans; a bracket that
    never closes gives ``(None, [])``."""
    depth = 0
    for k in range(at, len(tokens)):
        t = tokens[k]
        if t.kind != "PUNCT":
            continue
        if t.value in ("(", "["):
            depth += 1
        elif t.value in (")", "]"):
            depth -= 1
            if depth == 0:
                spans = _args_spans(tokens, at + 1, k - 1, seps) if k > at + 1 else []
                return k, spans
    return None, []


def _open(tokens, k):
    """Backward twin of :func:`_close`: index of the bracket that
    ``tokens[k]`` (``)`` or ``]``) closes, or None."""
    depth = 0
    for j in range(k, -1, -1):
        t = tokens[j]
        if t.kind != "PUNCT":
            continue
        if t.value in (")", "]"):
            depth += 1
        elif t.value in ("(", "["):
            depth -= 1
            if depth == 0:
                return j
    return None


def _top_level(tokens, lo, hi):
    """Walk ``tokens[lo..hi]`` outside every bracket group, yielding
    ``(first, last)`` per item: a single token is ``(k, k)``, a bracket
    group ``(open, close)``. Stops at a group that does not close
    within the range."""
    k = lo
    while k <= hi:
        end = k
        if tokens[k].kind == "PUNCT" and tokens[k].value in ("(", "["):
            end, _ = _close(tokens, k)
            if end is None or end > hi:
                return
        yield k, end
        k = end + 1


def _span_text(sql, tokens, span) -> str:
    s, e = span
    return sql[tokens[s].start : tokens[e].end] if s <= e else ""


def _arg_texts(sql, tokens, spans) -> list[str]:
    return [_span_text(sql, tokens, sp) for sp in spans if sp[0] <= sp[1]]


def _suffix_end(tokens, close):
    """Last token of the call closing at ``tokens[close]`` together
    with its ``FILTER (WHERE …)`` and ``OVER (…)`` / ``OVER name``
    suffixes — they must stay attached when the call is wrapped."""
    n = len(tokens)
    end = close
    if end + 2 < n and _is_kw(tokens[end + 1], "FILTER") and _is_punct(tokens[end + 2], "("):
        fend, _ = _close(tokens, end + 2)
        if fend is not None:
            end = fend
    if end + 2 < n and _is_kw(tokens[end + 1], "OVER"):
        if tokens[end + 2].kind in ("IDENT", "QIDENT"):
            end += 2
        elif _is_punct(tokens[end + 2], "("):
            oend, _ = _close(tokens, end + 2)
            if oend is not None:
                end = oend
    return end


def _agg_values(agg: str, var: str) -> str:
    """Project the ``v`` field out of ``agg``, an aggregate of
    ``named_struct('v', …)`` (the NULL-keeping and ORDER BY array_agg
    recipes). An aggregate over zero input rows is NULL in PG, where
    Spark's is ``[]``; Spark plans the repeated aggregate once."""
    return f"CASE WHEN size({agg}) > 0 THEN transform({agg}, {var} -> {var}.v) END"


_INTERVAL_UNIT_MONTHS = {
    "mon": 1, "mons": 1, "month": 1, "months": 1,
    "y": 12, "yr": 12, "yrs": 12, "year": 12, "years": 12,
    "decade": 120, "decades": 120,
    "century": 1200, "centuries": 1200,
    "millennium": 12000, "millenniums": 12000, "millennia": 12000,
}
_INTERVAL_UNIT_MICROS = {
    "us": 1, "microsecond": 1, "microseconds": 1,
    "ms": 1000, "millisecond": 1000, "milliseconds": 1000,
    "s": 1_000_000, "sec": 1_000_000, "secs": 1_000_000,
    "second": 1_000_000, "seconds": 1_000_000,
    "min": 60_000_000, "mins": 60_000_000,
    "minute": 60_000_000, "minutes": 60_000_000,
    "h": 3_600_000_000, "hr": 3_600_000_000, "hrs": 3_600_000_000,
    "hour": 3_600_000_000, "hours": 3_600_000_000,
    "d": 86_400_000_000, "day": 86_400_000_000, "days": 86_400_000_000,
    "w": 604_800_000_000, "week": 604_800_000_000,
    "weeks": 604_800_000_000,
}
_INTERVAL_TIME_RE = re.compile(
    r"^([+-]?)(\d+):(\d{1,2})(?::(\d{1,2})(?:\.(\d{1,6}))?)?$"
)
_INTERVAL_NUM_RE = re.compile(r"^[+-]?\d+(\.\d+)?$")


def _parse_pg_interval(text: str) -> tuple[int, int]:
    """Parse a literal PG interval string (the ``'2 days 03:00:00'``
    word form; PG docs §8.5.4) into ``(months, total_micros)``.
    Fractional day-time quantities spill downward exactly like PG
    ('1.5 days' = 1 day 12:00:00); fractional months/years and the
    ISO-8601 'P...' form stay loud. A trailing 'ago' negates
    everything (PG). Raises ValueError on anything unrecognized."""
    toks = text.strip().lower().split()
    if not toks:
        raise ValueError("interval literal: empty string")
    if toks and toks[0].startswith("p"):
        raise ValueError(
            "interval literal: ISO-8601 'P...' form is outside the "
            "translatable subset (use the word form: '1 year 2 days')"
        )
    negate = False
    if toks and toks[-1] == "ago":
        negate = True
        toks = toks[:-1]
    months = 0
    micros = 0.0
    i = 0
    while i < len(toks):
        t = toks[i]
        m = _INTERVAL_TIME_RE.match(t)
        if m:
            sign = -1 if m.group(1) == "-" else 1
            hh, mm = int(m.group(2)), int(m.group(3))
            ss = int(m.group(4) or 0)
            frac = (m.group(5) or "").ljust(6, "0")
            us = int(frac) if frac else 0
            micros += sign * (
                hh * 3_600_000_000 + mm * 60_000_000
                + ss * 1_000_000 + us
            )
            i += 1
            continue
        if _INTERVAL_NUM_RE.match(t):
            if i + 1 >= len(toks):
                raise ValueError(
                    f"interval literal: number '{t}' has no unit"
                )
            unit = toks[i + 1]
            if unit in _INTERVAL_UNIT_MONTHS:
                if "." in t:
                    raise ValueError(
                        "interval literal: fractional month/year "
                        "quantities are outside the translatable subset"
                    )
                months += int(t) * _INTERVAL_UNIT_MONTHS[unit]
            elif unit in _INTERVAL_UNIT_MICROS:
                micros += float(t) * _INTERVAL_UNIT_MICROS[unit]
            else:
                raise ValueError(
                    f"interval literal: unknown unit '{unit}'"
                )
            i += 2
            continue
        raise ValueError(f"interval literal: unrecognized token '{t}'")
    total_us = int(round(micros))
    if negate:
        months, total_us = -months, -total_us
    return months, total_us


def _parse_pg_array_literal(s: str) -> list:
    """Parse a PG array INPUT literal (``'{a, "b,c", NULL}'``,
    ``'{{1,2},{3,4}}'`` — PG docs §8.15.2) into (possibly nested)
    element lists: str elements, None = NULL, list = sub-array.
    Supported: comma separation, double-quoted elements with
    backslash escapes, unquoted elements (trimmed; bare NULL is the
    null value), and — round-11 — multidimensional literals parsed
    recursively with PG's rectangularity rule (sibling sub-arrays
    must match in length and nesting depth; PG raises
    'multidimensional arrays must have sub-arrays with matching
    dimensions'). Loud: unterminated quotes, empty unquoted elements,
    ragged or scalar/sub-array-mixed dimensions, empty sub-arrays
    (all PG errors too)."""
    t = s.strip()
    if not (t.startswith("{") and t.endswith("}")):
        raise ValueError(
            "array literal must be brace-delimited ('{a,b}')"
        )
    n = len(t)

    def parse_group(i: int) -> tuple[list, int]:
        # t[i] == '{' on entry
        i += 1
        items: list = []
        expect = True  # an element must come next
        saw_any = False
        while i < n:
            c = t[i]
            if c.isspace():
                i += 1
                continue
            if c == "}":
                if expect and saw_any:
                    raise ValueError(
                        "empty unquoted element in array literal (PG "
                        "errors here too; quote it for an empty "
                        "string)"
                    )
                return items, i + 1
            if not expect:
                if c == ",":
                    expect = True
                    i += 1
                    continue
                raise ValueError(
                    "malformed array literal: junk adjacent to a "
                    "quoted element"
                )
            saw_any = True
            if c == "{":
                sub, i = parse_group(i)
                items.append(sub)
                expect = False
                continue
            if c == '"':
                buf: list[str] = []
                i += 1
                closed = False
                while i < n:
                    ch = t[i]
                    if ch == "\\":
                        if i + 1 >= n:
                            raise ValueError(
                                "dangling backslash in array literal"
                            )
                        buf.append(t[i + 1])
                        i += 2
                        continue
                    if ch == '"':
                        closed = True
                        i += 1
                        break
                    buf.append(ch)
                    i += 1
                if not closed:
                    raise ValueError(
                        "unterminated quoted element in array literal"
                    )
                items.append("".join(buf))
                expect = False
                continue
            # unquoted element
            ubuf: list[str] = []
            while i < n and t[i] not in ",}":
                if t[i] in '{"':
                    raise ValueError(
                        "malformed array literal: junk adjacent to a "
                        "quoted element"
                    )
                ubuf.append(t[i])
                i += 1
            v = "".join(ubuf).strip()
            if v == "":
                raise ValueError(
                    "empty unquoted element in array literal (PG "
                    "errors here too; quote it for an empty string)"
                )
            items.append(None if v.upper() == "NULL" else v)
            expect = False
        raise ValueError("unterminated array literal")

    items, end = parse_group(0)
    if t[end:].strip():
        raise ValueError(
            "malformed array literal: junk after the closing brace"
        )

    def shape(x) -> tuple:
        if not isinstance(x, list):
            return ()
        if not x:
            return (0,)
        subs = [shape(e) for e in x]
        if any(isinstance(e, list) for e in x):
            if not all(isinstance(e, list) for e in x) or len(set(subs)) != 1:
                raise ValueError(
                    "multidimensional arrays must have sub-arrays "
                    "with matching dimensions (PG errors here too)"
                )
        return (len(x),) + subs[0]

    shp = shape(items)
    if len(shp) > 1 and 0 in shp[1:]:
        raise ValueError(
            "empty sub-arrays in multidimensional array literals are "
            "outside the translatable subset"
        )
    return items


def _single_string_literal(expr_text: str) -> str | None:
    """The unquoted value when ``expr_text`` is exactly one string
    literal, optionally parenthesized (the ANSI ``CAST(x AS t)`` route
    rewrites to ``(x)::t``), else None."""
    toks = tokenize(expr_text)
    while (
        len(toks) >= 3
        and toks[0].kind == "PUNCT" and toks[0].value == "("
        and toks[-1].kind == "PUNCT" and toks[-1].value == ")"
    ):
        toks = toks[1:-1]
    if len(toks) == 1 and toks[0].kind == "STRING":
        return toks[0].value
    return None


def _interval_cast_sql(literal_value: str) -> str:
    """``'...'::interval`` with a literal string → the typed Spark
    constructors (same classification as make_interval: the two ANSI
    interval families cannot combine in one value)."""
    months, total_us = _parse_pg_interval(literal_value)
    if months and total_us:
        raise ValueError(
            "interval literal mixing year/month with day-time "
            "quantities is outside the translatable subset (the two "
            "ANSI interval families cannot combine in one value)"
        )
    if months:
        return f"make_ym_interval(0, {months})"
    days, rem = divmod(abs(total_us), 86_400_000_000)
    sign = "-" if total_us < 0 else ""
    secs = rem / 1_000_000
    return (
        f"make_dt_interval({sign}{days}, 0, 0, "
        f"{sign}{secs:.6f})"
    )


def _bytea_cast_sql(operand: str, literal_value: str | None) -> str:
    """``expr::bytea`` → Spark. PG text→bytea runs the bytea INPUT
    parser (PG docs §8.4): a leading ``\\x`` means hex octets
    (whitespace permitted between digit pairs), anything else is the
    escape format where plain characters are their UTF-8 bytes and
    backslash sequences encode octets. Spark's string→BINARY cast is
    plain UTF-8, exact for the no-backslash escape-format case; the
    hex form maps to ``unhex``; backslash escape sequences raise
    loudly (PG's legacy octal escapes have no single-expression Spark
    twin — use ``decode(..., 'hex')``).

    ``literal_value`` is the unquoted string when the operand is a
    single literal — resolved at translation time, including exact
    digit-pair validation. Non-literal operands get a runtime CASE
    with the same three arms."""
    if literal_value is not None:
        v = literal_value
        if v.startswith("\\x"):
            # PG's hex_decode skips whitespace between ANY digits (so
            # '\xF F' is one pair) and raises on an odd TOTAL digit
            # count or non-hex characters — validate the same way
            # (round-11, ADVICE r10: Spark's unhex silently left-pads
            # odd-length input instead of raising)
            digits = re.sub(r"\s+", "", v[2:])
            if len(digits) % 2 or not all(
                c in "0123456789abcdefABCDEF" for c in digits
            ):
                raise ValueError(
                    "bytea hex literal: invalid hexadecimal data "
                    f"in '{v}' (odd number of digits or non-hex "
                    "characters)"
                )
            return f"unhex('{digits}')"
        if "\\" in v:
            raise ValueError(
                "bytea escape-format literal with backslash sequences "
                "is outside the translatable subset; use the \\x hex "
                "form or decode(..., 'hex')"
            )
        return f"CAST({operand} AS BINARY)"
    s = f"CAST(({operand}) AS STRING)"
    # PG hex rules at runtime (round-11, ADVICE r10): any whitespace
    # may separate digits; an odd digit count or a non-hex character
    # raises 'invalid hexadecimal data'. Spark's unhex alone is NOT
    # that check — it left-pads odd-length input ('F' → 0x0F) — so an
    # explicit validity arm runs first.
    hexsrc = f"regexp_replace(substring({s}, 3), '\\s+', '')"
    hexok = (
        f"({hexsrc} RLIKE '^[0-9a-fA-F]*$' "
        f"AND length({hexsrc}) % 2 = 0)"
    )
    # assert arms: the dummy THEN value must be NON-NULL — an inner
    # CASE whose every outcome is NULL gets constant-folded by
    # Catalyst and the assert_true silently dropped (same recipe as
    # translate_math_domain).
    return (
        f"(CASE WHEN ({operand}) IS NULL THEN CAST(NULL AS BINARY) "
        f"WHEN left({s}, 2) = '\\x' THEN "
        f"CASE WHEN NOT {hexok} THEN "
        f"CASE WHEN assert_true(false, 'bytea: invalid hexadecimal "
        f"data (odd number of digits or non-hex characters)') "
        f"IS NULL THEN CAST('' AS BINARY) END "
        f"ELSE unhex({hexsrc}) END "
        f"WHEN instr({s}, '\\') > 0 THEN "
        f"CASE WHEN assert_true(false, 'bytea: escape-format input "
        f"with backslashes is outside the translatable subset; use "
        f"the \\x hex form') IS NULL THEN CAST('' AS BINARY) END "
        f"ELSE CAST(({operand}) AS BINARY) END)"
    )


def translate_pg_casts(sql: str) -> str:
    """Rewrite every ``operand::type`` into ``CAST(operand AS type)``.

    The operand is resolved backwards from the ``::`` token: a literal, a
    (possibly qualified) identifier, or a balanced parenthesized group with
    an optional preceding function name.
    """
    return _rewrite(sql, [_find_pg_cast])[0]


def _find_pg_cast(sql, tokens):
    cast_at = next(
        (i for i, t in enumerate(tokens) if t.kind == "OP" and t.value == "::"),
        None,
    )
    if cast_at is None or cast_at == 0 or cast_at + 1 >= len(tokens):
        return None

    type_tok = tokens[cast_at + 1]
    if type_tok.kind != "IDENT":
        return None
    type_end_idx = cast_at + 1
    type_name = type_tok.value.lower()
    # two-word types: double precision / timestamp with(out) time zone
    if type_name == "double" and type_end_idx + 1 < len(tokens) and tokens[
        type_end_idx + 1
    ].value.lower() == "precision":
        type_end_idx += 1
    elif type_name in ("timestamp", "time") and type_end_idx + 1 < len(tokens):
        j = type_end_idx + 1
        words = []
        while j < len(tokens) and tokens[j].kind == "IDENT" and tokens[j].value.lower() in (
            "with",
            "without",
            "time",
            "zone",
        ):
            words.append(tokens[j].value.lower())
            j += 1
        if words[:1] in (["with"], ["without"]) and words[-1:] == ["zone"]:
            type_end_idx = j - 1
    # parameterized types: numeric(p[,s]), varchar(n), char(n),
    # float(n) — consume a directly-following (int[, int]) group
    type_args: list[int] | None = None
    j = type_end_idx + 1
    if j < len(tokens) and tokens[j].kind == "PUNCT" and tokens[j].value == "(":
        vals = []
        k2 = j + 1
        well_formed = False
        while k2 < len(tokens):
            tk = tokens[k2]
            if tk.kind == "PUNCT" and tk.value == ")":
                well_formed = bool(vals)
                break
            if tk.kind == "NUMBER" and tk.value.isdigit():
                vals.append(int(tk.value))
            elif not (tk.kind == "PUNCT" and tk.value == ","):
                break
            k2 += 1
        if well_formed:
            type_args = vals
            type_end_idx = k2
    # array types: '{a,b}'::text[] — capture the element-type text
    # (with any (p,s) args) before consuming the brackets
    elem_type_text = sql[
        tokens[cast_at + 1].start : tokens[type_end_idx].end
    ]
    is_array_type = False
    # PG ignores the NUMBER of bracket pairs (int[] ≡ int[][]);
    # the literal's own nesting decides dimensionality — consume
    # every trailing [] pair (round-11)
    while (
        type_end_idx + 2 < len(tokens)
        and tokens[type_end_idx + 1].kind == "PUNCT"
        and tokens[type_end_idx + 1].value == "["
        and tokens[type_end_idx + 2].kind == "PUNCT"
        and tokens[type_end_idx + 2].value == "]"
    ):
        is_array_type = True
        type_end_idx += 2
    if type_name not in PG_TO_SPARK_TYPES and type_name != "interval":
        # Unknown PG type names used to fall through to Spark's
        # parser (CAST(x AS REGCLASS) → opaque ParseException).
        # Reject loudly, naming the vocabulary.
        raise ValueError(
            f"::{type_name} cast outside the translatable subset; "
            "supported cast targets: interval (literal strings), "
            + ", ".join(sorted(PG_TO_SPARK_TYPES))
        )
    spark_type = PG_TO_SPARK_TYPES.get(type_name, "")
    wrap = None  # (prefix, suffix) around CAST(op AS STRING)
    if type_args is None and type_name in ("char", "bpchar"):
        # PG: bare char/bpchar means char(1) — truncate AND pad —
        # not unlimited text (that's the 'name'/'text' family)
        type_args = [1]
    if type_args is not None:
        if type_name in ("numeric", "decimal") and len(type_args) <= 2:
            p = type_args[0]
            s = type_args[1] if len(type_args) == 2 else 0
            spark_type = f"DECIMAL({p},{s})"
        elif type_name == "varchar" and len(type_args) == 1:
            # PG: an explicit varchar(n) cast TRUNCATES to n chars
            # (Spark's VARCHAR(n) cast does not)
            spark_type = "STRING"
            wrap = ("substring(", f", 1, {type_args[0]})")
        elif type_name in ("char", "bpchar") and len(type_args) == 1:
            # PG: char(n) truncates AND pads to n. The padded string
            # is literal — PG's trailing-space-insensitive bpchar
            # comparisons are outside the subset (documented).
            n_chars = type_args[0]
            spark_type = "STRING"
            wrap = (
                f"rpad(substring(",
                f", 1, {n_chars}), {n_chars}, ' ')",
            )
        elif type_name == "float" and len(type_args) == 1:
            # PG: float(1..24) = real, float(25..53) = double
            spark_type = "FLOAT" if type_args[0] <= 24 else "DOUBLE"
        else:
            raise ValueError(
                f"parameterized ::{type_name}({', '.join(map(str, type_args))}) "
                "cast outside the translatable subset"
            )

    # resolve operand start, walking backwards
    prev = tokens[cast_at - 1]
    lstart = _operand_start(tokens, cast_at - 1)
    if lstart is None:
        return None
    start = tokens[lstart].start
    operand = sql[start : prev.end]
    end = tokens[type_end_idx].end
    if is_array_type:
        # PG array INPUT literal → Spark array(...) of per-element
        # casts, which the rescan of this same loop translates
        # (so numeric rounding, varchar truncation, bytea and
        # interval element semantics all apply uniformly).
        lit = _single_string_literal(operand)
        if lit is None:
            # computed operand (ARRAY[...] constructor, a column,
            # string_to_array, ...): element-wise cast — the
            # emitted ::type inside the lambda re-translates on
            # rescan with the full per-type semantics
            cast_sql = (
                f"transform(({operand}), "
                f"__gfw_e -> __gfw_e::{elem_type_text})"
            )
            return start, end, cast_sql
        elems = _parse_pg_array_literal(lit)
        if not elems:
            if not spark_type:
                raise ValueError(
                    "empty interval-array literals are outside "
                    "the translatable subset"
                )
            cast_sql = f"CAST(array() AS ARRAY<{spark_type}>)"
        else:

            def _emit_elems(es: list) -> str:
                parts = []
                for e in es:
                    if isinstance(e, list):
                        parts.append(_emit_elems(e))
                    elif e is None:
                        if type_name == "interval":
                            raise ValueError(
                                "NULL elements in interval-array "
                                "literals are outside the "
                                "translatable subset"
                            )
                        parts.append(f"NULL::{elem_type_text}")
                    else:
                        esc = e.replace("'", "''")
                        parts.append(f"'{esc}'::{elem_type_text}")
                return f"array({', '.join(parts)})"

            cast_sql = _emit_elems(elems)
        return start, end, cast_sql
    if type_name == "text":
        # interval→text (round-11, verdict r10 #9): constructor-
        # typed operands render PG-style through the session's
        # _gfw_*_interval_text functions, matching the serializers.
        # Day-time values render NORMALIZED ('26 hours' → '1 day
        # 02:00:00'; PARITY residual): the type stores one total-
        # micros count. make_interval(...) classifies first (its
        # own pass runs later in the pipeline).
        inner = _strip_outer_parens(operand)
        while inner.startswith("justify_hours(") and inner.endswith(")"):
            # identity on our representation (the justify pass
            # runs later in the pipeline) — peel it so the
            # constructor beneath still renders PG-style
            toks_j = tokenize(inner)
            if _primary_end(toks_j, 0) != len(toks_j) - 1:
                break
            inner = _strip_outer_parens(
                inner[len("justify_hours(") : -1]
            )
        if inner.startswith("make_interval("):
            inner = _rewrite_make_interval(inner)
        if inner.startswith("make_ym_interval("):
            return start, end, f"_gfw_ym_interval_text(CAST(({inner}) AS INT))"
        if inner.startswith("make_dt_interval("):
            us = f"CAST(CAST(({inner}) AS DECIMAL(28,6)) * 1000000 AS BIGINT)"
            return start, end, f"_gfw_dt_interval_text({us})"
    if type_name == "interval":
        # '2 days 03:00:00'::interval — an everyday PG idiom. The
        # literal parses AT TRANSLATION into the typed constructors
        # (collectible, comparable — see the make_interval pass);
        # computed operands stay loud (PG's interval input parser
        # at runtime has no Spark twin; use make_interval).
        lit = _single_string_literal(operand)
        if lit is None:
            raise ValueError(
                "::interval casts translate only for literal "
                "strings; use make_interval(...) for computed "
                "intervals"
            )
        return start, end, _interval_cast_sql(lit)
    if type_name == "bytea":
        cast_sql = _bytea_cast_sql(
            operand, _single_string_literal(operand)
        )
        return start, end, cast_sql
    if wrap is None and spark_type in ("SMALLINT", "INT", "BIGINT"):
        # PG numeric→int rounds HALF AWAY FROM ZERO (2.5::int = 3);
        # Spark's cast TRUNCATES. Route through DECIMAL(38,10) —
        # exact for bigint-range integers and integer strings —
        # then round. Residual boundaries (documented): PG's
        # float8→int is half-EVEN (we round half-away uniformly),
        # and bool::int raises here where PG gives 0/1.
        cast_sql = (
            f"CAST(round(CAST({operand} AS DECIMAL(38,10)), 0) "
            f"AS {spark_type})"
        )
    else:
        cast_sql = f"CAST({operand} AS {spark_type})"
    if wrap is not None:
        cast_sql = f"{wrap[0]}{cast_sql}{wrap[1]}"
    return start, end, cast_sql


_FETCH_RE = re.compile(
    r"(?:OFFSET\s+(\d+)\s+(?:ROWS?\s+)?)?"
    r"FETCH\s+(?:FIRST|NEXT)\s+(?:(\d+)\s+)?ROWS?\s+ONLY",
    re.IGNORECASE,
)
_OFFSET_ROWS_RE = re.compile(r"OFFSET\s+(\d+)\s+ROWS?\b", re.IGNORECASE)


def _outside_string_literals(sql: str, fn):
    """Apply ``fn`` to the chunks of ``sql`` outside '...' literals."""
    out, i, n = [], 0, len(sql)
    while i < n:
        q = sql.find("'", i)
        if q < 0:
            out.append(fn(sql[i:]))
            break
        out.append(fn(sql[i:q]))
        j = q + 1
        while j < n:
            if sql[j] == "'":
                if j + 1 < n and sql[j + 1] == "'":
                    j += 2
                    continue
                break
            j += 1
        out.append(sql[q : j + 1])
        i = j + 1
    return "".join(out)


def translate_fetch_first(sql: str) -> str:
    """PG/ANSI ``[OFFSET m [ROWS]] FETCH FIRST n ROWS ONLY`` → Spark's
    ``LIMIT n [OFFSET m]`` (Spark requires LIMIT before OFFSET; the
    reference's FROM-rewrite explicitly preserves FETCH tails,
    query_helpers.py:424-429, so the dialect must accept them)."""
    return _rewrite(sql, [_find_fetch_first])[0]


def _find_fetch_first(sql, tokens):
    """One whole-statement edit (the clause rewrite is regex-based and
    idempotent), or None when there is no FETCH/OFFSET ROWS tail."""

    def fix(chunk: str) -> str:
        def repl(m):
            off, count = m.group(1), m.group(2) or "1"
            return f"LIMIT {count}" + (f" OFFSET {off}" if off else "")

        chunk = _FETCH_RE.sub(repl, chunk)
        return _OFFSET_ROWS_RE.sub(lambda m: f"OFFSET {m.group(1)}", chunk)

    new = _outside_string_literals(sql, fix)
    return None if new == sql else (0, len(sql), new)


# ---------------------------------------------------------------------------
# round-6 dialect breadth (VERDICT r5 #7): the reference passes any
# single-table PG SELECT through to Postgres (app/crud/queries.py), so
# PG-isms Spark parses differently — or not at all — need surface
# translation. Probed divergences this closes:
#   ^           PG exponentiation; Spark parses it as bitwise XOR
#               (silently WRONG answers, not an error)
#   EXTRACT(DOW)    PG Sunday=0; Spark DOW is Sunday=1
#   EXTRACT(ISODOW/ISOYEAR/EPOCH)  unknown fields in Spark
#   ~ ~* !~ !~*     PG regex-match operators; Spark has RLIKE
#   SIMILAR TO      PG SQL-regex; no Spark equivalent
#   BETWEEN SYMMETRIC  PG auto-swaps bounds; Spark rejects
#   starts_with / string_to_array  PG names for startswith / split
# ---------------------------------------------------------------------------

_OPERAND_BOUNDARY = {
    "AND", "OR", "NOT", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
    "WHERE", "THEN", "ELSE", "END", "WHEN", "ASC", "DESC", "FROM", "AS",
    "UNION", "ALL", "BETWEEN", "SYMMETRIC", "IS", "IN", "LIKE", "ILIKE",
    "SIMILAR",
    "ESCAPE", "OVER", "FETCH", "ROWS", "ONLY", "NULLS", "FIRST", "LAST",
    "FILTER", "DISTINCT", "CASE", "BY", "WINDOW", "SELECT", "ON", "USING",
    "JOIN",
    # NB: LEFT/RIGHT are absent on purpose — they are also the
    # LEFT(str, n)/RIGHT(str, n) functions, and the boundary set doubles
    # as the "not a function name" test in _primary_start
}


def _is_infix_div(tokens, j):
    """True when tokens[j] is the infix ``div`` OPERATOR the typed-ops
    pass emits (a primary ends right before it) rather than the PG
    div(a, b) function name — backward operand walks must not absorb
    it as a call name."""
    return (
        tokens[j].kind == "IDENT"
        and tokens[j].upper == "DIV"
        and j >= 1
        and (
            tokens[j - 1].kind in ("QIDENT", "NUMBER", "STRING")
            or (tokens[j - 1].kind == "PUNCT" and tokens[j - 1].value == ")")
            or (
                tokens[j - 1].kind == "IDENT"
                and tokens[j - 1].upper not in _OPERAND_BOUNDARY
            )
        )
    )


def _dotted_start(tokens, k):
    """Start of the dotted name chain (``a.b."c"``) ending at
    ``tokens[k]``."""
    while (
        k >= 2
        and _is_punct(tokens[k - 1], ".")
        and tokens[k - 2].kind in ("IDENT", "QIDENT")
    ):
        k -= 2
    return k


def _operand_start(tokens, k):
    """Start of the operand ending at ``tokens[k]`` for the postfix
    rewrites (``::``, ``[i]``, ``AT TIME ZONE``): a literal, a dotted
    name, or a balanced group with its call name; None otherwise."""
    tok = tokens[k]
    if tok.kind in ("NUMBER", "STRING", "QIDENT"):
        return k
    if tok.kind == "IDENT":
        return _dotted_start(tokens, k)
    if _is_punct(tok, ")"):
        return _primary_start(tokens, k)
    return None


def _primary_start(tokens, k):
    """Index of the first token of the primary expression whose LAST
    token is ``tokens[k]`` (mirrors translate_pg_casts's backward walk):
    a literal, a dotted identifier chain, a CASE…END expression, or a
    balanced paren group with an optional function name."""
    tok = tokens[k]
    if tok.kind in ("NUMBER", "STRING", "QIDENT", "PARAM"):
        return k
    if tok.kind == "IDENT" and tok.upper == "END":
        # CASE…END operand: walk back to the matching CASE
        depth = 0
        j = k
        while j >= 0:
            if tokens[j].kind == "IDENT" and tokens[j].upper == "END":
                depth += 1
            elif tokens[j].kind == "IDENT" and tokens[j].upper == "CASE":
                depth -= 1
                if depth == 0:
                    return j
            j -= 1
        return None
    if tok.kind == "IDENT":
        return _dotted_start(tokens, k)
    if tok.kind == "PUNCT" and tok.value == ")":
        j = _open(tokens, k)
        if j is None:
            return None
        # infix ``div`` (emitted by the typed-ops pass) is an OPERATOR
        # when a primary ends right before it — not the PG div(a, b)
        # function name
        if (
            j > 0
            and tokens[j - 1].kind == "IDENT"
            and tokens[j - 1].upper not in _OPERAND_BOUNDARY
            and not _is_infix_div(tokens, j - 1)
        ):
            j -= 1  # function call: include the name
        return j
    return None


def _primary_end(tokens, k):
    """Index of the LAST token of the primary expression starting at
    ``tokens[k]`` (forward twin of :func:`_primary_start`); allows a
    leading unary sign."""
    n = len(tokens)
    while k < n and tokens[k].kind == "OP" and tokens[k].value in "+-":
        k += 1
    if k >= n:
        return None
    tok = tokens[k]
    if tok.kind in ("NUMBER", "STRING", "QIDENT", "PARAM"):
        return k
    if tok.kind == "IDENT" and tok.upper == "CASE":
        # CASE…END operand: walk forward to the matching END
        depth = 0
        while k < n:
            if tokens[k].kind == "IDENT" and tokens[k].upper == "CASE":
                depth += 1
            elif tokens[k].kind == "IDENT" and tokens[k].upper == "END":
                depth -= 1
                if depth == 0:
                    return k
            k += 1
        return None
    if tok.kind == "IDENT":
        while (
            k + 2 < n
            and tokens[k + 1].kind == "PUNCT"
            and tokens[k + 1].value == "."
            and tokens[k + 2].kind in ("IDENT", "QIDENT")
        ):
            k += 2
        if k + 1 < n and tokens[k + 1].kind == "PUNCT" and tokens[k + 1].value == "(":
            k += 1
        else:
            return k
        tok = tokens[k]
    if tok.kind == "PUNCT" and tok.value == "(":
        return _close(tokens, k)[0]
    return None


def _absorb_concat_left(tokens, lstart):
    """PG puts ``||`` in the same left-assoc precedence tier as the
    regex/SIMILAR TO/json operators, so in ``a || b ~ 'p'`` the WHOLE
    concatenation is the operand. Given the start index of the primary
    immediately left of such an operator, walk further left across any
    ``||`` chain and return the start of the full concatenation."""
    while (
        lstart >= 2
        and tokens[lstart - 1].kind == "OP"
        and tokens[lstart - 1].value == "||"
    ):
        prev = _primary_start(tokens, lstart - 2)
        if prev is None:
            break
        lstart = prev
    return lstart


def _absorb_cast_left(tokens, lstart):
    """``::`` binds tighter than the json operators, so in
    ``props::jsonb ->> 'k'`` the operand is the whole cast — but
    ``_primary_start`` lands on the TYPE ident. Walk back across
    ``::type`` suffixes (chains too: ``x::text::jsonb``)."""
    while (
        lstart >= 2
        and tokens[lstart - 1].kind == "OP"
        and tokens[lstart - 1].value == "::"
    ):
        prev = _primary_start(tokens, lstart - 2)
        if prev is None:
            break
        lstart = prev
    return lstart


def _absorb_operand_left(tokens, lstart):
    """Full left-operand widening for the json/regex operator tier:
    interleave cast-suffix and ``||``-chain absorption to a fixpoint
    (``a::jsonb || b::jsonb ->> 'k'`` needs both, repeatedly)."""
    while True:
        new = _absorb_concat_left(tokens, _absorb_cast_left(tokens, lstart))
        if new == lstart:
            return lstart
        lstart = new


def _absorb_cast_right(tokens, rend):
    """Forward twin of :func:`_absorb_cast_left` for right operands:
    extend the primary across trailing ``::type`` suffixes so
    ``'{..}' <@ props::jsonb`` consumes the cast instead of leaving
    ``::jsonb`` dangling after the rewrite."""
    while (
        rend + 2 < len(tokens)
        and tokens[rend + 1].kind == "OP"
        and tokens[rend + 1].value == "::"
        and tokens[rend + 2].kind == "IDENT"
    ):
        rend += 2
    return rend


def translate_caret_power(sql: str) -> str:
    """PG ``a ^ b`` is exponentiation; Spark parses ``^`` as bitwise
    XOR — silently wrong values, not a parse error. Rewrite to
    ``POWER(a, b)``, left-associatively like PG, taking one tight
    primary on each side (PG gives ``^`` higher precedence than ``*``),
    and folding a genuinely unary sign into the left operand (PG binds
    unary minus tighter than ``^``)."""
    return _rewrite(sql, [_find_caret_power])[0]


def _find_caret_power(sql, tokens):
    idx = next(
        (i for i, t in enumerate(tokens) if t.kind == "OP" and t.value == "^"),
        None,
    )
    if idx is None or idx == 0 or idx + 1 >= len(tokens):
        return None
    lstart = _primary_start(tokens, idx - 1)
    rend = _primary_end(tokens, idx + 1)
    if lstart is None or rend is None:
        return None
    if lstart > 0 and tokens[lstart - 1].kind == "OP" and tokens[lstart - 1].value in "+-":
        prev2 = tokens[lstart - 2] if lstart >= 2 else None
        if (
            prev2 is None
            or prev2.kind == "OP"
            or (prev2.kind == "PUNCT" and prev2.value in "(,")
            or (prev2.kind == "IDENT" and prev2.upper in _OPERAND_BOUNDARY)
        ):
            lstart -= 1
    lo, hi = tokens[lstart].start, tokens[idx - 1].end
    rs, re_ = tokens[idx + 1].start, tokens[rend].end
    return lo, re_, f"POWER({sql[lo:hi]}, {sql[rs:re_]})"


_REGEX_OPS = {
    "~": ("", False),
    "~*": ("(?i)", False),
    "!~": ("", True),
    "!~*": ("(?i)", True),
}

# POSIX bracket classes (PG/POSIX ERE) → Java \p{...} equivalents.
# Both appear INSIDE a bracket expression, so a textual splice works;
# [:word:] has no single Java class and splices as two members.
_POSIX_CLASSES = {
    "alpha": "\\p{Alpha}", "digit": "\\p{Digit}", "alnum": "\\p{Alnum}",
    "upper": "\\p{Upper}", "lower": "\\p{Lower}", "space": "\\p{Space}",
    "punct": "\\p{Punct}", "blank": "\\p{Blank}", "cntrl": "\\p{Cntrl}",
    "xdigit": "\\p{XDigit}", "graph": "\\p{Graph}", "print": "\\p{Print}",
    "word": "\\p{Alnum}_",
}


def _translate_posix_classes(pat: str) -> str:
    """``[[:alpha:]]``-style POSIX classes work on PG (and DuckDB/RE2)
    but not on Java regex — which has ``\\p{Alpha}`` twins. Splice
    them wherever they appear (they are only valid inside bracket
    expressions, where the ``\\p`` forms are valid too). Unknown class
    names raise rather than passing Java a guaranteed parse error."""

    def sub(m: "re.Match[str]") -> str:
        name = m.group(1)
        if name not in _POSIX_CLASSES:
            raise ValueError(
                f"POSIX class [:{name}:] outside the translatable subset"
            )
        return _POSIX_CLASSES[name]

    return re.sub(r"\[:(\^?[a-z]+):\]", sub, pat)


# PG's default timezone-abbreviation table (share/timezone/tznames/
# Default) resolves these spellings to FIXED offsets; Spark's
# getZoneId applies Java's ZoneId.SHORT_IDS instead (PST →
# America/Los_Angeles, BST → Asia/Dhaka, IST → Asia/Kolkata, AST →
# America/Anchorage — DST-aware or continent-hopped), so passing an
# abbreviation through verbatim is a SILENT divergence. Values are the
# Spark zone strings we emit (fixed offsets; matched case-insensitively
# like PG's abbrev lookup).
_PG_TZ_ABBREVS: dict[str, str] = {
    "UT": "UTC", "UTC": "UTC", "GMT": "UTC", "Z": "UTC",
    "ZULU": "UTC", "UCT": "UTC",
    "EST": "-05:00", "EDT": "-04:00",
    "CST": "-06:00", "CDT": "-05:00",
    "MST": "-07:00", "MDT": "-06:00",
    "PST": "-08:00", "PDT": "-07:00",
    "AKST": "-09:00", "AKDT": "-08:00",
    "HST": "-10:00",
    "AST": "-04:00", "ADT": "-03:00",   # Atlantic (Java: Anchorage!)
    "NST": "-03:30", "NDT": "-02:30",
    "WET": "+00:00", "WEST": "+01:00",
    "CET": "+01:00", "CEST": "+02:00",
    "EET": "+02:00", "EEST": "+03:00",
    "BST": "+01:00",  # British Summer Time (Java: Asia/Dhaka!)
    "IST": "+02:00",  # Israel Standard Time per PG Default
    #                   (the India file overrides to +05:30; Java:
    #                   Asia/Kolkata — all three disagree)
    "JST": "+09:00", "KST": "+09:00",
    "AWST": "+08:00", "ACST": "+09:30", "ACDT": "+10:30",
    "AEST": "+10:00", "AEDT": "+11:00",
    "NZST": "+12:00", "NZDT": "+13:00",
}

# All-uppercase legacy tz-database top-level names that are NOT PG
# abbreviations: both engines fall through to the same tz database for
# these, so verbatim passthrough is exact.
_TZDB_UPPER_PASSTHROUGH = frozenset({"GB", "NZ", "PRC", "ROC", "ROK"})

_ISO_ZONE_OFFSET_RE = re.compile(r"[+-]\d{1,2}(?::\d{2}){0,2}")
_POSIX_ZONE_OFFSET_RE = re.compile(
    r"(?:UTC|GMT|UT)([+-])(\d{1,2})(?::(\d{2}))?", re.IGNORECASE
)


def _pg_zone_to_spark(zone: str) -> str:
    """PG zone-string spelling → the Spark/Java zone string with the
    same meaning. PG resolves AT TIME ZONE text through its
    abbreviation table, then the tz database, then POSIX TZ rules
    (``timestamp_zone`` → ``DecodeTimezoneName``); Java's ZoneId has
    different conventions for two whole spelling classes:

    - ``UTC+5`` / ``GMT-3`` POSIX specs: positive means WEST of
      Greenwich in PG, EAST in Java → we flip the sign and emit a bare
      offset.
    - abbreviations: PG's table is fixed offsets; Java SHORT_IDS maps
      some to DST-aware regions → we emit the PG fixed offset, and
      reject all-uppercase abbreviation-shaped spellings outside the
      table rather than risk the SHORT_IDS trap.
    - bare ISO offsets (``+05:30``): east-positive in BOTH (PG ≥ 16
      ``DecodeTimezoneName`` ISO rule; older PG rejects the spelling,
      so no PG-valid query changes meaning) → passthrough.
    - IANA names (with ``/``, incl. ``Etc/GMT+5``'s deliberate POSIX
      sign) and mixed-case legacy names (``Japan``): both engines read
      the same tz database → passthrough; unknown names raise loudly
      in Spark.
    """
    s = zone.strip()
    if not s:
        raise ValueError("AT TIME ZONE got an empty zone string")
    if _ISO_ZONE_OFFSET_RE.fullmatch(s):
        return s
    m = _POSIX_ZONE_OFFSET_RE.fullmatch(s)
    if m:
        sign, hh, mm = m.group(1), int(m.group(2)), int(m.group(3) or 0)
        if hh == 0 and mm == 0:
            return "UTC"
        flipped = "-" if sign == "+" else "+"
        return f"{flipped}{hh:02d}:{mm:02d}"
    up = s.upper()
    if up in _PG_TZ_ABBREVS:
        return _PG_TZ_ABBREVS[up]
    if "/" in s:
        return s
    if s.isalpha() and s == up and len(s) <= 5:
        if up in _TZDB_UPPER_PASSTHROUGH:
            return s
        raise ValueError(
            f"time zone abbreviation '{s}' is outside the translated "
            "PG abbreviation table (supported: "
            f"{', '.join(sorted(_PG_TZ_ABBREVS))}); Java's SHORT_IDS "
            "would silently resolve it to a different zone than "
            "PostgreSQL's fixed-offset abbreviation table"
        )
    return s


def _strip_outer_parens(text: str) -> str:
    """Peel balanced outermost parens (tokenizer-aware, so parens
    inside string literals never confuse the depth count)."""
    t = text.strip()
    while t.startswith("(") and t.endswith(")"):
        toks = tokenize(t)
        if _close(toks, 0)[0] != len(toks) - 1:
            break
        t = t[1:-1].strip()
    return t


def _find_at_time_zone(sql, tokens):
    """PG ``expr AT TIME ZONE zone`` (previously an opaque Spark
    ParseException). The engine stores PG ``timestamp`` (no tz) under
    a pinned-UTC session, so:

    - ``timestamp AT TIME ZONE z`` → timestamptz, i.e. the UTC
      instant of the z-local wall time, rendered in the UTC session →
      ``to_utc_timestamp(expr, z)``;
    - applied to a value that IS already our timestamptz emission
      (chained ``ts AT TIME ZONE 'a' AT TIME ZONE 'b'``) → PG's
      timestamptz rule, the z-local wall time →
      ``from_utc_timestamp(expr, z)``.

    The leftmost (innermost) site rewrites first, so chains resolve
    with PG's left-associative typing. Typed-literal operands
    (``timestamp '...'``) absorb their keyword."""
    at = None
    for i, t in enumerate(tokens):
        if (
            t.kind == "IDENT"
            and t.upper == "AT"
            and i + 2 < len(tokens)
            and tokens[i + 1].upper == "TIME"
            and tokens[i + 2].upper == "ZONE"
            and i > 0
            and i + 3 < len(tokens)
        ):
            at = i
            break
    if at is None:
        return None
    # zone operand: the next primary (literal / ident / call /
    # paren group)
    z = at + 3
    if tokens[z].kind in ("STRING", "QIDENT", "NUMBER", "PARAM"):
        zend = z
    elif tokens[z].kind == "IDENT":
        zend = _primary_end(tokens, z)
        if zend is None:
            zend = z
    elif _is_punct(tokens[z], "("):
        zend, _ = _close(tokens, z)
        if zend is None:
            raise ValueError("unbalanced zone expression after AT TIME ZONE")
    else:
        raise ValueError(
            "AT TIME ZONE needs a zone expression (literal, "
            "column, or parenthesized expression)"
        )
    zone = sql[tokens[z].start : tokens[zend].end]
    if zend == z and tokens[z].kind == "STRING":
        # literal zone: translate the PG spelling conventions
        # (abbreviations, POSIX sign-flips) to Java's; a
        # non-literal zone passes through and assumes IANA names
        # (documented in PARITY.md)
        mapped = _pg_zone_to_spark(tokens[z].value)
        if "'" in mapped:
            raise ValueError("zone string cannot contain quotes")
        zone = f"'{mapped}'"
    # timestamp operand: the previous primary
    k = at - 1
    prev = tokens[k]
    if prev.kind in ("NUMBER", "STRING", "QIDENT", "IDENT") or _is_punct(prev, ")"):
        j = _operand_start(tokens, k)
        if j is None:
            raise ValueError("unbalanced expression before AT TIME ZONE")
        # absorb a typed-literal keyword (timestamp '...', etc.)
        if (
            prev.kind == "STRING"
            and k >= 1
            and tokens[k - 1].kind == "IDENT"
            and tokens[k - 1].upper in ("TIMESTAMP", "DATE", "TIME")
        ):
            j = k - 1
        start = tokens[j].start
    else:
        raise ValueError(
            "AT TIME ZONE needs a simple timestamp operand "
            "(parenthesize the expression)"
        )
    operand = sql[start : prev.end]
    # paren-unwrap before the chain check: PG treats
    # (ts AT TIME ZONE 'a') AT TIME ZONE 'b' identically to the
    # unparenthesized chain, so a wrapped inner emission must
    # still be recognized as our timestamptz
    fn = (
        "from_utc_timestamp"
        if _strip_outer_parens(operand).startswith("to_utc_timestamp(")
        else "to_utc_timestamp"
    )
    repl = f"{fn}(({operand}), {zone})"
    return start, tokens[zend].end, repl


def _find_unary_math_op(sql, tokens):
    """PG's prefix math-operator spellings — ``@ x`` (absolute
    value), ``|/ x`` (square root), ``||/ x`` (cube root) — translate
    to abs/sqrt/cbrt over the following primary (round-11; previously
    opaque parse errors). ``|/`` and ``||/`` are recognized as
    ADJACENT ``|``/``||`` + ``/`` token pairs (the tokenizer has no
    multi-op entry for them); sqrt routes through the math-domain
    function so ``|/ -1`` raises like PG. The postfix/prefix
    factorial operators (``!``/``!!``) were REMOVED in PG 14 and stay
    out (use factorial())."""
    hit = None
    fn = None
    rstart = None
    for i, t in enumerate(tokens):
        if t.kind != "OP" or t.value not in ("@", "|", "||"):
            continue
        if t.value in ("|", "||"):
            if not (
                i + 1 < len(tokens)
                and tokens[i + 1].kind == "OP"
                and tokens[i + 1].value == "/"
                and tokens[i + 1].start == t.end
            ):
                continue
            operand_at = i + 2
            fname = "sqrt" if t.value == "|" else "cbrt"
        else:
            operand_at = i + 1
            fname = "abs"
        # prefix position: expression start, after an operator,
        # an opening paren, or a comma — never after a completed
        # operand (there ``@``/``|`` would be a binary use)
        if i > 0:
            prev = tokens[i - 1]
            if prev.kind in ("NUMBER", "STRING", "QIDENT", "PARAM"):
                continue
            if prev.kind == "PUNCT" and prev.value in (")", "]"):
                continue
            if prev.kind == "IDENT" and prev.upper not in _OPERAND_BOUNDARY:
                continue
        if operand_at >= len(tokens):
            continue
        hit, fn, rstart = i, fname, operand_at
        break
    if hit is None:
        return None
    rend = _primary_end(tokens, rstart)
    if rend is None:
        rend = rstart
    operand = sql[tokens[rstart].start : tokens[rend].end]
    repl = f"{fn}(({operand}))"
    return tokens[hit].start, tokens[rend].end, repl


_LIKE_OPS = {
    "~~": " LIKE ",
    "!~~": " NOT LIKE ",
    "~~*": " ILIKE ",
    "!~~*": " NOT ILIKE ",
}


def _find_like_op(sql, tokens):
    """PG's LIKE-operator spellings — ``~~`` (LIKE), ``!~~`` (NOT
    LIKE), ``~~*`` (ILIKE), ``!~~*`` (NOT ILIKE). Straight keyword
    substitution is exact: the operators share LIKE's precedence and
    both engines default to backslash escaping. Runs BEFORE
    _find_regex_op so the ``~`` regex family never sees them
    (round-10; previously an opaque Spark ParseException)."""
    for t in tokens:
        if t.kind == "OP" and t.value in _LIKE_OPS:
            return t.start, t.end, _LIKE_OPS[t.value]
    return None


def _find_like_backslash(sql, tokens):
    """PG's LIKE escape ``\\`` quotes ANY next character (``'a\\b'``
    matches ``ab``); Spark accepts it only before ``%``, ``_`` or
    ``\\`` and rejects the pattern otherwise (ESC_IN_THE_MIDDLE). In a
    constant LIKE/ILIKE pattern with no ESCAPE clause, drop the
    backslash before any other character: the same match in both."""
    for k in range(len(tokens) - 1):
        op, pat = tokens[k], tokens[k + 1]
        if not (op.kind == "IDENT" and op.upper in ("LIKE", "ILIKE") and pat.kind == "STRING"):
            continue
        if k + 2 < len(tokens) and _is_kw(tokens[k + 2], "ESCAPE"):
            continue
        fixed = re.sub(
            r"\\(.)", lambda m: m.group(0) if m.group(1) in "%_\\" else m.group(1),
            pat.value, flags=re.S,
        )
        if fixed != pat.value:
            return pat.start, pat.end, "'" + fixed.replace("'", "''") + "'"
    return None


def translate_json_agg(sql: str) -> str:
    """PG ``json_agg(x)`` / ``jsonb_agg(x)`` → ``to_json(array_agg(
    x))`` — rewritten BEFORE translate_agg_order_by so an internal
    ORDER BY rides the existing array_agg machinery, and before the
    plain-array_agg NULL fix so NULL elements survive (PG includes
    them as JSON null). Text output is COMPACT Spark JSON — the same
    documented convention the jsonb ``||``/builder surface uses (PG
    renders '[1, 2]' with spaces; PARITY). ``json_object_agg`` raises
    a named error: PG keeps DUPLICATE keys in the json text, which no
    Spark map/object emission reproduces."""
    return _rewrite(sql, [_find_json_agg])[0]


def _find_json_agg(sql, tokens):
    at = _find_call(
        tokens, ("json_agg", "jsonb_agg", "json_object_agg", "jsonb_object_agg")
    )
    if at is None:
        return None
    fname = tokens[at].value.lower()
    if fname in ("json_object_agg", "jsonb_object_agg"):
        raise ValueError(
            f"{fname}() is outside the translatable subset: PG "
            "keeps duplicate keys in the aggregated json text, "
            "which no Spark map emission reproduces; build "
            "per-row objects and json_agg them, or aggregate "
            "upstream"
        )
    close, _ = _close(tokens, at + 1)
    if close is None:
        raise ValueError(f"unbalanced {fname}(...)")
    inner = sql[tokens[at + 2].start : tokens[close - 1].end]
    # keep FILTER (WHERE ...) / OVER suffixes attached to the aggregate
    end = _suffix_end(tokens, close)
    suffix = sql[tokens[close].end : tokens[end].end]
    return tokens[at].start, tokens[end].end, f"to_json(array_agg({inner}){suffix})"


# PG 15 named regex functions that share Spark's name and semantics
# for the 2-argument form: (string, pattern) with anywhere-match /
# count / 1-based position (0 = no match) / first-match-or-NULL.
# PG's extra positional arguments (start, N, flags, subexpr) have no
# Spark twin and raise; POSIX [[:class:]] atoms in LITERAL patterns
# splice to Java \p forms exactly like the ~ operator family.
_NAMED_REGEX_FNS = ("regexp_like", "regexp_count", "regexp_instr",
                    "regexp_substr")


def _find_named_regex_fn(sql, tokens):
    for i in _calls(tokens, _NAMED_REGEX_FNS):
        close, args = _close(tokens, i + 1)
        if close is None:
            raise ValueError(f"unbalanced {tokens[i].value}(...)")
        if len(args) != 2:
            raise ValueError(
                f"{tokens[i].value.lower()} translates only the "
                "2-argument (string, pattern) form; PG's "
                "start/N/flags/subexpr arguments have no "
                "Spark twin (fold flags into the pattern, "
                "e.g. '(?i)...')"
            )
        s0, e0 = args[1]
        pat = tokens[s0]
        if s0 != e0 or pat.kind != "STRING" or "[:" not in pat.value:
            continue
        converted = _translate_posix_classes(pat.value)
        # '[:' that is not a POSIX class atom leaves nothing to splice
        if converted != pat.value:
            return pat.start, pat.end, "'" + converted.replace("'", "''") + "'"
    return None


def translate_regex_ops(sql: str) -> str:
    """PG regex-match operators → Spark RLIKE. ``a ~ p`` matches
    anywhere, exactly RLIKE's contract; ``~*`` folds case via an
    embedded ``(?i)`` (Java regex), ``!~``/``!~*`` negate. A ``~``
    with no operand to its left is PG's unary bitwise NOT, which Spark
    shares — left alone. Pattern syntax is Java regex on Spark vs
    POSIX ERE on PG: common atoms agree; POSIX ``[[:alpha:]]`` classes
    do not exist in Java and fail loudly at execution."""
    return _rewrite(sql, [_find_regex_op])[0]


def _find_regex_op(sql, tokens):
    hit = None
    for i, t in enumerate(tokens):
        if t.kind == "OP" and t.value in _REGEX_OPS and 0 < i < len(tokens) - 1:
            prev = tokens[i - 1]
            is_binary = prev.kind in ("IDENT", "QIDENT", "STRING", "NUMBER", "PARAM") or (
                prev.kind == "PUNCT" and prev.value == ")"
            )
            if t.value == "~" and not is_binary:
                continue  # unary bitwise NOT
            if prev.kind == "IDENT" and prev.upper in _OPERAND_BOUNDARY:
                continue
            hit = i
            break
    if hit is None:
        return None
    ci, neg = _REGEX_OPS[tokens[hit].value]
    lstart = _primary_start(tokens, hit - 1)
    rend = _primary_end(tokens, hit + 1)
    if lstart is None or rend is None:
        return None
    # `a || b ~ 'p'` means `(a || b) ~ 'p'` — absorb a left-side
    # concatenation chain into the operand
    lstart = _absorb_concat_left(tokens, lstart)
    left = sql[tokens[lstart].start : tokens[hit - 1].end]
    if rend == hit + 1 and tokens[rend].kind == "STRING" and "[:" in tokens[rend].value:
        # literal pattern: splice POSIX classes to Java \p forms
        lit = _translate_posix_classes(tokens[rend].value).replace("'", "''")
        right = f"'{lit}'"
    else:
        right = sql[tokens[hit + 1].start : tokens[rend].end]
    if ci:
        rx = f"CONCAT('{ci}', {right})"
    else:
        rx = right
    repl = f"({left} RLIKE {rx})"
    if neg:
        repl = f"(NOT {repl})"
    return tokens[lstart].start, tokens[rend].end, repl


def _operand_scan_end(tokens, k):
    """Last token index of the expression starting at ``tokens[k]``,
    scanning forward at paren depth 0 until a clause boundary keyword,
    a top-level comma, or an unbalanced close paren. Binary operators
    continue the expression (PG gives BETWEEN lower precedence than
    arithmetic)."""
    last = None
    for j, end in _top_level(tokens, k, len(tokens) - 1):
        t = tokens[j]
        if (t.kind == "PUNCT" and t.value in (")", ",", ";")) or (
            t.kind == "IDENT" and t.upper in _OPERAND_BOUNDARY
        ):
            break
        last = end
    return last


def _find_array_subscript(sql, tokens):
    """PG array subscripts are 1-BASED with NULL for any out-of-range
    (including zero and negative) index; Spark's native ``a[i]`` is
    0-based and ``element_at(a, -1)`` is the LAST element — both
    silent divergences (probed). ``expr[i]`` therefore becomes
    ``CASE WHEN i < 1 THEN NULL ELSE try_element_at(expr, i) END``
    (try_element_at is 1-based and NULL out-of-range, but RAISES on
    literal zero and counts from the end for negatives — the guard
    closes both). Runs AFTER _find_pg_cast so type brackets
    (``::int[]``) and ``ARRAY[...]`` constructors are already
    consumed. PG slice syntax (``a[1:3]``) raises a named error;
    non-default lower bounds ('[0:2]={...}' literals) are outside the
    subset (PARITY)."""
    at = None
    for i, t in enumerate(tokens):
        if not (t.kind == "PUNCT" and t.value == "["):
            continue
        if i == 0:
            continue
        prev = tokens[i - 1]
        # a subscript follows a completed primary; ARRAY[ is the
        # constructor spelling (consumed earlier, but guard
        # anyway)
        if prev.kind == "IDENT" and prev.upper == "ARRAY":
            continue
        if not (
            prev.kind in ("IDENT", "QIDENT")
            or (prev.kind == "PUNCT" and prev.value in (")", "]"))
        ):
            continue
        at = i
        break
    if at is None:
        return None
    close, _ = _close(tokens, at)
    if close is None:
        raise ValueError("unbalanced array subscript")
    if any(
        tokens[j].value == ":" and tokens[j].kind in ("OP", "PUNCT")
        for j, _ in _top_level(tokens, at + 1, close - 1)
    ):
        raise ValueError(
            "array slice syntax (a[lo:hi]) is outside the "
            "translatable subset; subscript single elements or "
            "use slice()-style arithmetic instead"
        )
    if close == at + 1:
        raise ValueError("empty array subscript")
    idx = sql[tokens[at + 1].start : tokens[close - 1].end]
    # operand: walk back over the previous primary
    prev = tokens[at - 1]
    # ')' or ']': a balanced group (function call, paren, or a
    # preceding subscript we already rewrote)
    if _is_punct(prev, "]"):
        j = _open(tokens, at - 1)
    elif _is_punct(prev, ")"):
        j = _primary_start(tokens, at - 1)
    else:
        j = _dotted_start(tokens, at - 1)
    if j is None:
        raise ValueError("unbalanced expression before subscript")
    start = tokens[j].start
    operand = sql[start : prev.end]
    repl = (
        f"(CASE WHEN ({idx}) < 1 THEN NULL ELSE "
        f"try_element_at(({operand}), CAST(({idx}) AS INT)) END)"
    )
    return start, tokens[close].end, repl


def translate_date_part(sql: str) -> str:
    """PG ``date_part('field', expr)`` is EXTRACT's function spelling —
    rewrite to ``EXTRACT(FIELD FROM expr)`` so :func:`translate_extract`
    applies the one field map (DOW Sunday=0, ISODOW, ISOYEAR, EPOCH).
    Untranslated, Spark's own date_part would return Sunday=1 for
    'dow' — a silent off-by-one — and reject 'epoch' on dates. The
    field must be a string literal (PG allows dynamic fields; a
    dynamic field raises loudly here)."""
    return _rewrite(sql, [_find_date_part])[0]


def _find_date_part(sql, tokens):
    i = _find_call(tokens, ("date_part",))
    if i is None:
        return None
    field_tok = tokens[i + 2]
    if field_tok.kind != "STRING":
        raise ValueError(
            "date_part requires a string-literal field "
            "(dynamic fields are not translatable)"
        )
    if not (
        i + 3 < len(tokens)
        and tokens[i + 3].kind == "PUNCT"
        and tokens[i + 3].value == ","
    ):
        raise ValueError("date_part takes (field, source)")
    close, _ = _close(tokens, i + 1)
    if close is None:
        raise ValueError("unbalanced date_part(...)")
    field = field_tok.value.strip().upper()
    if not field.isalpha():
        raise ValueError(f"date_part field {field_tok.value!r} not translatable")
    src = sql[tokens[i + 4].start : tokens[close - 1].end]
    return tokens[i].start, tokens[close].end, f"EXTRACT({field} FROM {src})"


_JSONB_MERGE_CMP = (
    "(__gfw_l, __gfw_r) -> CASE "
    "WHEN length(__gfw_l.key) < length(__gfw_r.key) THEN -1 "
    "WHEN length(__gfw_l.key) > length(__gfw_r.key) THEN 1 "
    "WHEN __gfw_l.key < __gfw_r.key THEN -1 "
    "WHEN __gfw_l.key > __gfw_r.key THEN 1 ELSE 0 END"
)


def translate_jsonb_concat(sql: str) -> str:
    """PG ``a::jsonb || b::jsonb`` MERGES (objects: right wins per
    key; output keys in jsonb storage order — length then bytes).
    Untranslated, the ``::jsonb`` casts become strings and ``||``
    silently concatenates their text. Rewrites any ``||`` whose left
    or right operand's cast chain ENDS in ``::jsonb`` (chains like
    ``x::text::jsonb`` are walked whole — ADVICE r7) into the
    object-merge expression over ``map<string, variant>``; non-object
    inputs raise AT RUN TIME via raise_error (array concatenation and
    scalar append need jsonb arrays, outside the subset). A ``||``
    where one side's chain ends ::jsonb and the other's ends in a
    DIFFERENT explicit type raises loudly — PG resolves that as text
    concatenation (or not at all), not a merge. Runs before
    translate_pg_casts (the ::jsonb markers must still be visible);
    left-assoc chains reduce pairwise."""
    return _rewrite(sql, [_find_jsonb_concat])[0]


def _final_cast(tokens, type_idx):
    """Lowercased final type name when ``tokens[type_idx]`` ends a
    ``::type`` suffix, else None."""
    if (
        type_idx >= 2
        and tokens[type_idx].kind == "IDENT"
        and tokens[type_idx - 1].kind == "OP"
        and tokens[type_idx - 1].value == "::"
    ):
        return tokens[type_idx].value.lower()
    return None


def _find_jsonb_concat(sql, tokens):
    hit = None
    for i, t in enumerate(tokens):
        if not (t.kind == "OP" and t.value == "||") or i == 0 or i + 1 >= len(tokens):
            continue
        # right operand: primary + full ::cast chain; the FINAL
        # type in the chain is what PG's operator resolution sees
        rend = _primary_end(tokens, i + 1)
        if rend is None:
            continue
        r_cast_end = _absorb_cast_right(tokens, rend)
        r_final = _final_cast(tokens, r_cast_end) if r_cast_end > rend else None
        # left operand: final type ident sits immediately left of ||
        l_final = _final_cast(tokens, i - 1)
        if "jsonb" not in (l_final, r_final):
            continue
        hit = (i, rend, r_cast_end, l_final, r_final)
        break
    if hit is None:
        return None
    i, rend, r_cast_end, l_final, r_final = hit
    for side, final in (("left", l_final), ("right", r_final)):
        if final is not None and final != "jsonb":
            raise ValueError(
                f"jsonb || with a non-jsonb ::{final} cast on the "
                f"{side} side is outside the translatable subset "
                "(PG resolves it as text concatenation, not a merge)"
            )
    # strip the final ::jsonb (consumed by the merge); inner chain
    # casts stay in the operand text for translate_pg_casts
    l_prim_end = i - 3 if l_final == "jsonb" else i - 1
    lstart = _primary_start(tokens, l_prim_end)
    if lstart is None:
        raise ValueError("cannot resolve the left operand of jsonb ||")
    lstart = _absorb_cast_left(tokens, lstart)
    lhs = sql[tokens[lstart].start : tokens[l_prim_end].end]
    r_prim_end = r_cast_end - 2 if r_final == "jsonb" else rend
    rhs = sql[tokens[i + 1].start : tokens[r_prim_end].end]
    r_end_tok = r_cast_end if r_final == "jsonb" else rend
    mx = f"from_json({lhs}, 'map<string, variant>')"
    my = f"from_json({rhs}, 'map<string, variant>')"
    merged = (
        f"to_json(map_from_entries(array_sort(concat("
        f"filter(map_entries({mx}), "
        f"__gfw_e -> NOT array_contains(map_keys({my}), __gfw_e.key)), "
        f"map_entries({my})), {_JSONB_MERGE_CMP})))"
    )
    # object guard via the map parse (NULL for non-objects) — NOT
    # Spark's json_object_keys spelling, which the round-9 SRF pass
    # owns for PG's set-returning json_object_keys
    repl = (
        f"(CASE WHEN {mx} IS NOT NULL "
        f"AND {my} IS NOT NULL THEN {merged} "
        f"ELSE raise_error('jsonb || translates only object || object "
        f"(array/scalar concatenation is outside the subset)') END)"
    )
    return tokens[lstart].start, tokens[r_end_tok].end, repl


def translate_between_symmetric(sql: str) -> str:
    """PG ``x BETWEEN SYMMETRIC a AND b`` auto-orders the bounds;
    Spark has no SYMMETRIC. Rewrite to
    ``BETWEEN least(a, b) AND greatest(a, b)``. The matching AND is
    found at paren depth 0, skipping ANDs that close nested BETWEENs."""
    return _rewrite(sql, [_find_between_symmetric])[0]


def _find_between_symmetric(sql, tokens):
    at = None
    for i, t in enumerate(tokens):
        if (
            t.kind == "IDENT"
            and t.upper == "BETWEEN"
            and i + 2 < len(tokens)
            and tokens[i + 1].kind == "IDENT"
            and tokens[i + 1].upper == "SYMMETRIC"
        ):
            at = i
            break
    if at is None:
        return None
    # BETWEEN…AND pairing: the first top-level AND not owned by a
    # nested BETWEEN
    pending = 0
    and_idx = None
    for j, _ in _top_level(tokens, at + 2, len(tokens) - 1):
        if _is_kw(tokens[j], "BETWEEN"):
            pending += 1
        elif _is_kw(tokens[j], "AND"):
            if not pending:
                and_idx = j
                break
            pending -= 1
    if and_idx is None or and_idx == at + 2:
        return None
    hi_end = _operand_scan_end(tokens, and_idx + 1)
    if hi_end is None:
        return None
    lo = sql[tokens[at + 2].start : tokens[and_idx - 1].end]
    hi = sql[tokens[and_idx + 1].start : tokens[hi_end].end]
    # NULL-bound parity: PG's expansion yields NULL when either
    # bound is NULL, but least/greatest SKIP NULLs — guard each
    # rewritten bound so a NULL bound stays NULL (and the BETWEEN
    # stays NULL), instead of silently comparing against the other
    # bound alone
    null_guard = f"WHEN ({lo}) IS NULL OR ({hi}) IS NULL THEN NULL"
    repl = (
        f"BETWEEN CASE {null_guard} ELSE least({lo}, {hi}) END "
        f"AND CASE {null_guard} ELSE greatest({lo}, {hi}) END"
    )
    return tokens[at].start, tokens[hi_end].end, repl


def _rewrite_make_interval(sql: str) -> str:
    """PG make_interval (named OR positional; both engines share
    the exact 7-slot signature years/months/weeks/days/hours/mins/
    secs, but Spark rejects named arguments). Spark's make_interval
    returns the legacy CalendarIntervalType, which WORKS consumed
    (ts + iv, casts) but CRASHES at PySpark collection
    ([NOT_IMPLEMENTED] CalendarIntervalType.fromInternal) when
    bare-projected — and CalendarInterval cannot be CAST to the ANSI
    interval types (probed: DATATYPE_MISMATCH). Classify the slots
    and emit the typed constructors instead:

    - years/months literal-zero → make_dt_interval(weeks*7 + days,
      hours, mins, secs) — DayTimeIntervalType, collects as
      timedelta;
    - weeks..secs literal-zero → make_ym_interval(years, months) —
      YearMonthIntervalType;
    - genuinely mixed → loud (PG's mixed interval spans both ANSI
      families; add the two pieces to the consumer: (ts +
      make_interval(years => 1)) + make_interval(days => 2)).

    The serializer (_interval_to_pg_text) then renders collected
    values PG-style. Rescan terminates because the emissions are
    different identifiers. Called from translate_pg_functions AND
    from translate_extract's epoch arm (extract(epoch FROM
    make_interval(...)) must classify BEFORE the epoch pass, which
    runs earlier in the pipeline)."""
    return _rewrite(sql, [_find_make_interval])[0]


def _find_make_interval(sql, tokens):
    at = _find_call(tokens, ("make_interval",))
    if at is None:
        return None
    close, args = _close(tokens, at + 1)
    if close is None:
        raise ValueError("unbalanced make_interval(...)")
    slots = ["0"] * 7
    order = ["years", "months", "weeks", "days", "hours", "mins", "secs"]
    named_seen = False
    for pos, (s0, e0) in enumerate(args):
        is_named = (
            tokens[s0].kind == "IDENT"
            and s0 + 2 <= e0
            and tokens[s0 + 1].kind == "OP"
            and tokens[s0 + 1].value == "="
            and tokens[s0 + 2].kind == "OP"
            and tokens[s0 + 2].value == ">"
        )
        if is_named:
            named_seen = True
            if tokens[s0].value.lower() not in order:
                raise ValueError(
                    "make_interval: unknown named argument "
                    f"'{tokens[s0].value}' (expected one of "
                    f"{', '.join(order)})"
                )
            slots[order.index(tokens[s0].value.lower())] = sql[
                tokens[s0 + 3].start : tokens[e0].end
            ]
        else:
            if named_seen or pos >= 7:
                raise ValueError(
                    "make_interval: positional arguments after "
                    "named ones (or more than 7) are outside the "
                    "translatable subset"
                )
            slots[pos] = sql[tokens[s0].start : tokens[e0].end]
    dt_zero = slots[0].strip() == "0" and slots[1].strip() == "0"
    ym_only = all(s.strip() == "0" for s in slots[2:])
    if dt_zero:
        days = (
            slots[3]
            if slots[2].strip() == "0"
            else f"({slots[2]}) * 7 + ({slots[3]})"
        )
        repl = (
            f"make_dt_interval({days}, {slots[4]}, {slots[5]}, "
            f"{slots[6]})"
        )
    elif ym_only:
        repl = f"make_ym_interval({slots[0]}, {slots[1]})"
    else:
        raise ValueError(
            "make_interval mixing year/month slots with day-time "
            "slots is outside the translatable subset (the two "
            "ANSI interval families cannot combine in one value); "
            "add them to the consumer separately, e.g. (ts + "
            "make_interval(years => 1)) + make_interval(days => 2)"
        )
    return tokens[at].start, tokens[close].end, repl


def translate_extract(sql: str) -> str:
    """PG EXTRACT fields Spark lacks or numbers differently:

    - ``DOW``: PG is Sunday=0..Saturday=6, Spark's DOW is Sunday=1 —
      rewritten to ``(EXTRACT(DAYOFWEEK FROM e) - 1)``
    - ``ISODOW`` → Spark ``DAYOFWEEK_ISO`` (both Monday=1)
    - ``ISOYEAR`` → Spark ``YEAROFWEEK``
    - ``EPOCH``  → ``CAST(CAST((e) AS TIMESTAMP) AS DOUBLE)`` — the
      session runs UTC, so this is PG's UTC-midnight epoch for dates
      and keeps fractional seconds for timestamps
    """
    return _rewrite(sql, [_find_extract])[0]


def _find_extract(sql, tokens):
    for i in _calls(tokens, ("extract",)):
        if i + 2 >= len(tokens):
            continue
        t, f = tokens[i], tokens[i + 2]
        field = f.upper if f.kind == "IDENT" else (
            f.value.upper() if f.kind == "STRING" else None
        )
        if field == "ISODOW":
            return f.start, f.end, "DAYOFWEEK_ISO"
        if field == "ISOYEAR":
            return f.start, f.end, "YEAROFWEEK"
        if field not in ("DOW", "EPOCH", "CENTURY", "DECADE", "MILLENNIUM"):
            continue
        close, _ = _close(tokens, i + 1)
        if close is None:
            return None
        end = tokens[close].end
        if field == "DOW":
            inner = f"{sql[t.start:f.start]}DAYOFWEEK{sql[f.end:end]}"
            return t.start, end, f"({inner} - 1)"
        if field in ("CENTURY", "DECADE", "MILLENNIUM"):
            # PG (CE dates): decade = year DIV 10; century /
            # millennium count from year 1, so 2000 is the
            # 20th century and 2001 opens the 21st
            year = f"{sql[t.start:f.start]}YEAR{sql[f.end:end]}"
            arith = {
                "DECADE": f"({year} DIV 10)",
                "CENTURY": f"(({year} + 99) DIV 100)",
                "MILLENNIUM": f"(({year} + 999) DIV 1000)",
            }[field]
            return t.start, end, arith
        from_idx = i + 3
        if not (from_idx < close and _is_kw(tokens[from_idx], "FROM")):
            return None
        expr = sql[tokens[from_idx].end : tokens[close].start].strip()
        # interval operands (round-10/11): the typed
        # interval constructors — which '...'::interval and
        # make_interval now produce — cast to DECIMAL as
        # exact total seconds; PG's epoch-of-interval
        # (interval_part, DTK_EPOCH) counts each WHOLE year
        # as 365.25 days and only the residual months at 30
        # days, with C-style truncating division/modulo for
        # negatives (DuckDB's native epoch agrees:
        # '-14 months' → -36741600). Spark's DIV / % are
        # also truncate-toward-zero / dividend-signed, so
        # the arithmetic maps 1:1. The timestamp cast would
        # fail on intervals with an opaque analysis error.
        if expr.startswith("make_interval("):
            # the make_interval pass runs LATER in the
            # pipeline; classify it now so the epoch arm
            # dispatches on the typed constructor
            expr = _rewrite_make_interval(expr)
        if expr.startswith("make_dt_interval("):
            repl = f"CAST(CAST(({expr}) AS DECIMAL(28,6)) AS DOUBLE)"
        elif expr.startswith("make_ym_interval("):
            months = f"CAST(({expr}) AS INT)"
            repl = (
                f"CAST(({months} DIV 12) * 31557600.0"
                f" + ({months} % 12) * 2592000.0 AS DOUBLE)"
            )
        else:
            repl = f"CAST(CAST(({expr}) AS TIMESTAMP) AS DOUBLE)"
        return t.start, end, repl
    return None


def _similar_to_java_regex(pat: str) -> str:
    """PG SIMILAR TO pattern → anchored Java regex: ``%`` → ``.*``,
    ``_`` → ``.``; the metachars SIMILAR TO shares with regex
    (``| * + ? ( ) { } [ ]``) pass through (bracket classes verbatim);
    everything else — including ``.``, ``^``, ``$``, which SIMILAR TO
    treats literally — is escaped. Anchoring uses ``\\A``/``\\z``
    (Java ``$`` would also match before a trailing newline)."""
    out = []
    i = 0
    in_class = False
    while i < len(pat):
        c = pat[i]
        if in_class:
            out.append(c)
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
            out.append(c)
        elif c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        elif c in "|*+?(){}":
            out.append(c)
        elif c == "\\" and i + 1 < len(pat):
            # PG SIMILAR TO: backslash escapes the next char to a
            # LITERAL — emitting '\'+char verbatim would let Java
            # reinterpret \d/\w/\b as character classes/anchors
            out.append(re.escape(pat[i + 1]))
            i += 2
            continue
        else:
            out.append(re.escape(c))
        i += 1
    return "\\A(?:" + "".join(out) + ")\\z"


def translate_similar_to(sql: str) -> str:
    """``expr [NOT] SIMILAR TO 'pattern'`` → anchored RLIKE. Patterns
    must be string literals (the conversion happens at translate time);
    anything else raises — better loud than a silently-different
    regex dialect."""
    return _rewrite(sql, [_find_similar_to])[0]


def _find_similar_to(sql, tokens):
    at = None
    for i, t in enumerate(tokens):
        if (
            t.kind == "IDENT"
            and t.upper == "SIMILAR"
            and i + 1 < len(tokens)
            and tokens[i + 1].kind == "IDENT"
            and tokens[i + 1].upper == "TO"
        ):
            at = i
            break
    if at is None:
        return None
    neg = at > 0 and tokens[at - 1].kind == "IDENT" and tokens[at - 1].upper == "NOT"
    lend = at - 2 if neg else at - 1
    if lend < 0 or at + 2 >= len(tokens):
        raise ValueError("SIMILAR TO: missing operand")
    pat_tok = tokens[at + 2]
    if pat_tok.kind != "STRING":
        raise ValueError(
            "SIMILAR TO requires a string-literal pattern "
            "(dynamic patterns are not translatable to Spark)"
        )
    lstart = _primary_start(tokens, lend)
    if lstart is None:
        raise ValueError("SIMILAR TO: unsupported left operand")
    # PG binds || tighter than SIMILAR TO: `a || b SIMILAR TO p`
    # takes the whole concatenation as the operand
    lstart = _absorb_concat_left(tokens, lstart)
    left = sql[tokens[lstart].start : tokens[lend].end]
    rx = _similar_to_java_regex(_translate_posix_classes(pat_tok.value))
    lit = rx.replace("'", "''")
    repl = f"({left} RLIKE '{lit}')"
    if neg:
        repl = f"(NOT {repl})"
    return tokens[lstart].start, pat_tok.end, repl


def translate_pg_functions(sql: str) -> str:
    """PG function names → Spark builtins:

    - ``starts_with(a, b)`` → ``startswith(a, b)``
    - ``array_to_string(arr, d [, null_str])`` → ``array_join`` (same
      argument shapes; both skip NULL elements unless the third
      argument supplies a replacement)
    - ``string_to_array(s, 'd')`` → ``CASE WHEN (s) = '' THEN
      CAST(array() AS array<string>) ELSE split(s, '\\\\Qd\\\\E') END``
      (PG returns an EMPTY array for empty input where split returns
      ``['']``; the delimiter is literal, so it is \\\\Q-quoted for
      Java regex and must itself be a string literal — else this
      raises rather than splitting on an accidental regex)
    """
    return _rewrite(sql, _PG_FUNCTION_FINDERS)[0]


def _rename_call(names, new, nargs_ok=None):
    """Finder renaming the first call of one of ``names`` to ``new``;
    with ``nargs_ok``, only calls whose argument count it accepts."""

    def find(sql, tokens):
        for i in _calls(tokens, names):
            if nargs_ok is not None:
                close, args = _close(tokens, i + 1)
                if close is None:
                    raise ValueError(f"unbalanced {tokens[i].value.lower()}(...)")
                if not nargs_ok(len(args)):
                    continue
            return tokens[i].start, tokens[i].end, new
        return None

    return find


_find_starts_with = _rename_call(("starts_with",), "startswith")
_find_array_to_string = _rename_call(("array_to_string",), "array_join")
# PG's multi-argument grouping(a, b, ...) returns the same MSB-first
# bitmask as Spark's grouping_id(a, b, ...) (probed against DuckDB's
# grouping, which shares PG's convention); Spark's own grouping() is
# single-argument only. GROUPING SETS / ROLLUP / CUBE themselves are
# Spark-native with identical semantics — no rewrite.
_find_grouping = _rename_call(("grouping",), "grouping_id", lambda n: n >= 2)
# PG single-argument log(x) is BASE 10; Spark's is natural log —
# silently different values. → log10. (Two-argument log(b, x) agrees
# in both engines and passes through; ln is natural in both.)
_find_log = _rename_call(("log",), "log10", lambda n: n == 1)


def _find_ltrim_rtrim(sql, tokens):
    # Spark's TWO-argument ltrim/rtrim take (trimStr, str) —
    # REVERSED from PG's (str, characters) — so an untranslated
    # PG call silently trims the wrong operand. Swap the args.
    # (btrim is (str, trimStr) in both engines — Spark quirk.)
    at = _find_call(tokens, ("ltrim", "rtrim"))
    if at is None:
        return None
    close, args = _close(tokens, at + 1)
    if close is None:
        raise ValueError(f"unbalanced {tokens[at].value}(...)")
    side = "LEADING" if tokens[at].upper == "LTRIM" else "TRAILING"
    if len(args) < 2:
        # 1-arg form agrees in both engines; rewriting to TRIM
        # syntax just keeps this scan from re-matching forever
        x = sql[tokens[at + 2].start : tokens[close - 1].end]
        repl = f"TRIM({side} FROM {x})"
    else:
        # TRIM syntax sidesteps Spark's reversed 2-arg argument
        # order AND terminates the rescan (no ltrim( remains)
        comma = args[-1][0] - 1
        s_text = sql[tokens[at + 2].start : tokens[comma - 1].end]
        chars = sql[tokens[comma + 1].start : tokens[close - 1].end]
        repl = f"TRIM({side} {chars} FROM {s_text})"
    return tokens[at].start, tokens[close].end, repl


def _find_array_agg_nulls(sql, tokens):
    # Round-11 (probe-found silent divergence): PG array_agg KEEPS
    # NULL values; Spark's array_agg/collect_list silently DROPS
    # them. Bare and DISTINCT calls route through a struct wrapper
    # (structs are never null) — the same recipe the ORDER BY form
    # has used since round 9. Skips our own emissions (inner
    # named_struct) so the rescan terminates.
    for at in _calls(tokens, ("array_agg",)):
        inner_start = at + 2
        distinct = ""
        if inner_start < len(tokens) and _is_kw(tokens[inner_start], "DISTINCT"):
            distinct = "DISTINCT "
            inner_start += 1
        if (
            inner_start < len(tokens)
            and tokens[inner_start].kind == "IDENT"
            and tokens[inner_start].value.lower() == "named_struct"
        ):
            continue
        close, _ = _close(tokens, at + 1)
        if close is None:
            raise ValueError("unbalanced array_agg(...)")
        inner = sql[tokens[inner_start].start : tokens[close - 1].end]
        # FILTER (WHERE ...) / OVER suffixes must stay attached to the
        # aggregate INSIDE the transform wrapper
        end = _suffix_end(tokens, close)
        suffix = sql[tokens[close].end : tokens[end].end]
        agg = f"array_agg({distinct}named_struct('v', ({inner}))){suffix}"
        return tokens[at].start, tokens[end].end, _agg_values(agg, "__ag")
    return None


def _find_degree_trig_sha(sql, tokens):
    # Round-11: PG degree-based trig (PG 12) and the core SHA
    # digests (PG 11). Degree trig emits radians composition;
    # residual documented in PARITY: PG special-cases exact
    # anchor angles (sind(30) = 0.5 exactly, tand(90) =
    # Infinity) where the float composition is a last-ulp off /
    # finite-huge. sha224/256/384/512 return bytea in PG → BINARY
    # via unhex(sha2(...)); text inputs hash their UTF-8 bytes in
    # both engines (the ::bytea text rule).
    deg_fwd = {"sind": "sin", "cosd": "cos", "tand": "tan",
               "cotd": "cot"}
    deg_inv = {"asind": "asin", "acosd": "acos", "atand": "atan"}
    shas = {"sha224": "224", "sha256": "256", "sha384": "384",
            "sha512": "512"}
    at = _find_call(tokens, {*deg_fwd, *deg_inv, *shas, "atan2d"})
    if at is None:
        return None
    fname = tokens[at].value.lower()
    close, args = _close(tokens, at + 1)
    if close is None:
        raise ValueError(f"unbalanced {fname}(...)")
    want = 2 if fname == "atan2d" else 1
    if len(args) != want:
        raise ValueError(
            f"{fname} takes exactly {want} argument"
            + ("s" if want > 1 else "")
        )
    a0 = _span_text(sql, tokens, args[0])
    if fname == "atan2d":
        a1 = _span_text(sql, tokens, args[1])
        repl = f"degrees(atan2(({a0}), ({a1})))"
    elif fname in deg_fwd:
        repl = f"{deg_fwd[fname]}(radians(({a0})))"
    elif fname in deg_inv:
        repl = f"degrees({deg_inv[fname]}(({a0})))"
    else:
        repl = f"unhex(sha2(({a0}), {shas[fname]}))"
    return tokens[at].start, tokens[close].end, repl


def _find_interval_odds(sql, tokens):
    # Round-11 interval/time odds and ends:
    # - justify_hours: folds 24 h blocks into days. Our
    #   DayTimeIntervalType stores ONE total-microsecond count, so
    #   the day/hour split exists only at rendering — which already
    #   normalizes — making justify_hours the IDENTITY on every
    #   representable value (exact; PG's result compares equal).
    # - justify_days / justify_interval: fold 30-day blocks into
    #   MONTHS — the result mixes the two ANSI interval families,
    #   which no single Spark value holds → named rejection.
    # - timeofday(): wall-clock text → named rejection (the guard
    #   rejects the clock value functions for the same reason).
    # - isfinite(x): PG's ±infinity timestamps are unrepresentable
    #   here ('infinity'::timestamp raises at the ANSI cast), so
    #   every non-NULL value is finite; NULL stays NULL (PG).
    at = _find_call(
        tokens,
        ("justify_hours", "justify_days", "justify_interval", "timeofday", "isfinite"),
    )
    if at is None:
        return None
    fname = tokens[at].value.lower()
    if fname in ("justify_days", "justify_interval"):
        raise ValueError(
            f"{fname}() folds day counts into months, mixing the "
            "year-month and day-time interval families — no "
            "single Spark value holds both (justify_hours is "
            "supported; it is exact here)"
        )
    if fname == "timeofday":
        raise ValueError(
            "timeofday() reads the server wall clock — "
            "nondeterministic under the guarded surface (the "
            "clock value functions are rejected for the same "
            "reason); use a literal timestamp"
        )
    close, args = _close(tokens, at + 1)
    if close is None:
        raise ValueError(f"unbalanced {fname}(...)")
    if len(args) != 1:
        raise ValueError(f"{fname} takes exactly one argument")
    x = _span_text(sql, tokens, args[0])
    if fname == "justify_hours":
        repl = f"({x})"
    else:  # isfinite
        repl = (
            f"(CASE WHEN ({x}) IS NULL THEN CAST(NULL AS BOOLEAN) "
            f"ELSE true END)"
        )
    return tokens[at].start, tokens[close].end, repl


def _find_format(sql, tokens):
    # PG format(template, args...) → Spark format_string for the
    # %s / %% subset (PG's %I/%L/positional %n$ raise — they need
    # identifier/literal quoting no Spark function provides)
    at = _find_call(tokens, ("format",))
    if at is None:
        return None
    tpl = tokens[at + 2]
    if tpl.kind != "STRING":
        raise ValueError(
            "format() requires a string-literal template "
            "(dynamic templates are not translatable)"
        )
    rest = re.sub(r"%%", "", tpl.value)
    bad = re.search(r"%[^s]", rest) or rest.endswith("%")
    if bad:
        raise ValueError(
            "format() specifiers beyond %s / %% are outside the "
            "translatable subset (PG %I/%L need SQL quoting)"
        )
    # round-11 (probe-found): PG renders a NULL %s argument as an
    # EMPTY string; Java's Formatter (format_string) prints the
    # literal 'null' — the same trap that bit chr() in round 10.
    # Each argument gets coalesce(CAST(.. AS STRING), '').
    close, args = _close(tokens, at + 1)
    if close is None:
        raise ValueError("unbalanced format(...)")
    parts = [_span_text(sql, tokens, args[0])]
    for span in args[1:]:
        a_text = _span_text(sql, tokens, span)
        parts.append(f"coalesce(CAST(({a_text}) AS STRING), '')")
    repl = f"format_string({', '.join(parts)})"
    return tokens[at].start, tokens[close].end, repl


def _find_to_hex(sql, tokens):
    # PG to_hex prints LOWERCASE hex; Spark's hex() is uppercase.
    # (Boundary, documented: PG's int4 to_hex(-1) is the 32-bit
    # 'ffffffff'; Spark hex is 64-bit — negatives differ.)
    at = _find_call(tokens, ("to_hex",))
    if at is None:
        return None
    close, _ = _close(tokens, at + 1)
    if close is None:
        raise ValueError("unbalanced to_hex(...)")
    x = sql[tokens[at + 2].start : tokens[close - 1].end]
    return tokens[at].start, tokens[close].end, f"lower(hex({x}))"


def _find_trunc(sql, tokens):
    # PG trunc(x[, n]) truncates numerics TOWARD ZERO; Spark's
    # trunc is date-only (a PG numeric call errors loudly there).
    # floor/ceiling over scaled DECIMALS keeps the arithmetic
    # exact; n must be an integer literal.
    at = _find_call(tokens, ("trunc",))
    if at is None:
        return None
    close, args = _close(tokens, at + 1)
    if close is None:
        raise ValueError("unbalanced trunc(...)")
    comma = args[-1][0] - 1 if len(args) > 1 else None
    if comma is None:
        x = sql[tokens[at + 2].start : tokens[close - 1].end]
        repl = (
            f"CASE WHEN ({x}) >= 0 THEN floor({x}) "
            f"ELSE ceiling({x}) END"
        )
    else:
        x = sql[tokens[at + 2].start : tokens[comma - 1].end]
        n_toks = tokens[comma + 1 : close]
        neg = False
        if len(n_toks) == 2 and n_toks[0].kind == "OP" and n_toks[0].value == "-":
            neg, n_toks = True, n_toks[1:]
        if len(n_toks) != 1 or n_toks[0].kind != "NUMBER" or not n_toks[0].value.isdigit():
            raise ValueError(
                "trunc(x, n) needs an integer-literal scale "
                "(dynamic scales are not translatable)"
            )
        n = int(n_toks[0].value)
        if neg:
            m = 10 ** n
            repl = (
                f"CASE WHEN ({x}) >= 0 THEN floor(({x}) / {m}) * {m} "
                f"ELSE ceiling(({x}) / {m}) * {m} END"
            )
        else:
            m = 10 ** n
            repl = (
                f"CASE WHEN ({x}) >= 0 THEN floor(({x}) * {m}) / {m} "
                f"ELSE ceiling(({x}) * {m}) / {m} END"
            )
    return tokens[at].start, tokens[close].end, repl


def _find_initcap(sql, tokens):
    # PG initcap uppercases a letter iff the PREVIOUS char is not
    # alphanumeric (word boundaries at every non-alnum char) —
    # Spark's initcap only breaks on whitespace ('hello-world' →
    # 'Hello-world', silently different). Rewrite to a per-char
    # fold; the round-trips through named_struct stay JVM-side.
    at = _find_call(tokens, ("initcap",))
    if at is None:
        return None
    close, _ = _close(tokens, at + 1)
    if close is None:
        raise ValueError("unbalanced initcap(...)")
    s_expr = sql[tokens[at + 2].start : tokens[close - 1].end]
    repl = (
        f"aggregate(split(lower({s_expr}), ''), "
        f"named_struct('o', '', 'p', false), "
        f"(__gfw_a, __gfw_c) -> named_struct("
        f"'o', concat(__gfw_a.o, CASE WHEN __gfw_a.p THEN __gfw_c "
        f"ELSE upper(__gfw_c) END), "
        f"'p', __gfw_c RLIKE '[\\p{{L}}\\p{{Nd}}]'), "
        f"__gfw_a -> __gfw_a.o)"
    )
    return tokens[at].start, tokens[close].end, repl


def _find_array_uuid_fn(sql, tokens):
    # round-9 array/uuid surface (silent-divergence fixes + cheap
    # renames; values probed against PG's documented behavior):
    #   array_position(a, v)  Spark returns 0 when absent, PG NULL
    #                         → nullif(..., 0). 3-arg start form
    #                         raises (Spark has no equivalent).
    #   strpos(s, sub)        PG name; Spark spells it locate with
    #                         the arguments REVERSED.
    #   array_length(a, 1)    PG returns NULL for empty arrays
    #                         (size gives 0) → nullif(size(a), 0);
    #                         only literal dimension 1 translates.
    #   array_cat(a, b)       PG treats a NULL side as absent
    #                         (array_cat(NULL, b) = b); Spark's
    #                         concat is NULL-poisoning → CASE.
    #   gen_random_uuid()     → uuid() (both random v4 text).
    at = None
    for i in _calls(
        tokens,
        ("array_position", "strpos", "array_length", "array_cat", "gen_random_uuid", "chr"),
    ):
        if (
            tokens[i].value.lower() == "array_position"
            and i >= 2
            and tokens[i - 1].value == "("
            and tokens[i - 2].kind == "IDENT"
            and tokens[i - 2].value.lower() == "nullif"
        ):
            # Rescan terminator for our own emission
            # nullif(array_position(...), 0) — but ONLY when
            # the enclosing nullif's second argument is the
            # literal 0 we emit. A user-written
            # nullif(array_position(a, v), X) with X != 0
            # still needs the inner rewrite (PG returns NULL
            # when absent; Spark returns 0).
            nclose, nargs = _close(tokens, i - 1)
            if (
                nclose is not None
                and len(nargs) == 2
                and nargs[1][0] == nargs[1][1]
                and tokens[nargs[1][0]].kind == "NUMBER"
                and tokens[nargs[1][0]].value == "0"
            ):
                continue  # already rewritten
        at = i
        break
    if at is None:
        return None
    fname = tokens[at].value.lower()
    close, args = _close(tokens, at + 1)
    if close is None:
        raise ValueError(f"unbalanced {fname}(...)")
    texts = _arg_texts(sql, tokens, args)
    if fname == "array_position":
        if len(texts) != 2:
            raise ValueError(
                "array_position with a start index is outside the "
                "translatable subset"
            )
        repl = f"nullif(array_position(({texts[0]}), ({texts[1]})), 0)"
    elif fname == "strpos":
        if len(texts) != 2:
            raise ValueError("strpos takes exactly (string, substring)")
        repl = f"locate(({texts[1]}), ({texts[0]}))"
    elif fname == "array_length":
        if len(texts) != 2:
            raise ValueError(
                "array_length takes exactly (array, dimension)"
            )
        dim = texts[1].strip()
        if dim == "1":
            repl = f"nullif(size(({texts[0]})), 0)"
        elif re.fullmatch(r"-?\d+", dim):
            # PG: arrays here are one-dimensional, and
            # array_length(a, d) for any d ≠ 1 is simply NULL.
            repl = "CAST(NULL AS INT)"
        else:
            raise ValueError(
                "array_length translates only for a literal "
                "dimension (arrays here are one-dimensional)"
            )
    elif fname == "array_cat":
        if len(texts) != 2:
            raise ValueError("array_cat takes exactly two arrays")
        a, b = texts
        repl = (
            f"(CASE WHEN ({a}) IS NULL THEN ({b}) "
            f"WHEN ({b}) IS NULL THEN ({a}) "
            f"ELSE concat(({a}), ({b})) END)"
        )
    elif fname == "chr":
        # PG chr() is the UNICODE code point (chr(955) = 'λ');
        # Spark's chr folds modulo 256 — silently different beyond
        # ASCII. Java's %c is the code-point conversion and raises
        # on invalid points like PG; chr(0) needs its own arm (a
        # valid code point, but PG forbids the null character).
        if len(texts) != 1:
            raise ValueError("chr takes exactly one argument")
        x = texts[0]
        # NULL arm first: format_string('%c', NULL) renders Java
        # Formatter's literal "null"; PG chr is strict.
        repl = (
            f"(CASE WHEN ({x}) IS NULL THEN CAST(NULL AS STRING) "
            f"WHEN ({x}) = 0 THEN CASE WHEN assert_true("
            f"false, 'null character not permitted') IS NULL "
            f"THEN '' END "
            f"ELSE format_string('%c', CAST(({x}) AS INT)) END)"
        )
    else:  # gen_random_uuid
        if texts:
            raise ValueError("gen_random_uuid takes no arguments")
        repl = "uuid()"
    return tokens[at].start, tokens[close].end, repl


def _find_age(sql, tokens):
    # PG age(): the two-argument form calls the session's _gfw_age
    # (see _GFW_FUNCTIONS), its operands cast to TIMESTAMP_NTZ here
    # so the caller's time zone picks the wall-clock fields;
    # the one-argument form is age(current_date, ts) — clock-
    # dependent, nondeterministic under the guard — and stays
    # loud with a named error.
    at = _find_call(tokens, ("age",))
    if at is None:
        return None
    close, args = _close(tokens, at + 1)
    if close is None:
        raise ValueError("unbalanced age(...)")
    if len(args) != 2:
        raise ValueError(
            "age() is supported with exactly two timestamp "
            "arguments; the one-argument form depends on the "
            "server clock (age(current_date::timestamp, x)) and "
            "is outside the deterministic guarded subset"
        )
    a1 = _span_text(sql, tokens, args[0])
    a2 = _span_text(sql, tokens, args[1])
    repl = (
        f"_gfw_age(CAST(({a1}) AS TIMESTAMP_NTZ), "
        f"CAST(({a2}) AS TIMESTAMP_NTZ))"
    )
    return tokens[at].start, tokens[close].end, repl


def _find_gcd_lcm_quote_bin(sql, tokens):
    # PG gcd/lcm (int families; Spark has neither): bounded Euclid
    # as a JVM-side aggregate fold — 92 iterations cover the
    # Fibonacci worst case for 64-bit inputs, and the fold
    # short-circuits to identity once b = 0. lcm = |a div g| * |b|
    # (ANSI multiply raises on overflow exactly where PG raises).
    # Fractional (numeric) inputs raise at the BIGINT cast — PG's
    # numeric gcd is out of the subset, loudly. quote_literal
    # doubles embedded quotes like PG (NULL in → NULL out; use PG
    # quote_nullable for the 'NULL' spelling, out of subset).
    at = _find_call(tokens, ("gcd", "lcm", "quote_literal", "date_bin"))
    if at is None:
        return None
    fname = tokens[at].value.lower()
    close, args = _close(tokens, at + 1)
    if close is None:
        raise ValueError(f"unbalanced {fname}(...)")
    texts = _arg_texts(sql, tokens, args)
    if fname == "date_bin":
        # PG 14 date_bin(stride, source, origin): bin source into
        # stride-width buckets aligned at origin, flooring toward
        # -infinity. A LITERAL day-time stride resolves to
        # microseconds at translation; the emission is exact
        # integer arithmetic (pmod gives the floored remainder for
        # negative deltas too). PG itself rejects month/year
        # strides; zero/negative strides raise like PG; computed
        # strides stay loud.
        if len(texts) != 3:
            raise ValueError(
                "date_bin takes exactly (stride, source, origin)"
            )
        st = texts[0].strip()
        # earlier passes already rewrote '…'::interval /
        # make_interval(...) strides into the typed constructors —
        # recognize our own literal emissions alongside bare
        # string-literal strides (PG coerces those to interval)
        months, stride_us = 0, None
        m_dt = re.fullmatch(
            r"make_dt_interval\((-?\d+),\s*(-?\d+),\s*(-?\d+),"
            r"\s*(-?\d+(?:\.\d+)?)\)",
            st,
        )
        if m_dt:
            stride_us = int(
                round(
                    (
                        int(m_dt.group(1)) * 86_400
                        + int(m_dt.group(2)) * 3_600
                        + int(m_dt.group(3)) * 60
                        + float(m_dt.group(4))
                    )
                    * 1_000_000
                )
            )
        elif re.fullmatch(
            r"make_ym_interval\((-?\d+),\s*(-?\d+)\)", st
        ):
            months = 1  # any ym stride: PG rejects below
        else:
            lit = (
                _single_string_literal(st[len("INTERVAL") :])
                if st.upper().startswith("INTERVAL")
                else _single_string_literal(st)
            )
            if lit is None:
                raise ValueError(
                    "date_bin translates only for a literal "
                    "interval stride"
                )
            months, stride_us = _parse_pg_interval(lit)
        if months:
            raise ValueError(
                "date_bin: timestamps cannot be binned into "
                "intervals containing months or years"
            )
        if stride_us <= 0:
            raise ValueError("date_bin: stride must be greater than zero")
        src = f"unix_micros(CAST(({texts[1]}) AS TIMESTAMP))"
        org = f"unix_micros(CAST(({texts[2]}) AS TIMESTAMP))"
        repl = (
            f"timestamp_micros({org} + ({src} - {org}) "
            f"- pmod({src} - {org}, {stride_us}))"
        )
    elif fname == "quote_literal":
        if len(texts) != 1:
            raise ValueError("quote_literal takes exactly one argument")
        x = texts[0]
        # PG also doubles backslashes and emits the E'...' form
        # when the input contains any backslash:
        # quote_literal('a\b') = E'a\\b'. The emitted '\' /'\\'
        # literals are verbatim backslashes, like every literal
        # here (LITERAL CONTRACT).
        s = f"CAST(({x}) AS STRING)"
        q = f"replace({s}, '''', '''''')"
        qb = f"replace(replace({s}, '\\', '\\\\'), '''', '''''')"
        repl = (
            f"(CASE WHEN instr({s}, '\\') > 0 "
            f"THEN 'E''' || {qb} || '''' "
            f"ELSE '''' || {q} || '''' END)"
        )
    else:
        if len(texts) != 2:
            raise ValueError(f"{fname} takes exactly two arguments")
        x, y = texts
        g = (
            f"aggregate(sequence(1, 92), "
            f"named_struct('a', abs(CAST(({x}) AS BIGINT)), "
            f"'b', abs(CAST(({y}) AS BIGINT))), "
            f"(__gfw_acc, __gfw_i) -> CASE WHEN __gfw_acc.b = 0 "
            f"THEN __gfw_acc ELSE named_struct('a', __gfw_acc.b, "
            f"'b', __gfw_acc.a % __gfw_acc.b) END, "
            f"__gfw_acc -> __gfw_acc.a)"
        )
        if fname == "gcd":
            repl = f"({g})"
        else:
            repl = (
                f"(CASE WHEN ({g}) = 0 THEN CAST(0 AS BIGINT) "
                f"ELSE abs(abs(CAST(({x}) AS BIGINT)) div ({g}) "
                f"* abs(CAST(({y}) AS BIGINT))) END)"
            )
    return tokens[at].start, tokens[close].end, repl


def _find_date_trunc(sql, tokens):
    # PG date_trunc units Spark lacks (decade/century/millennium —
    # Spark returns NULL SILENTLY for unknown units, and PG
    # centuries/millennia start at year xxx1), plus loud rejection
    # of units Spark would NULL out: PG raises 'unit not
    # recognized'. Spellings are PG's documented set (note the
    # PLURAL microseconds/milliseconds); the unit must be literal.
    at = next(
        (
            i
            for i in _calls(tokens, ("date_trunc",))
            if i + 2 < len(tokens)
            and tokens[i + 2].kind == "STRING"
            and tokens[i + 2].value.lower()
            not in (
                "second", "minute", "hour", "day", "week", "month",
                "quarter", "year",
                # our own emissions (Spark spellings) — rescan stop
                "microsecond", "millisecond",
            )
        ),
        None,
    )
    if at is None:
        return None
    close, args = _close(tokens, at + 1)
    if close is None:
        raise ValueError("unbalanced date_trunc(...)")
    if len(args) != 2:
        raise ValueError("date_trunc takes (unit, source)")
    unit = tokens[at + 2].value.lower()
    x = _span_text(sql, tokens, args[1])
    if unit == "microseconds":
        repl = f"date_trunc('MICROSECOND', {x})"
    elif unit == "milliseconds":
        repl = f"date_trunc('MILLISECOND', {x})"
    elif unit in ("decade", "century", "millennium"):
        span = {"century": 100, "millennium": 1000}.get(unit)
        if span is None:  # decades start at year xxx0
            y = f"CAST(floor(year({x}) / 10) * 10 AS INT)"
        else:  # PG centuries/millennia start at year xxx1
            y = (
                f"CAST(floor((year({x}) - 1) / {span}) * {span} "
                f"+ 1 AS INT)"
            )
        repl = f"make_timestamp({y}, 1, 1, 0, 0, 0)"
    else:
        raise ValueError(
            f"date_trunc: unit '{unit}' is not recognized (PG "
            "units: microseconds, milliseconds, second, minute, "
            "hour, day, week, month, quarter, year, decade, "
            "century, millennium)"
        )
    return tokens[at].start, tokens[close].end, repl


def _find_split_json_codec(sql, tokens):
    # round-9 breadth batch 2 (all loud UNRESOLVED before this —
    # no silent risk; semantics probed against PG's documented
    # rules):
    #   regexp_split_to_array(s, 'pat' [, 'i']) → split (Spark's
    #     split IS regex, limit -1 keeps trailing empties like PG;
    #     POSIX classes spliced for literal patterns)
    #   jsonb_typeof(j) → first-char sniff CASE (canonical jsonb:
    #     object/array/string/boolean/null/number)
    #   jsonb_array_length/json_array_length → size(from_json)
    #     with PG's RAISE on non-array (assert_true arm)
    #   encode(x, 'hex') → lower(hex(x)) (PG hex is lowercase);
    #     decode(s, 'hex') → unhex(s); other formats raise
    #     (base64: PG wraps lines at 76 chars, Spark doesn't)
    at = _find_call(tokens, ("regexp_split_to_array", "jsonb_typeof", "json_typeof", "jsonb_array_length", "json_array_length", "encode", "decode"))
    if at is None:
        return None
    fname = tokens[at].value.lower()
    close, args = _close(tokens, at + 1)
    if close is None:
        raise ValueError(f"unbalanced {fname}(...)")
    texts = _arg_texts(sql, tokens, args)
    if fname == "regexp_split_to_array":
        if len(texts) not in (2, 3):
            raise ValueError(
                "regexp_split_to_array takes (string, pattern [, flags])"
            )
        s_expr = texts[0]
        pat_span = args[1]
        prefix = ""
        if len(texts) == 3:
            ftoks = tokens[args[2][0] : args[2][1] + 1]
            if len(ftoks) != 1 or ftoks[0].kind != "STRING" or ftoks[0].value not in ("", "i"):
                raise ValueError(
                    "regexp_split_to_array flags: only 'i' translates"
                )
            prefix = "(?i)" if ftoks[0].value == "i" else ""
        ptoks = tokens[pat_span[0] : pat_span[1] + 1]
        if len(ptoks) == 1 and ptoks[0].kind == "STRING":
            lit = _translate_posix_classes(ptoks[0].value)
            lit = (prefix + lit).replace("'", "''")
            pat = f"'{lit}'"
        else:
            if prefix:
                raise ValueError(
                    "regexp_split_to_array flags need a literal pattern"
                )
            pat = sql[tokens[pat_span[0]].start : tokens[pat_span[1]].end]
        repl = f"split(({s_expr}), {pat}, -1)"
    elif fname in ("jsonb_typeof", "json_typeof"):
        if len(texts) != 1:
            raise ValueError(f"{fname} takes exactly one argument")
        j = texts[0]
        c = f"substring(ltrim(({j})), 1, 1)"
        repl = (
            f"(CASE WHEN ({j}) IS NULL THEN CAST(NULL AS STRING) "
            f"WHEN {c} = '{{' THEN 'object' "
            f"WHEN {c} = '[' THEN 'array' "
            f"WHEN {c} = '\"' THEN 'string' "
            f"WHEN {c} IN ('t', 'f') THEN 'boolean' "
            f"WHEN {c} = 'n' THEN 'null' "
            f"ELSE 'number' END)"
        )
    elif fname in ("jsonb_array_length", "json_array_length"):
        if len(texts) != 1:
            raise ValueError(f"{fname} takes exactly one argument")
        j = texts[0]
        parsed = f"from_json(({j}), 'array<variant>')"
        repl = (
            f"(CASE WHEN ({j}) IS NULL THEN CAST(NULL AS INT) "
            f"WHEN {parsed} IS NULL THEN CASE WHEN assert_true("
            f"false, '{fname}: cannot get array length of a "
            f"non-array') IS NULL THEN 0 END "
            f"ELSE size({parsed}) END)"
        )
    else:  # encode / decode
        if len(texts) != 2:
            raise ValueError(f"{fname} takes exactly (value, format)")
        ftoks = tokens[args[1][0] : args[1][1] + 1]
        if len(ftoks) != 1 or ftoks[0].kind != "STRING" or ftoks[0].value != "hex":
            raise ValueError(
                f"{fname}: only the 'hex' format translates "
                "(PG base64 wraps lines at 76 chars; escape format "
                "has no Spark twin)"
            )
        if fname == "encode":
            repl = f"lower(hex(({texts[0]})))"
        else:
            repl = f"unhex(({texts[0]}))"
    return tokens[at].start, tokens[close].end, repl


def _find_string_to_array(sql, tokens):
    at = _find_call(tokens, ("string_to_array",))
    if at is None:
        return None
    close, args = _close(tokens, at + 1)
    if close is None or len(args) != 2:
        raise ValueError("string_to_array takes exactly (expr, 'delimiter')")
    comma = args[1][0] - 1
    delim_toks = tokens[comma + 1 : close]
    if (
        len(delim_toks) == 1
        and delim_toks[0].kind == "IDENT"
        and delim_toks[0].upper == "NULL"
    ):
        # PG: a NULL delimiter splits the string into its
        # individual CHARACTERS (round-11, verdict r10 #8);
        # split on the empty regex is exactly per-character in
        # Spark (no trailing empty element)
        s_expr = sql[tokens[at + 2].start : tokens[comma - 1].end]
        repl = (
            f"CASE WHEN ({s_expr}) = '' THEN "
            f"CAST(array() AS array<string>) "
            f"ELSE split({s_expr}, '') END"
        )
        return tokens[at].start, tokens[close].end, repl
    if len(delim_toks) != 1 or delim_toks[0].kind != "STRING":
        raise ValueError(
            "string_to_array requires a string-literal delimiter "
            "(dynamic delimiters are not translatable to Spark's regex split)"
        )
    delim = delim_toks[0].value
    if "\\E" in delim:
        raise ValueError("string_to_array delimiter may not contain \\E")
    s_expr = sql[tokens[at + 2].start : tokens[comma - 1].end]
    if delim == "":
        # PG: empty delimiter → the whole string as ONE element
        # (split on an empty regex would explode per-character)
        repl = (
            f"CASE WHEN ({s_expr}) = '' THEN CAST(array() AS array<string>) "
            f"ELSE array({s_expr}) END"
        )
    else:
        quoted = ("\\Q" + delim + "\\E").replace("'", "''")
        repl = (
            f"CASE WHEN ({s_expr}) = '' THEN CAST(array() AS array<string>) "
            f"ELSE split({s_expr}, '{quoted}') END"
        )
    return tokens[at].start, tokens[close].end, repl


_PG_FUNCTION_FINDERS = (
    _find_starts_with,
    _find_array_to_string,
    _find_ltrim_rtrim,
    _find_array_agg_nulls,
    _find_grouping,
    _find_degree_trig_sha,
    _find_interval_odds,
    _find_format,
    _find_to_hex,
    _find_trunc,
    _find_initcap,
    _find_log,
    _find_array_uuid_fn,
    _find_make_interval,
    _find_age,
    _find_gcd_lcm_quote_bin,
    _find_date_trunc,
    _find_split_json_codec,
    _find_string_to_array,
)


def _java_replacement(repl: str, shift: int) -> str:
    """PG regexp_replace replacement → Java: ``\\n`` backrefs become
    ``$n`` (shifted when the first-only rewrite prepends capture
    groups), ``\\&`` (whole match) becomes ``$0``/``$shift``, ``\\\\``
    a literal backslash, and literal ``$`` is escaped (Java treats it
    as a group reference). Any other backslash escape raises."""
    out = []
    i = 0
    while i < len(repl):
        c = repl[i]
        if c == "\\":
            if i + 1 >= len(repl):
                raise ValueError(
                    "regexp_replace replacement ends in a lone backslash"
                )
            nxt = repl[i + 1]
            if nxt.isdigit():
                out.append(f"${int(nxt) + shift}")
            elif nxt == "&":
                out.append(f"${shift}" if shift else "$0")
            elif nxt == "\\":
                out.append("\\\\")
            else:
                raise ValueError(
                    f"regexp_replace replacement escape \\{nxt} outside the "
                    "translatable subset (\\1-\\9, \\&, \\\\)"
                )
            i += 2
            continue
        if c == "$":
            out.append("\\$")
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


_MATH_DOMAIN_FNS = frozenset(
    ("sqrt", "ln", "log10", "log", "acos", "asin", "power")
)


def translate_math_domain(sql: str) -> str:
    """PG RAISES on math domain errors — ``sqrt(-1)``, ``ln(0)``,
    ``acos(2)``, ``power(0, -1)``, negative base to a fractional power
    — where Spark silently yields NaN / NULL / Infinity. Wrap the
    domain check in a lazy CASE with an assert_true raise arm (the
    generate_series-step-0 recipe). Runs AFTER translate_pg_functions
    (single-arg log is already log10) and after the caret pass (PG
    ``^`` emits power, which shares PG's domain rules).

    Scan order: rightmost-first with a moving left boundary — the
    emitted ELSE re-contains the function name, and inner calls sit to
    the right of their enclosing call, so each rewrite only ever looks
    strictly left of the last one. NULL inputs fall through every
    domain arm to the function itself (PG: NULL in, NULL out)."""
    return _rewrite(sql, [_after_last_edit(_find_math_domain)])[0]


def _find_math_domain(sql, tokens, last):
    # rightmost first: only sites left of the last rewrite remain
    sites = [
        i
        for i in _calls(tokens, _MATH_DOMAIN_FNS)
        if last < 0 or tokens[i].start < last
    ]
    for at in reversed(sites):
        fname = tokens[at].value.lower()
        close, args = _close(tokens, at + 1)
        if close is None:
            raise ValueError(f"unbalanced {fname}(...)")
        texts = _arg_texts(sql, tokens, args)
        call = sql[tokens[at].start : tokens[close].end]
        arms = []
        if fname == "sqrt" and len(texts) == 1:
            arms = [(f"({texts[0]}) < 0",
                     "cannot take square root of a negative number")]
        elif fname in ("ln", "log10") and len(texts) == 1:
            arms = [(f"({texts[0]}) <= 0",
                     "cannot take logarithm of zero or a negative number")]
        elif fname == "log" and len(texts) == 2:
            b, x = texts
            arms = [
                (f"({b}) <= 0 OR ({x}) <= 0",
                 "cannot take logarithm of zero or a negative number"),
                (f"({b}) = 1", "division by zero"),
            ]
        elif fname in ("acos", "asin") and len(texts) == 1:
            arms = [(f"abs({texts[0]}) > 1", "input is out of range")]
        elif fname == "power" and len(texts) == 2:
            x, y = texts
            arms = [
                (f"({x}) = 0 AND ({y}) < 0",
                 "zero raised to a negative power is undefined"),
                (f"({x}) < 0 AND ({y}) != floor({y})",
                 "a negative number raised to a non-integer power "
                 "yields a complex result"),
            ]
        if not arms:
            continue  # wrong arity — leave for Spark's own analyzer
        # the dummy MUST be non-NULL: with every CASE outcome NULL,
        # Catalyst folds the whole CASE to NULL and silently drops the
        # assert_true (probed) — 0.0 never materializes, the raise wins
        when = " ".join(
            f"WHEN {cond} THEN CASE WHEN assert_true(false, '{msg}') "
            f"IS NULL THEN CAST(0 AS DOUBLE) END"
            for cond, msg in arms
        )
        repl = f"(CASE {when} ELSE {call} END)"
        return tokens[at].start, tokens[close].end, repl
    return None


def translate_regexp_replace(sql: str) -> str:
    """PG ``regexp_replace(s, pat, repl [, flags])`` → Spark with PG
    semantics. The silent trap this closes: WITHOUT the ``g`` flag PG
    replaces only the FIRST match, while Spark's regexp_replace always
    replaces every match — same call, different results, no error.

    - flags containing ``g``: Spark's replace-all is already right;
      ``i`` folds in as an inline ``(?i)``; the replacement converts
      PG ``\\n`` backrefs to Java ``$n``.
    - no ``g`` (including the 3-argument form): first-only via an
      anchored lazy prefix — ``\\A(?s)(.*?)(pat)`` with replacement
      ``$1`` + converted repl — which can match at most once, so
      replace-all degenerates to replace-first. User group numbers
      shift by 2 (the replacement converter compensates); patterns
      containing their own backreferences raise rather than silently
      renumbering.

    Pattern, replacement, and flags must be string literals (the
    conversion happens at translate time); flags beyond ``g``/``i``
    raise.
    """
    return _rewrite(sql, [_after_last_edit(_find_regexp_replace)])[0]


def _find_regexp_replace(sql, tokens, last):
    # translated calls keep their name: sites at or before the last
    # rewrite are our own emissions
    at = next(
        (i for i in _calls(tokens, ("regexp_replace",)) if tokens[i].start > last),
        None,
    )
    if at is None:
        return None
    close, args = _close(tokens, at + 1)
    if close is None or len(args) not in (3, 4):
        raise ValueError(
            "regexp_replace takes (expr, pattern, replacement [, flags])"
        )

    def literal(span):
        return span[0] == span[1] and tokens[span[0]].kind == "STRING"

    if not (literal(args[1]) and literal(args[2])):
        raise ValueError(
            "regexp_replace requires string-literal pattern/replacement "
            "(dynamic regexes are not translatable to Spark with PG "
            "first-match semantics)"
        )
    flags = ""
    if len(args) == 4:
        if not literal(args[3]):
            raise ValueError("regexp_replace flags must be a string literal")
        flags = tokens[args[3][0]].value
    if set(flags) - {"g", "i"}:
        raise ValueError(
            f"regexp_replace flags {flags!r} outside the translatable "
            "subset (g, i)"
        )
    pat = _translate_posix_classes(tokens[args[1][0]].value)
    repl = tokens[args[2][0]].value
    s_expr = sql[tokens[at + 2].start : tokens[args[1][0] - 2].end]
    ci = "(?i)" if "i" in flags else ""
    if "g" in flags:
        new_pat = ci + pat
        new_repl = _java_replacement(repl, 0)
    else:
        if re.search(r"\\[1-9]", pat):
            raise ValueError(
                "regexp_replace without the g flag cannot translate a "
                "pattern containing backreferences (the first-only "
                "rewrite renumbers groups)"
            )
        new_pat = f"\\A(?s)(.*?)({ci}{pat})"
        new_repl = "$1" + _java_replacement(repl, 2)
    pl = new_pat.replace("'", "''")
    rl = new_repl.replace("'", "''")
    return tokens[at].start, tokens[close].end, f"regexp_replace({s_expr}, '{pl}', '{rl}')"


def translate_distinct_on(sql: str) -> str:
    """PG ``SELECT DISTINCT ON (keys) list FROM t ... ORDER BY keys,
    tiebreakers`` → a ranked subquery Spark understands::

        SELECT list FROM (SELECT *, row_number() OVER (
            PARTITION BY keys ORDER BY tiebreakers) AS __gfw_rn
        FROM t [WHERE ...]) __gfw_don WHERE __gfw_rn = 1
        ORDER BY keys, tiebreakers [LIMIT ...]

    Runs AFTER guard validation, so emitting a FROM-subquery is fine.
    PG's own rule — ORDER BY must start with the DISTINCT ON
    expressions — is enforced textually. Deterministic-engine
    divergences, both loud: ORDER BY is REQUIRED (PG would pick an
    arbitrary row per key without it), and a bare ``*`` select list is
    rejected (the hidden rank column cannot be dropped from ``*``
    without schema knowledge at translate time)."""
    return _rewrite(sql, [_find_distinct_on])[0]


def _clause_at(tokens, word, start):
    """Index of the first top-level keyword ``word`` from ``start``."""
    return next(
        (j for j, _ in _top_level(tokens, start, len(tokens) - 1) if _is_kw(tokens[j], word)),
        None,
    )


def _find_distinct_on(sql, tokens):
    """One whole-statement edit; the rebuilt statement no longer starts
    with ``SELECT DISTINCT ON``."""
    at = None
    for i, t in enumerate(tokens):
        if (
            t.kind == "IDENT"
            and t.upper == "SELECT"
            and i + 3 < len(tokens)
            and tokens[i + 1].upper == "DISTINCT"
            and tokens[i + 2].upper == "ON"
            and tokens[i + 3].value == "("
        ):
            at = i
            break
    if at is None:
        return None
    if at != 0:
        # the rewrite rebuilds the WHOLE statement from its clauses — a
        # DISTINCT ON nested in a scalar subquery (admitted by the
        # guard since q29) would silently drop the enclosing text
        raise ValueError(
            "DISTINCT ON inside a subquery is outside the translatable "
            "subset — rewrite with row_number() OVER (...) directly"
        )
    close, key_spans = _close(tokens, at + 3)
    if close is None or close == at + 4:
        raise ValueError("DISTINCT ON: empty or unbalanced key list")
    from_idx = _clause_at(tokens, "FROM", close + 1)
    if from_idx is None:
        raise ValueError("DISTINCT ON: missing FROM")
    select_list = sql[tokens[close + 1].start : tokens[from_idx - 1].end]
    if select_list.strip() == "*":
        raise ValueError(
            "DISTINCT ON with a bare * select list is not translatable "
            "(the rank column cannot be excluded) — name the columns"
        )
    for kw in ("GROUP", "HAVING", "WINDOW"):
        if _clause_at(tokens, kw, from_idx + 1) is not None:
            raise ValueError(f"DISTINCT ON with {kw} BY is outside the subset")
    order_idx = _clause_at(tokens, "ORDER", from_idx + 1)
    if order_idx is None:
        raise ValueError(
            "DISTINCT ON requires ORDER BY (PG would return an arbitrary "
            "row per key; this engine refuses nondeterminism)"
        )
    # the table body: FROM ... [WHERE ...] up to ORDER
    body = sql[tokens[from_idx].end : tokens[order_idx - 1].end]
    # ORDER BY items up to LIMIT/OFFSET/FETCH or end
    tails = [_clause_at(tokens, kw, order_idx + 2) for kw in ("LIMIT", "OFFSET", "FETCH")]
    tail_idx = min((c for c in tails if c is not None), default=None)
    order_end = tail_idx - 1 if tail_idx is not None else len(tokens) - 1
    order_text = sql[tokens[order_idx + 2].start : tokens[order_end].end]
    tail_text = sql[tokens[tail_idx].start :] if tail_idx is not None else ""
    item_spans = _args_spans(tokens, order_idx + 2, order_end)
    n_keys = len(key_spans)
    if len(item_spans) < n_keys:
        raise ValueError(
            "DISTINCT ON: ORDER BY must start with the DISTINCT ON expressions"
        )
    norm = lambda s: re.sub(r"\s+", " ", s).strip().lower()  # noqa: E731
    for kspan, ispan in zip(key_spans, item_spans):
        k, item = _span_text(sql, tokens, kspan), _span_text(sql, tokens, ispan)
        if norm(item) not in (norm(k), norm(k) + " asc", norm(k) + " desc",
                              norm(k) + " asc nulls last", norm(k) + " desc nulls last",
                              norm(k) + " asc nulls first", norm(k) + " desc nulls first",
                              norm(k) + " nulls last", norm(k) + " nulls first"):
            raise ValueError(
                f"DISTINCT ON: ORDER BY item {item!r} does not match key {k!r}"
            )
    tie_spans = item_spans[n_keys:] or key_spans[:1]
    # The window runs INSIDE the subquery, where output-column aliases
    # are not in scope — substitute bare-alias keys/tiebreakers with
    # their source expressions (PG lets ORDER BY / DISTINCT ON use an
    # alias only as a bare item, so exact-ident substitution is
    # complete).
    alias_map = {}
    for s0, e0 in _args_spans(tokens, close + 1, from_idx - 1):
        if (
            e0 - s0 >= 2
            and _is_kw(tokens[e0 - 1], "AS")
            and tokens[e0].kind in ("IDENT", "QIDENT")
        ):
            alias_map[tokens[e0].value.lower()] = sql[tokens[s0].start : tokens[e0 - 2].end]

    def _subst_alias(span):
        s0, e0 = span
        if (
            tokens[s0].kind == "IDENT"
            and tokens[s0].value.lower() in alias_map
            and all(
                t.kind == "IDENT"
                and t.upper in ("ASC", "DESC", "NULLS", "FIRST", "LAST")
                for t in tokens[s0 + 1 : e0 + 1]
            )
        ):
            rest = sql[tokens[s0].end : tokens[e0].end]
            return f"({alias_map[tokens[s0].value.lower()]}){rest}"
        return _span_text(sql, tokens, span)

    win_keys = ", ".join(_subst_alias(k) for k in key_spans)
    win_ties = ", ".join(_subst_alias(t) for t in tie_spans)
    return 0, len(sql), (
        f"SELECT {select_list.strip()} FROM (SELECT *, row_number() OVER ("
        f"PARTITION BY {win_keys} ORDER BY {win_ties}"
        f") AS __gfw_rn FROM{body.rstrip()}) __gfw_don WHERE __gfw_rn = 1 "
        f"ORDER BY {order_text.strip()}"
        + (f" {tail_text.strip()}" if tail_text else "")
    )


# PG to_char date/time template patterns → Java DateTimeFormatter
# (longest-match first). Space-padded words (Month/Day) and locale/ordinal
# modifiers (FM/TH/TZ) are OUT of the literal subset — loud raise beats a
# silently different string.
_TO_CHAR_MAP = [
    # DDD → Java "DDD": PG zero-pads day-of-year to 3 digits ("032");
    # Java "D" would print unpadded "32" and make adjacent-field parse
    # templates like YYYYDDD ambiguous. Lone "D" (PG day-of-week) stays
    # OUT of the subset — it falls through to the alnum raise.
    ("YYYY", "yyyy"), ("YY", "yy"), ("Mon", "MMM"), ("MM", "MM"),
    ("DDD", "DDD"), ("DD", "dd"), ("Dy", "EEE"), ("HH24", "HH"),
    ("HH12", "hh"), ("HH", "hh"), ("MI", "mm"), ("SS", "ss"),
    ("MS", "SSS"), ("AM", "a"), ("PM", "a"), ("Q", "Q"),
]


def _to_char_java_format(pat: str) -> str:
    out = []
    i = 0
    while i < len(pat):
        if pat.startswith("SSSS", i):
            # seconds-past-midnight (SSSS/SSSSS) would silently match as
            # repeated SS → reject before the longest-match loop
            raise ValueError(
                f"to_char: template code at {pat[i:]!r} outside the "
                "supported subset (YYYY/MM/DD/HH24/MI/SS/MS/Mon/Dy/Q/AM)"
            )
        for pg, java in _TO_CHAR_MAP:
            if pat.startswith(pg, i):
                out.append(java)
                i += len(pg)
                break
        else:
            c = pat[i]
            if c.isalnum():
                raise ValueError(
                    f"to_char: template code at {pat[i:]!r} outside the "
                    "supported subset (YYYY/MM/DD/HH24/MI/SS/MS/Mon/Dy/Q/AM)"
                )
            out.append(c)
            i += 1
    return "".join(out)


# PG template function → the Spark function taking a Java pattern.
# to_date/to_timestamp PARSE with the template: PG's YYYY/DD would
# silently hit Java's week-year/day-of-year codes without translation.
_TEMPLATE_FNS = {
    "TO_CHAR": "date_format",
    "TO_DATE": "to_date",
    "TO_TIMESTAMP": "to_timestamp",
}


def translate_to_char(sql: str) -> str:
    """PG ``to_char/to_date/to_timestamp(expr, 'template')`` → the
    Spark twin with the template converted to a Java pattern, for the
    literal date/time template subset. Non-literal templates and
    numeric-formatting templates (9/0/FM...) raise — they hit the
    alnum check in the pattern converter. Single-argument
    ``to_timestamp(double)`` (epoch seconds) passes through: it is
    the same function in Spark."""
    return _rewrite(sql, [_after_last_edit(_find_to_char)])[0]


def _find_to_char(sql, tokens, last):
    # to_date / to_timestamp rewrites keep their names: sites at or
    # before the last rewrite are our own emissions
    for at in _calls(tokens, ("to_char", "to_date", "to_timestamp")):
        fn = tokens[at].upper
        close, args = _close(tokens, at + 1)
        # one-argument to_timestamp(epoch) is Spark-native; only
        # two-argument template forms translate
        if fn == "TO_TIMESTAMP" and len(args) < 2:
            continue
        if tokens[at].start <= last:
            continue
        if close is None or len(args) != 2:
            raise ValueError(f"{fn.lower()} takes exactly (expr, 'template')")
        s0, e0 = args[1]
        if s0 != e0 or tokens[s0].kind != "STRING":
            raise ValueError(
                f"{fn.lower()} requires a string-literal template "
                "(dynamic templates are not translatable)"
            )
        java = _to_char_java_format(tokens[s0].value).replace("'", "''")
        expr = sql[tokens[at + 2].start : tokens[s0 - 2].end]
        return tokens[at].start, tokens[close].end, f"{_TEMPLATE_FNS[fn]}({expr}, '{java}')"
    return None


_JSON_OPS = {"->>": True, "->": False, "#>>": True, "#>": False}  # → text?
# \w is Unicode in Python 3, so non-ASCII keys ('café') pass through;
# probed: Spark's JSONPath accepts them in both get_json_object and
# try_variant_get dotted paths. Quoting rules for punctuated keys still
# differ between engines → those raise.
_JSON_KEY_RE = re.compile(r"\A[\w -]+\Z")


def _json_path(op: str, rhs_kind: str, rhs_value: str) -> str:
    """JSONPath for a PG json operator's right operand. Keys must be
    plain (letters/digits/_/space/-): quoting rules for exotic keys
    differ between engines, so they raise instead of guessing."""
    if op in ("->", "->>"):
        if rhs_kind == "NUMBER" and rhs_value.isdigit():
            return f"$[{rhs_value}]"
        if rhs_kind == "STRING":
            if not _JSON_KEY_RE.match(rhs_value):
                raise ValueError(
                    f"json key {rhs_value!r} outside the translatable subset "
                    "(plain keys only)"
                )
            return f"$.{rhs_value}"
        raise ValueError(f"{op} needs a string key or integer index literal")
    if rhs_kind != "STRING":
        raise ValueError(f"{op} needs a text-array path literal like '{{a,b}}'")
    inner = rhs_value.strip()
    if not (inner.startswith("{") and inner.endswith("}")):
        raise ValueError(f"{op} path must look like '{{a,b}}', got {rhs_value!r}")
    parts = [p.strip() for p in inner[1:-1].split(",") if p.strip()]
    if not parts:
        raise ValueError(f"{op} path is empty")
    out = "$"
    for p in parts:
        if p.isdigit():
            out += f"[{p}]"  # integer elements index arrays (common case)
        elif p.lstrip("-").isdigit():
            # PG indexes arrays from the end with negative path
            # elements; a static JSONPath can't (and '$.-1' would
            # silently probe an object key named "-1") — loud reject.
            # The -> / ->> operators DO support negative indexes.
            raise ValueError(
                f"negative json path element {p!r} outside the "
                "translatable subset (use the -> / ->> operators)"
            )
        elif _JSON_KEY_RE.match(p):
            out += f".{p}"
        else:
            raise ValueError(
                f"json path element {p!r} outside the translatable subset"
            )
    return out


def translate_json_ops(sql: str) -> str:
    """PG json(b) operators → Spark:

    - ``expr ->> 'k'`` / ``expr #>> '{a,b}'`` (TEXT results) →
      ``get_json_object(expr, '$.k')`` — scalars come back unquoted,
      exactly PG's text mode.
    - ``expr -> 'k'`` / ``expr #> '{a,b}'`` (JSON results) →
      ``to_json(try_variant_get(parse_json(expr), '$.k'))`` — string
      values KEEP their JSON quotes (``"a"``), numbers/objects print
      as JSON, missing keys are NULL; probed to match PG. (Spark
      parses a bare ``->`` as a lambda arrow — an internal error, not
      a clean syntax error — so this must run before any rewrite that
      emits higher-order functions.)

    Chains (``a -> 'b' ->> 'c'``) translate left-to-right: each
    rewrite's output is a function call, the next operator's left
    primary. Right operands must be literals; exotic keys raise.
    MUST run FIRST in to_spark_sql — later passes emit ``->`` lambda
    arrows (transform/exists) that this translator would mangle.
    """
    return _rewrite(sql, [_find_json_op])[0]


def _find_json_op(sql, tokens):
    at = None
    for i, t in enumerate(tokens):
        if t.kind == "OP" and t.value in _JSON_OPS and 0 < i < len(tokens) - 1:
            at = i
            break
    if at is None:
        return None
    op = tokens[at].value
    rhs = tokens[at + 1]
    # negative array index (PG: -1 = last element) — round-7
    # widening: tokenized as OP '-' + NUMBER; expressed as a
    # DYNAMIC JSONPath anchored at json_array_length (probed: both
    # get_json_object and try_variant_get accept non-foldable
    # paths; non-arrays/out-of-range give NULL, like PG)
    neg_n = None
    if (
        op in ("->", "->>")
        and rhs.kind == "OP"
        and rhs.value == "-"
        and at + 2 < len(tokens)
        and tokens[at + 2].kind == "NUMBER"
        and tokens[at + 2].value.isdigit()
    ):
        neg_n = int(tokens[at + 2].value)
        rhs_end = tokens[at + 2].end
    else:
        path = _json_path(op, rhs.kind, rhs.value)
        rhs_end = rhs.end
    lstart = _primary_start(tokens, at - 1)
    if lstart is None:
        raise ValueError(f"cannot resolve the left operand of {op}")
    # PG's -> ->> #> #>> share ||'s left-assoc tier: `a || b ->> 'k'`
    # means `(a || b) ->> 'k'`; :: binds tighter still
    lstart = _absorb_operand_left(tokens, lstart)
    lhs = sql[tokens[lstart].start : tokens[at - 1].end]
    if neg_n is not None:
        # size(from_json) rather than Spark's json_array_length:
        # the round-9 pg_functions loop owns the json_array_length
        # SPELLING (PG raise-on-non-array semantics) and must not
        # rewrite this emission
        path_expr = (
            f"concat('$[', CAST(size(from_json({lhs}, "
            f"'array<variant>')) - {neg_n} AS STRING), ']')"
        )
        if _JSON_OPS[op]:
            repl = f"get_json_object({lhs}, {path_expr})"
        else:
            repl = f"to_json(try_variant_get(parse_json({lhs}), {path_expr}))"
    elif _JSON_OPS[op]:
        repl = f"get_json_object({lhs}, '{path}')"
    else:
        repl = f"to_json(try_variant_get(parse_json({lhs}), '{path}'))"
    return tokens[lstart].start, rhs_end, repl


def _json_exists_keys(tokens, at):
    """Parse the right operand of ?| / ?& — an ARRAY['k', ...] of
    string literals — returning (keys, last_token_index)."""
    if not (
        at + 2 < len(tokens)
        and tokens[at + 1].kind == "IDENT"
        and tokens[at + 1].upper == "ARRAY"
        and tokens[at + 2].value == "["
    ):
        raise ValueError(
            f"{tokens[at].value} needs an ARRAY['k', ...] literal of keys"
        )
    keys = []
    j = at + 3
    expect_key = True
    while j < len(tokens):
        tk = tokens[j]
        if tk.kind == "PUNCT" and tk.value == "]":
            break
        if expect_key and tk.kind == "STRING":
            keys.append(tk.value)
            expect_key = False
        elif not expect_key and tk.kind == "PUNCT" and tk.value == ",":
            expect_key = True
        else:
            raise ValueError(
                f"{tokens[at].value} keys must be string literals"
            )
        j += 1
    if j >= len(tokens) or not keys or expect_key:
        raise ValueError(f"{tokens[at].value}: malformed key array")
    return keys, j


def _json_has_key(lhs: str, key: str) -> str:
    """Spark condition for PG ``{lhs} ? '{key}'`` across ALL jsonb
    kinds (round-7 widening — was object-only/three-valued): objects
    test key presence (null-valued keys count, like PG), arrays test
    string-element membership, scalar strings test equality, and
    everything else (numbers, booleans, null, invalid JSON) is FALSE —
    two-valued, exactly PG."""
    import json

    # ensure_ascii=False: Spark's to_json emits raw UTF-8 ('"café"'),
    # while json.dumps' default \uXXXX escaping would never match it
    jlit = json.dumps(key, ensure_ascii=False).replace("'", "''")
    klit = key.replace("'", "''")
    # object/array guards via from_json parses (NULL for the wrong
    # kind) — NOT Spark's json_object_keys/json_array_length
    # spellings, which the round-9 passes own for PG's functions of
    # those names
    return (
        f"coalesce(CASE "
        f"WHEN from_json({lhs}, 'map<string, variant>') IS NOT NULL "
        f"THEN array_contains("
        f"map_keys(from_json({lhs}, 'map<string, variant>')), '{klit}') "
        f"WHEN from_json({lhs}, 'array<variant>') IS NOT NULL "
        f"THEN exists(from_json({lhs}, 'array<variant>'), "
        f"__gfw_x -> to_json(__gfw_x) = '{jlit}') "
        f"ELSE to_json(try_parse_json({lhs})) = '{jlit}' END, false)"
    )


def translate_json_exists(sql: str) -> str:
    """PG jsonb key-existence operators → Spark: ``x ? 'k'`` tests key
    presence on objects, string-element membership on arrays, and
    string equality on scalars (see :func:`_json_has_key` — full PG
    scope, two-valued); ``x ?| ARRAY[...]`` is any-of, ``x ?&
    ARRAY[...]`` all-of the same per-key test. Keys must be literals.
    Runs before :func:`translate_array_literal` (it consumes the raw
    ARRAY[...] form itself)."""
    return _rewrite(sql, [_find_json_exists])[0]


def _find_json_exists(sql, tokens):
    at = None
    for i, t in enumerate(tokens):
        if (
            t.kind == "OP"
            and t.value in ("?", "?|", "?&")
            and 0 < i < len(tokens) - 1
        ):
            at = i
            break
    if at is None:
        return None
    op = tokens[at].value
    lstart = _primary_start(tokens, at - 1)
    if lstart is None:
        raise ValueError(f"cannot resolve the left operand of {op}")
    # same precedence tier as || (see translate_json_ops)
    lstart = _absorb_operand_left(tokens, lstart)
    lhs = sql[tokens[lstart].start : tokens[at - 1].end]
    if op == "?":
        rhs = tokens[at + 1]
        if rhs.kind != "STRING":
            raise ValueError("? needs a string-literal key")
        repl = _json_has_key(lhs, rhs.value)
        end = rhs.end
    else:
        keys, last = _json_exists_keys(tokens, at)
        parts = [_json_has_key(lhs, k) for k in keys]
        joiner = " OR " if op == "?|" else " AND "
        repl = "(" + joiner.join(parts) + ")"
        end = tokens[last].end
    return tokens[lstart].start, end, repl


_JSON_DIGIT_GUARD = (
    "IN ('-','0','1','2','3','4','5','6','7','8','9')"
)

# counted from the whole needle at depth 1, so "3 levels of nesting
# below the top" means probes run through depth 4
_MAX_CONTAINMENT_DEPTH = 4


def _variant_scalar_probe(vexpr: str, val) -> str:
    """Kind-guarded jsonb equality of the VARIANT expression ``vexpr``
    against the Python scalar ``val`` (PG rules: numbers numerically,
    strings/bools/nulls by kind). Returns an un-coalesced boolean."""
    import json

    if isinstance(val, bool):
        return f"to_json({vexpr}) = '{'true' if val else 'false'}'"
    if val is None:
        return f"to_json({vexpr}) = 'null'"
    if isinstance(val, str):
        lit = json.dumps(val, ensure_ascii=False).replace("'", "''")
        return f"to_json({vexpr}) = '{lit}'"
    return (
        f"try_cast({vexpr} AS DOUBLE) = {val!r} "
        f"AND substring(to_json({vexpr}), 1, 1) {_JSON_DIGIT_GUARD}"
    )


def _variant_containment_probe(vexpr: str, needle, depth: int, op: str) -> str:
    """Round-8 NESTED containment (VERDICT r7 #8): recursive expansion
    of ``vexpr`` (a VARIANT expression) containing ``needle`` into
    typed probes, following PG's recursive jsonb rules — object
    needles require each pair contained at the key (partial match,
    extra haystack keys fine), array needles require every element
    contained in SOME haystack element, scalars compare with
    kind-guarded jsonb equality. Bound: the needle may nest up to 3
    container levels BELOW the top (``_MAX_CONTAINMENT_DEPTH = 4``
    counting the whole needle as depth 1); deeper needles raise
    loudly."""
    if isinstance(needle, (dict, list)) and depth > _MAX_CONTAINMENT_DEPTH:
        raise ValueError(
            f"{op}: needle nests deeper than {_MAX_CONTAINMENT_DEPTH} "
            "container levels — outside the translatable subset"
        )
    if isinstance(needle, dict):
        if not needle:
            # {} is contained in any OBJECT (and only an object)
            return f"coalesce(substring(to_json({vexpr}), 1, 1) = '{{', false)"
        conds = []
        for key, val in needle.items():
            if not _JSON_KEY_RE.match(key):
                raise ValueError(
                    f"{op}: json key {key!r} outside the translatable subset"
                )
            sub = f"try_variant_get({vexpr}, '$.{key}')"
            conds.append(_variant_containment_probe(sub, val, depth + 1, op))
        return "(" + " AND ".join(conds) + ")"
    if isinstance(needle, list):
        arrtext = f"to_json({vexpr})"
        conds = [f"coalesce(substring({arrtext}, 1, 1) = '[', false)"]
        var = f"__gfw_n{depth}"
        for elem in needle:
            inner = _variant_containment_probe(var, elem, depth + 1, op)
            conds.append(
                f"coalesce(exists(from_json({arrtext}, 'array<variant>'), "
                f"{var} -> {inner}), false)"
            )
        return "(" + " AND ".join(conds) + ")"
    return "coalesce(" + _variant_scalar_probe(vexpr, needle) + ", false)"


def _array_containment_conditions(col_text: str, arr: list, op: str) -> str:
    """Spark conditions for ``col @> '[scalar, ...]'`` (array needle,
    round-7 widening — VERDICT r6 #3). PG array containment: the
    haystack must itself be an array, and every needle element must
    jsonb-equal SOME haystack element (numbers numerically — ``[5.0]``
    contains ``[5]``; strings/bools/nulls by kind, so the JSON string
    ``"5"`` never matches the number 5 and ``true`` never matches 1).
    Needle elements must be scalars — nested needles raise."""
    import json

    # haystack must be a JSON array: the from_json array parse is NULL
    # for objects, scalars, and invalid JSON (IS NOT NULL two-valued).
    # NOT Spark's json_array_length spelling — the round-9 pg_functions
    # loop owns that name for PG's raising jsonb_array_length.
    elems = f"from_json({col_text}, 'array<variant>')"
    conds = [f"{elems} IS NOT NULL"]
    for val in arr:
        if isinstance(val, bool):
            probe = f"to_json(__gfw_x) = '{'true' if val else 'false'}'"
        elif val is None:
            probe = "to_json(__gfw_x) = 'null'"
        elif isinstance(val, str):
            # ensure_ascii=False: match to_json's raw-UTF-8 emission
            lit = json.dumps(val, ensure_ascii=False).replace("'", "''")
            probe = f"to_json(__gfw_x) = '{lit}'"
        elif isinstance(val, (int, float)):
            # numeric jsonb equality with a kind guard: variant casts
            # true→1.0 and '5'→NULL under try_cast, so require the
            # element's JSON text to START with a digit/sign
            probe = (
                f"try_cast(__gfw_x AS DOUBLE) = {val!r} "
                f"AND substring(to_json(__gfw_x), 1, 1) {_JSON_DIGIT_GUARD}"
            )
        else:
            # object/array element → recursive probe on the variant
            # element itself (round-8 nested containment)
            probe = _variant_containment_probe("__gfw_x", val, 2, op)
        conds.append(f"coalesce(exists({elems}, __gfw_x -> {probe}), false)")
    return "(" + " AND ".join(conds) + ")"


def _containment_conditions(col_text: str, literal: str, op: str) -> str:
    """Per-key Spark conditions for ``col @> 'literal-json-object'``
    (or per-element for an array needle — see
    :func:`_array_containment_conditions`).

    PG jsonb containment compares VALUES with jsonb equality: numbers
    numerically (5 contains 5.0), strings/booleans/nulls by kind.
    Nested object/array needle values recurse through
    :func:`_variant_containment_probe` (round-8; needles may nest up
    to 3 container levels below the top — _MAX_CONTAINMENT_DEPTH = 4
    counting the needle itself);
    scalar top-level needles still raise (PG's array-contains-scalar
    exception is top-level-only and stays out of the subset)."""
    import json

    try:
        obj = json.loads(literal)
    except ValueError as exc:
        raise ValueError(f"{op}: right operand is not valid JSON: {exc}") from exc
    if isinstance(obj, list):
        return _array_containment_conditions(col_text, obj, op)
    if not isinstance(obj, dict) or not obj:
        raise ValueError(
            f"{op} supports a non-empty flat JSON OBJECT literal or a "
            "flat JSON ARRAY literal "
            "(scalar containment is outside the translatable subset)"
        )
    conds = []
    for key, val in obj.items():
        if not _JSON_KEY_RE.match(key):
            raise ValueError(
                f"{op}: json key {key!r} outside the translatable subset"
            )
        jref = f"to_json(try_variant_get(parse_json({col_text}), '$.{key}'))"
        # every per-key check coalesces to FALSE: a missing key makes
        # the probes NULL, but PG containment is two-valued
        if isinstance(val, bool):
            conds.append(
                f"coalesce({jref} = '{'true' if val else 'false'}', false)"
            )
        elif val is None:
            conds.append(f"coalesce({jref} = 'null', false)")
        elif isinstance(val, str):
            # ensure_ascii=False: match to_json's raw-UTF-8 emission
            lit = json.dumps(val, ensure_ascii=False).replace("'", "''")
            conds.append(f"coalesce({jref} = '{lit}', false)")
        elif isinstance(val, (int, float)):
            # numeric jsonb equality: 5 contains 5.0. Guard the cast
            # with a kind check so the JSON STRING "5" never matches
            # the number 5 (it would survive a bare double cast)
            conds.append(
                f"coalesce(try_cast(get_json_object({col_text}, '$.{key}') "
                f"AS DOUBLE) = {val!r} "
                f"AND substring({jref}, 1, 1) NOT IN ('\"', '[', '{{'), false)"
            )
        else:
            # nested object/array value (round-8): recurse on the
            # variant at this key
            sub = f"try_variant_get(parse_json({col_text}), '$.{key}')"
            conds.append(_variant_containment_probe(sub, val, 2, op))
    return "(" + " AND ".join(conds) + ")"


def translate_json_contains(sql: str) -> str:
    """PG jsonb containment with a LITERAL needle:
    ``col @> '{"k": 1}'`` and the flipped ``'{"k": 1}' <@ col`` both
    mean "the column's object contains these pairs" and translate to a
    conjunction of per-key value checks (PG jsonb equality per kind —
    numbers numerically, strings with quotes). Array needles of
    scalars — ``tags @> '["foo"]'``, the most common jsonb idiom —
    translate to per-element ``exists`` probes over
    ``from_json(col, 'array<variant>')`` with an is-array guard
    (round-7 widening); nested object/array needle values recurse up
    to 3 container levels below the top (_MAX_CONTAINMENT_DEPTH = 4
    counting the needle itself — _variant_containment_probe). Containment
    between two dynamic columns and deeper nesting still raise
    loudly."""
    return _rewrite(sql, [_find_json_contains])[0]


def _find_json_contains(sql, tokens):
    at = None
    for i, t in enumerate(tokens):
        if t.kind == "OP" and t.value in ("@>", "<@") and 0 < i < len(tokens) - 1:
            at = i
            break
    if at is None:
        return None
    op = tokens[at].value
    if op == "@>":
        # column/expr on the LEFT, literal needle on the RIGHT
        needle = tokens[at + 1]
        if needle.kind != "STRING":
            raise ValueError(
                "@> needs a string-literal JSON needle on the right "
                "(dynamic containment is outside the translatable subset)"
            )
        lstart = _primary_start(tokens, at - 1)
        if lstart is None:
            raise ValueError("cannot resolve the left operand of @>")
        # same precedence tier as || (see translate_json_ops); the
        # <@ arm needs no ||-twin — left-assoc makes `'x' <@ a || b`
        # parse as `('x' <@ a) || b` — but trailing ::casts DO bind
        lstart = _absorb_operand_left(tokens, lstart)
        col_text = sql[tokens[lstart].start : tokens[at - 1].end]
        start, end = tokens[lstart].start, needle.end
    else:
        # literal needle on the LEFT, column/expr on the RIGHT
        needle = tokens[at - 1]
        if needle.kind != "STRING":
            raise ValueError(
                "<@ needs a string-literal JSON needle on the left "
                "(dynamic containment is outside the translatable subset)"
            )
        rend = _primary_end(tokens, at + 1)
        if rend is None:
            raise ValueError("cannot resolve the right operand of <@")
        rend = _absorb_cast_right(tokens, rend)
        col_text = sql[tokens[at + 1].start : tokens[rend].end]
        start, end = needle.start, tokens[rend].end
    repl = _containment_conditions(col_text, needle.value, op)
    return start, end, repl


def _has_capture_group(pat: str) -> bool:
    """True when the regex has a capturing ``(`` (not ``\\(``, not
    ``(?...)``) — PG's substring-from-regex returns the FIRST
    subexpression when one exists, else the whole match."""
    i = 0
    while i < len(pat):
        c = pat[i]
        if c == "\\":
            i += 2
            continue
        if c == "(" and not pat.startswith("(?", i):
            return True
        i += 1
    return False


def translate_substring_regex(sql: str) -> str:
    """PG ``substring(expr FROM 'pattern')`` (and the two-argument
    spelling with a string-literal pattern) → Spark::

        CASE WHEN (expr) RLIKE 'pat' THEN regexp_extract(expr, 'pat', i)
        END

    with ``i = 1`` when the pattern has a capturing group (PG returns
    the first subexpression then) and ``0`` otherwise. The RLIKE guard
    preserves PG's NULL-on-no-match — Spark's bare regexp_extract
    returns '' instead. Positional ``substring(x FROM 2 FOR 3)`` is
    native Spark and passes through untouched (the rewrite fires only
    on string-literal patterns)."""
    return _rewrite(sql, [_find_substring_regex])[0]


def _find_substring_regex(sql, tokens):
    for i in _calls(tokens, ("substring",)):
        close, parts = _close(tokens, i + 1, seps=("FROM",))
        # exactly (expr, 'pattern') / (expr FROM 'pattern')
        if close is None or len(parts) != 2:
            continue
        s1, e1 = parts[1]
        if s1 == e1 and tokens[s1].kind == "STRING":
            break
    else:
        return None
    expr = sql[tokens[i + 2].start : tokens[s1 - 2].end]
    pat = _translate_posix_classes(tokens[s1].value)
    idx = 1 if _has_capture_group(pat) else 0
    lit = pat.replace("'", "''")
    repl = (
        f"CASE WHEN ({expr}) RLIKE '{lit}' "
        f"THEN regexp_extract({expr}, '{lit}', {idx}) END"
    )
    return tokens[i].start, tokens[close].end, repl


def _is_safe_start_literal(text: str) -> bool:
    """True when ``text`` is an integer literal >= 1 (PG and Spark
    substring agree there — no rewrite needed)."""
    t = text.strip()
    return t.isdigit() and int(t) >= 1


def _is_safe_len_literal(text: str) -> bool:
    t = text.strip()
    return t.isdigit()  # any non-negative integer


def translate_substr_positional(sql: str) -> str:
    """Positional ``substr/substring(s, start [, len])`` (and the
    ``FROM start [FOR len]`` spelling) with a possibly non-positive
    start: PG counts positions on the number line — ``substr('abc',
    0, 2) = 'a'`` (positions 0..1, only 1 exists), ``substr('abc',
    -1, 2) = ''`` — while Spark treats start 0 as 1 and NEGATIVE
    starts as from-the-end, a silent divergence. Rewrite::

        substring(s, CASE WHEN start < 1 THEN 1 ELSE start END,
                  CASE WHEN eff < 0 THEN 0 ELSE eff END)
        -- eff = start + len - clamped_start

    CASE (not greatest) keeps NULL propagation: Spark's greatest
    SKIPS nulls where PG returns NULL. Calls whose start is a literal
    >= 1 (and literal len >= 0) pass through untouched — the engines
    agree there. A literal NEGATIVE length raises, like PG; a dynamic
    negative length yields '' (documented, PG errors at runtime).
    Runs AFTER translate_substring_regex, so string-literal patterns
    (the regex form) are already consumed."""
    return _rewrite(sql, [_after_last_edit(_find_substr_positional)])[0]


def _find_substr_positional(sql, tokens, last):
    # rewritten calls keep the substring name: sites at or before the
    # last rewrite are our own emissions
    for i in _calls(tokens, ("substr", "substring")):
        if tokens[i].start <= last:
            continue
        # separators: ',' or the FROM/FOR keywords
        close, parts = _close(tokens, i + 1, seps=("FROM", "FOR"))
        if close is None or len(parts) not in (2, 3):
            continue
        seps = [e + 1 for _, e in parts[:-1]]
        if tokens[seps[0] + 1].kind == "STRING" and len(seps) == 1:
            continue  # regex form (already translated upstream)
        if tokens[seps[0] + 1].kind == "STRING" and len(seps) == 2:
            # SQL-standard SIMILAR-TO-escape form: substring(s FROM
            # 'pat' FOR 'esc') / substring(s, 'pat', 'esc'). Treating
            # it as positional would CAST('pat' AS INT) → silent
            # NULLs; SIMILAR TO patterns need their own translation,
            # so reject loudly (ADVICE r7).
            raise ValueError(
                "substring(s FROM pattern FOR escape) — the SIMILAR "
                "TO escape form — is outside the translatable subset"
            )
        s_text = sql[tokens[i + 2].start : tokens[seps[0] - 1].end]
        if len(seps) == 2:
            start_text = sql[tokens[seps[0] + 1].start : tokens[seps[1] - 1].end]
            len_text = sql[tokens[seps[1] + 1].start : tokens[close - 1].end]
        else:
            start_text = sql[tokens[seps[0] + 1].start : tokens[close - 1].end]
            len_text = None
        if len_text is not None and len_text.strip().lstrip("-") .isdigit() and len_text.strip().startswith("-"):
            raise ValueError(
                "substring: negative substring length not allowed (PG)"
            )
        if _is_safe_start_literal(start_text) and (
            len_text is None or _is_safe_len_literal(len_text)
        ):
            continue  # engines agree; leave untouched
        clamped = f"CASE WHEN ({start_text}) < 1 THEN 1 ELSE ({start_text}) END"
        if len_text is None:
            repl = f"substring({s_text}, {clamped})"
        else:
            # a runtime-negative LENGTH raises like PG (round-8; was a
            # documented ''-divergence) — eff < 0 from start-clamping
            # alone stays '' (PG: positions off the string's left edge)
            eff = f"({start_text}) + ({len_text}) - {clamped}"
            repl = (
                f"substring({s_text}, {clamped}, "
                f"CASE WHEN ({len_text}) < 0 THEN CASE WHEN assert_true("
                f"false, 'negative substring length not allowed') IS NULL "
                f"THEN 0 END "
                f"WHEN ({eff}) < 0 THEN 0 ELSE ({eff}) END)"
            )
        return tokens[i].start, tokens[close].end, repl
    return None


def translate_left_right(sql: str) -> str:
    """PG ``left/right(s, n)`` with NEGATIVE n means "all but the last
    /first |n| characters" — Spark returns '' there, a silent
    divergence. Rewrites (NULL-propagating via CASE)::

        left(s, n)  -> substring(s, 1, CASE WHEN n < 0
                          THEN greatest(length(s) + n, 0) ELSE n END)
        right(s, n) -> substring(s, CASE WHEN n IS NULL THEN NULL
                          WHEN n < 0 THEN 1 - n
                          WHEN length(s) > n THEN length(s) - n + 1
                          ELSE 1 END)

    (greatest is safe inside the left() arm: n < 0 already implies n
    is non-NULL there; the right() arm needs the explicit IS NULL
    branch because its ELSE 1 would otherwise turn NULL into the whole
    string). Both rewrites REMOVE the left/right call site; calls
    with a literal n >= 0 pass through — the engines agree."""
    return _rewrite(sql, [_find_left_right])[0]


def _find_left_right(sql, tokens):
    for i in _calls(tokens, ("left", "right")):
        close, args = _close(tokens, i + 1)
        if close is None or len(args) < 2:
            continue
        comma = args[-1][0] - 1
        s_text = sql[tokens[i + 2].start : tokens[comma - 1].end]
        n_text = sql[tokens[comma + 1].start : tokens[close - 1].end]
        # literal n >= 0: engines agree — the site stays as written
        if not _is_safe_len_literal(n_text):
            break
    else:
        return None
    fname = tokens[i].upper
    if fname == "LEFT":
        repl = (
            f"substring({s_text}, 1, CASE WHEN ({n_text}) < 0 "
            f"THEN greatest(length({s_text}) + ({n_text}), 0) "
            f"ELSE ({n_text}) END)"
        )
    else:
        repl = (
            f"substring({s_text}, CASE "
            f"WHEN ({n_text}) IS NULL THEN CAST(NULL AS INT) "
            f"WHEN ({n_text}) < 0 THEN 1 - ({n_text}) "
            f"WHEN length({s_text}) > ({n_text}) "
            f"THEN length({s_text}) - ({n_text}) + 1 "
            f"ELSE 1 END)"
        )
    return tokens[i].start, tokens[close].end, repl


def translate_cast_type_names(sql: str) -> str:
    """ANSI ``CAST(expr AS pg_type)`` with a PG type name → the ``::``
    form, so :func:`translate_pg_casts` applies the one type map and
    the parameterized-type semantics (numeric rounding, varchar/char
    truncation) uniformly. Only casts whose type name is in the PG map
    rewrite; Spark-native type names (STRING, ARRAY<...>, …) pass
    through untouched. Note this makes ``CAST(x AS VARCHAR(3))``
    TRUNCATE — PG's explicit-cast semantics, which the reference's
    Postgres executes — where Spark's native VARCHAR(3) cast does not.
    """
    return _rewrite(sql, [_find_cast_type_name])[0]


def _cast_as(tokens, i):
    """``(close, as_index)`` of the ``CAST(`` call at ``tokens[i]``:
    the LAST top-level AS is the cast's own (as_index None without
    one)."""
    close, parts = _close(tokens, i + 1, seps=("AS",))
    as_idx = next(
        (e + 1 for _, e in reversed(parts[:-1]) if _is_kw(tokens[e + 1], "AS")),
        None,
    )
    return close, as_idx


def _find_cast_type_name(sql, tokens):
    for i in _calls(tokens, ("cast",)):
        close, as_idx = _cast_as(tokens, i)
        if close is None or as_idx is None or as_idx + 1 >= close:
            continue
        type_tok = tokens[as_idx + 1]
        if type_tok.kind != "IDENT":
            continue
        if type_tok.value.lower() not in PG_TO_SPARK_TYPES:
            # bare CAST(x AS INTERVAL) routes to the ::interval
            # literal translation; qualified ANSI interval types
            # (INTERVAL DAY TO SECOND) pass through to Spark
            if not (
                type_tok.value.lower() == "interval"
                and as_idx + 2 == close
            ):
                continue
        expr = sql[tokens[i + 2].start : tokens[as_idx - 1].end]
        type_text = sql[tokens[as_idx + 1].start : tokens[close - 1].end]
        return tokens[i].start, tokens[close].end, f"({expr})::{type_text}"
    return None


def translate_array_literal(sql: str) -> str:
    """PG ``ARRAY[e1, e2, ...]`` constructor → Spark ``array(e1, e2,
    ...)``; nested ARRAY[...] is rewritten outermost first."""
    return _rewrite(sql, [_find_array_literal])[0]


def _find_array_literal(sql, tokens):
    at = next(
        (
            i
            for i in range(len(tokens) - 1)
            if _is_kw(tokens[i], "ARRAY") and _is_punct(tokens[i + 1], "[")
        ),
        None,
    )
    if at is None:
        return None
    close, _ = _close(tokens, at + 1)
    if close is None:
        raise ValueError("unbalanced ARRAY[...] constructor")
    inner = sql[tokens[at + 1].end : tokens[close].start]
    return tokens[at].start, tokens[close].end, f"array({inner})"


_ANY_ALL_OPS = {"=", "<>", "!=", "<", "<=", ">", ">="}


def translate_any_all(sql: str) -> str:
    """PG ``expr op ANY(array)`` / ``expr op ALL(array)`` → Spark's
    higher-order ``exists(array, e -> expr op e)`` / ``forall(...)``
    — probed to share PG's three-valued logic (a NULL element yields
    NULL unless an element already decides the result). Runs after
    :func:`translate_array_literal`, so ARRAY[...] operands are
    already ``array(...)`` calls. The subquery form (``= ANY(SELECT
    ...)``) is outside the guarded dialect's translatable subset and
    raises with the IN-rewrite hint."""
    return _rewrite(sql, [_find_any_all])[0]


def _find_any_all(sql, tokens):
    at = None
    for i in _calls(tokens, ("any", "all")):
        if i == 0:
            continue
        prev = tokens[i - 1]
        if prev.kind == "OP" and (
            prev.value in _ANY_ALL_OPS or prev.value in _REGEX_OPS
        ):
            at, op, lhs_end = i, prev.value, i - 2
            break
        # PG also quantifies LIKE/ILIKE: `x [NOT] LIKE ANY(arr)`
        # (Spark's native LIKE ANY takes a paren LIST, not an
        # array, so the exists/forall rewrite applies here too)
        if prev.kind == "IDENT" and prev.upper in ("LIKE", "ILIKE"):
            if (
                i >= 2
                and tokens[i - 2].kind == "IDENT"
                and tokens[i - 2].upper == "NOT"
            ):
                at, op, lhs_end = i, f"NOT {prev.upper}", i - 3
            else:
                at, op, lhs_end = i, prev.upper, i - 2
            break
    if at is None:
        return None
    quant = tokens[at].upper
    lhs_start = _primary_start(tokens, lhs_end)
    if lhs_start is None:
        raise ValueError(f"cannot resolve the left operand of {op} {quant}(...)")
    # PG gives comparison operators LOWER precedence than ||,
    # arithmetic, ^ and :: — absorb the whole higher-precedence
    # chain into the left operand (`a || b = ANY(x)` compares the
    # concatenation, not b). A single-token boundary keyword stops
    # the walk (start of clause), everything else chains.
    while (
        lhs_start >= 2
        and tokens[lhs_start - 1].kind == "OP"
        and tokens[lhs_start - 1].value in ("||", "+", "-", "*", "/", "%", "^", "::")
    ):
        prev = _primary_start(tokens, lhs_start - 2)
        if prev is None:
            break
        if (
            prev == lhs_start - 2
            and tokens[prev].kind == "IDENT"
            and tokens[prev].upper in _OPERAND_BOUNDARY
        ):
            break  # bare keyword (SELECT/WHERE/...), not an operand
        lhs_start = prev
    close, _ = _close(tokens, at + 1)
    if close is None:
        raise ValueError(f"unbalanced {quant}(...)")
    if close == at + 2:
        raise ValueError(f"empty {quant}() argument")
    if tokens[at + 2].kind == "IDENT" and tokens[at + 2].upper == "SELECT":
        raise ValueError(
            f"{quant}(SELECT ...) is outside the translatable subset — "
            "rewrite as IN (SELECT ...) / NOT IN (SELECT ...)"
        )
    lhs = sql[tokens[lhs_start].start : tokens[lhs_end].end]
    if lhs_start >= 1 and tokens[lhs_start - 1].kind == "OP" and tokens[
        lhs_start - 1
    ].value in ("+", "-"):
        raise ValueError(
            f"a signed left operand of {op} {quant}(...) is ambiguous "
            "after translation — parenthesize it: (-x) = ANY(...)"
        )
    arr = sql[tokens[at + 2].start : tokens[close - 1].end]
    hof = "exists" if quant == "ANY" else "forall"
    if op in _REGEX_OPS:
        # `x ~ ANY(patterns)` — regex-match quantifiers (the same
        # RLIKE mapping as translate_regex_ops, per element)
        ci, neg = _REGEX_OPS[op]
        rx = f"CONCAT('{ci}', __gfw_e)" if ci else "__gfw_e"
        body = f"({lhs}) RLIKE {rx}"
        if neg:
            body = f"NOT ({body})"
        repl = f"{hof}({arr}, __gfw_e -> {body})"
    else:
        repl = f"{hof}({arr}, __gfw_e -> ({lhs}) {op} __gfw_e)"
    return tokens[lhs_start].start, tokens[close].end, repl


def _parse_sort_item(sql, tokens, span) -> tuple[str, str, str]:
    """Split one ORDER-BY item (a token span) into (expr_text,
    ASC|DESC, FIRST|LAST), applying PG defaults (ASC → NULLS LAST,
    DESC → NULLS FIRST)."""
    lo, end = span[0], span[1] + 1  # end exclusive
    nulls = None
    if (
        end - lo >= 2
        and _is_kw(tokens[end - 2], "NULLS")
        and tokens[end - 1].upper in ("FIRST", "LAST")
    ):
        nulls = tokens[end - 1].upper
        end -= 2
    direction = "ASC"
    if (
        end - lo >= 1
        and tokens[end - 1].kind == "IDENT"
        and tokens[end - 1].upper in ("ASC", "DESC")
    ):
        direction = tokens[end - 1].upper
        end -= 1
    if end == lo:
        item = _span_text(sql, tokens, span)
        raise ValueError(f"empty ORDER BY item in aggregate: {item!r}")
    if nulls is None:
        nulls = "LAST" if direction == "ASC" else "FIRST"
    return sql[tokens[lo].start : tokens[end - 1].end], direction, nulls


def translate_agg_order_by(sql: str) -> str:
    """PG aggregate-internal ``ORDER BY`` → Spark:

    - ``string_agg(e, d ORDER BY ...)`` → ``string_agg(e, d) WITHIN
      GROUP (ORDER BY ...)`` — native in Spark 4 with identical
      null-skipping semantics; the later :func:`translate_order_nulls`
      pass makes PG's default null placement explicit in the moved
      clause.
    - ``array_agg(e ORDER BY k1 [, k2 ...])`` — Spark's array_agg has
      no WITHIN GROUP form, so the sort is reconstructed as pure
      column math: collect ``struct(null_flag, key, ..., value)``,
      ``array_sort`` (ascending, with per-key IS [NOT] NULL flags
      reproducing PG's NULLS FIRST/LAST placement — array_sort's own
      struct-field null order is the opposite of PG's default), then
      project the value field; a DESC sort is the ascending sort
      ``reverse()``d, so all keys must share one direction (mixed
      directions raise — outside the translatable subset, like
      ``array_agg(DISTINCT ...)``).

    PG array_agg KEEPS null values while string_agg skips them; both
    survive the rewrite (structs are never null, and Spark's
    string_agg skips nulls natively).
    """
    return _rewrite(sql, [_find_agg_order_by])[0]


def _find_agg_order_by(sql, tokens):
    # only calls carrying an internal ORDER BY are rewritten
    for at in _calls(tokens, ("string_agg", "array_agg")):
        close, parts = _close(tokens, at + 1, seps=("ORDER",))
        seps = [e + 1 for _, e in parts[:-1]]
        order_at = next(
            (j for j in seps if _is_kw(tokens[j], "ORDER") and tokens[j + 1].upper == "BY"),
            None,
        )
        if order_at is not None:
            break
    else:
        return None
    fn = tokens[at].upper
    commas = [j for j in seps if j < order_at and _is_punct(tokens[j], ",")]
    if close is None:
        raise ValueError(f"unbalanced {fn.lower()}(... ORDER BY ...) call")
    if tokens[at + 2].kind == "IDENT" and tokens[at + 2].upper == "DISTINCT":
        raise ValueError(
            f"{fn.lower()}(DISTINCT ... ORDER BY ...) is outside the "
            "translatable subset — deduplicate upstream"
        )
    order_text = sql[tokens[order_at + 2].start : tokens[close - 1].end]
    args_end = tokens[order_at - 1].end
    if fn == "STRING_AGG":
        if len(commas) != 1:
            raise ValueError(
                "string_agg takes exactly (expr, delimiter [ORDER BY ...])"
            )
        args = sql[tokens[at + 2].start : args_end]
        repl = f"string_agg({args}) WITHIN GROUP (ORDER BY {order_text})"
    else:
        if commas:
            raise ValueError(
                "array_agg takes exactly (expr [ORDER BY ...])"
            )
        value = sql[tokens[at + 2].start : args_end]
        items = [
            _parse_sort_item(sql, tokens, span)
            for span in _args_spans(tokens, order_at + 2, close - 1)
        ]
        directions = {d for _, d, _ in items}
        if len(directions) > 1:
            raise ValueError(
                "array_agg ORDER BY with mixed ASC/DESC keys is outside "
                "the translatable subset"
            )
        desc = directions == {"DESC"}
        fields = []
        for idx, (key, direction, nulls) in enumerate(items):
            # base sort is always ascending (reverse()d for DESC), so
            # the flag puts nulls at the END of the base sort exactly
            # when the requested placement lands them there
            base_last = (direction == "ASC") == (nulls == "LAST")
            flag = "IS NULL" if base_last else "IS NOT NULL"
            fields.append(f"'n{idx}', ({key}) {flag}, 'o{idx}', {key}")
        struct_sql = f"named_struct({', '.join(fields)}, 'v', {value})"
        # FILTER (WHERE ...) / OVER suffixes must attach to the
        # aggregate INSIDE the transform wrapper (round-11: surfaced by
        # the json_agg ... FILTER composition)
        end = _suffix_end(tokens, close)
        suffix = sql[tokens[close].end : tokens[end].end]
        sorted_sql = f"array_sort(array_agg({struct_sql}){suffix})"
        if desc:
            sorted_sql = f"reverse({sorted_sql})"
        return tokens[at].start, tokens[end].end, _agg_values(sorted_sql, "s")
    return tokens[at].start, tokens[close].end, repl


_ORDER_CLAUSE_END = {
    "LIMIT", "OFFSET", "FETCH", "ROWS", "RANGE", "GROUPS", "WINDOW",
    "UNION", "HAVING", "FOR",
}


def translate_order_nulls(sql: str) -> str:
    """Make PG's default NULL ordering explicit in EVERY ``ORDER BY``
    (statement-level and inside ``OVER (...)``): PG sorts ASC → NULLS
    LAST, DESC → NULLS FIRST; Spark's defaults are the exact opposite,
    which silently reorders (and, under a row_number window, silently
    REPICKS) rows whenever a sort key is NULL. Items already carrying
    an explicit NULLS keep it. Runs LAST so ORDER BY clauses emitted by
    earlier rewrites (DISTINCT ON's window) are covered too."""
    return _rewrite(sql, [_find_order_nulls])[0]


def _find_order_nulls(sql, tokens):
    """One edit carrying every insertion (None once each item has an
    explicit NULLS)."""
    inserts = []  # (offset, text)
    n = len(tokens)
    i = 0
    while i < n:
        if not (_is_kw(tokens[i], "ORDER") and i + 1 < n and _is_kw(tokens[i + 1], "BY")):
            i += 1
            continue
        items = [[]]  # token indices per item, nested groups included
        stop = n
        for k, kend in _top_level(tokens, i + 2, n - 1):
            t = tokens[k]
            # a ')' here closes the group the clause sits in (OVER (...))
            if _is_punct(t, ")") or (t.kind == "IDENT" and t.upper in _ORDER_CLAUSE_END):
                stop = k
                break
            if t.kind == "PUNCT" and t.value in (",", ";"):
                items.append([])
            else:
                items[-1].extend(range(k, kend + 1))
        for item in items:
            if not item or any(_is_kw(tokens[k], "NULLS") for k in item):
                continue
            direction = "ASC"
            for k in reversed(item):
                if tokens[k].kind != "IDENT":
                    break
                if tokens[k].upper in ("ASC", "DESC"):
                    direction = tokens[k].upper
                    break
            nulls = "NULLS FIRST" if direction == "DESC" else "NULLS LAST"
            inserts.append((tokens[item[-1]].end, f" {nulls}"))
        i = stop
    if not inserts:
        return None
    inserts.sort()
    lo, hi = inserts[0][0], inserts[-1][0]
    out, pos = [], lo
    for off, text in inserts:
        out += [sql[pos:off], text]
        pos = off
    return lo, hi, "".join(out)


# ---------------------------------------------------------------------------
# round-8 set-returning functions (VERDICT r7 #4): the reference passes
# SRFs through to Postgres (only pg_*-prefixed names are blocked,
# app/routes/datasets/utils/query_helpers.py), so unnest /
# generate_series / jsonb_array_elements(_text) are part of the
# pass-through surface. Spark's generator expressions cover them exactly
# when the SRF is a BARE top-level SELECT item (PG's dominant usage):
#   unnest(arr)                  → explode(arr)        (empty/NULL → 0 rows,
#                                                       order preserved — same)
#   generate_series(a, b[, s])   → explode(sequence)   (PG: wrong-sign step
#                                                       → 0 rows; Spark's
#                                                       sequence(5,1) counts
#                                                       DOWN — guarded with a
#                                                       typed empty-array arm)
#   jsonb_array_elements(j)      → explode(transform(from_json(j,
#                                   'array<variant>'), x -> to_json(x)))
#   jsonb_array_elements_text(j) → same with CAST(x AS STRING) — probed:
#                                   variant→string is exactly PG's text
#                                   mode (strings unquoted, json null →
#                                   SQL NULL, containers as json text)
# Outside that subset the pass REJECTS LOUDLY: SRFs in WHERE/GROUP/
# HAVING (PG errors too), inside expressions or subqueries, more than
# one per statement (PG runs them in LOCKSTEP — Spark's one-generator
# rule would reject anyway; our error names the boundary), dynamic
# generate_series steps.
# ---------------------------------------------------------------------------

_SRF_NAMES = {
    "unnest": "unnest",
    "generate_series": "generate_series",
    "jsonb_array_elements": "value",
    "json_array_elements": "value",
    "jsonb_array_elements_text": "value",
    "json_array_elements_text": "value",
    # round-9: object-keys SRFs (PG default column name = fn name);
    # jsonb_ sorts keys in jsonb's canonical length-then-bytewise
    # order, json_ keeps document order
    "jsonb_object_keys": "jsonb_object_keys",
    "json_object_keys": "json_object_keys",
}

_SELECT_LIST_BOUNDARY = {
    "SELECT", "FROM", "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT",
    "OFFSET", "WINDOW", "FETCH",
}


def _translate_lockstep_unnest(sql, tokens, top, calls):
    """``SELECT unnest(a), unnest(b) …`` → one
    ``inline(arrays_zip(a, b)) AS (n1, n2)`` generator — arrays_zip
    null-pads to the longest array, which IS PG's lockstep rule."""
    items = []  # (call_idx, arg_text, alias, item_end_tok)
    for i in calls:
        fname = tokens[i].value.lower()
        if fname != "unnest" or i not in top:
            raise ValueError(
                "multiple set-returning functions translate only as "
                "consecutive bare unnest() SELECT items (PG lockstep "
                "via arrays_zip); mixing other SRFs is outside the subset"
            )
        prev = tokens[i - 1]
        if not (
            prev.upper in ("SELECT", "DISTINCT")
            or (prev.kind == "PUNCT" and prev.value == ",")
        ):
            raise ValueError(
                "lockstep unnest() items must be bare SELECT items"
            )
        close, args = _close(tokens, i + 1)
        if close is None:
            raise ValueError("unbalanced unnest() call")
        texts = _arg_texts(sql, tokens, args)
        if len(texts) != 1:
            raise ValueError(
                "multi-argument unnest is outside the translatable subset"
            )
        alias = None
        end = close
        nxt = tokens[close + 1] if close + 1 < len(tokens) else None
        if nxt is not None and nxt.kind == "IDENT" and nxt.upper == "AS":
            alias_tok = tokens[close + 2]
            alias = (
                f'`{alias_tok.value}`' if alias_tok.kind == "QIDENT" else alias_tok.value
            )
            end = close + 2
        elif nxt is not None and (
            nxt.kind == "QIDENT"
            or (nxt.kind == "IDENT" and nxt.upper not in _OPERAND_BOUNDARY)
        ):
            alias = f"`{nxt.value}`" if nxt.kind == "QIDENT" else nxt.value
            end = close + 1
        items.append((i, texts[0], alias or "unnest", end))
    # consecutiveness: exactly one comma between item i's end and the
    # next call's start
    for k in range(len(items) - 1):
        end = items[k][3]
        nxt_call = items[k + 1][0]
        if not (
            nxt_call == end + 2
            and tokens[end + 1].kind == "PUNCT"
            and tokens[end + 1].value == ","
        ):
            raise ValueError(
                "lockstep unnest() items must be CONSECUTIVE in the "
                "SELECT list (PG evaluates them in lockstep; scattered "
                "items are outside the subset)"
            )
    first_start = tokens[items[0][0]].start
    last_end = tokens[items[-1][3]].end
    gen = (
        "inline(arrays_zip("
        + ", ".join(t for _, t, _, _ in items)
        + ")) AS ("
        + ", ".join(a for _, _, a, _ in items)
        + ")"
    )
    # the rescan validates that nothing else remains
    return first_start, last_end, gen


_ROW_CMP_OPS = ("<", "<=", ">", ">=", "=", "<>", "!=")
# keywords that may legitimately precede a bare row constructor's "("
_ROW_CTX_KEYWORDS = {
    "WHERE", "AND", "OR", "NOT", "ON", "WHEN", "THEN", "ELSE",
    "SELECT", "HAVING", "BY", "ROW", "IN", "END", "DISTINCT",
}


def _row_group(tokens, open_idx, sql):
    """Parse a parenthesized TOP-LEVEL comma list starting at
    tokens[open_idx] == '(' → (close_idx, [element texts]) or None
    when it is not a bare row constructor (no top-level comma, a
    scalar subquery, or a function-call argument list)."""
    if not (
        tokens[open_idx].kind == "PUNCT" and tokens[open_idx].value == "("
    ):
        return None
    close, spans = _close(tokens, open_idx)
    if close is None or close == open_idx + 1:
        return None
    if tokens[open_idx + 1].upper == "SELECT":
        return None  # scalar subquery
    if len(spans) < 2:
        return None  # no top-level comma: a scalar paren group
    return close, [_span_text(sql, tokens, sp) for sp in spans]


def _row_ctor_start(tokens, open_idx):
    """Whether tokens[open_idx] == '(' begins a BARE row constructor
    (optionally spelled ROW(...)): the preceding token must not make
    it a function call / subscript. Returns the constructor's first
    token index (the ROW keyword if present) or None."""
    k = open_idx - 1
    if k >= 0 and tokens[k].kind == "IDENT" and tokens[k].upper == "ROW":
        k -= 1
        start = open_idx - 1
    else:
        start = open_idx
    if k < 0:
        return start
    p = tokens[k]
    if p.kind in ("NUMBER", "STRING", "QIDENT", "PARAM"):
        return None
    if p.kind == "PUNCT" and p.value in (")", "]", "."):
        return None
    if p.kind == "IDENT" and p.upper not in _ROW_CTX_KEYWORDS:
        return None  # function call f(...)
    return start


def _lex_expansion(ls, rs, op):
    """PG row-comparison semantics, exactly as PG defines them:
    ``=`` is pairwise AND, ``<>`` pairwise OR, and the order operators
    are the lexicographic expansion — three-valued logic included
    (a NULL pair before a deciding pair yields NULL)."""
    if op == "=":
        return "(" + " AND ".join(
            f"({l}) = ({r})" for l, r in zip(ls, rs)
        ) + ")"
    if op in ("<>", "!="):
        return "(" + " OR ".join(
            f"({l}) <> ({r})" for l, r in zip(ls, rs)
        ) + ")"

    def rec(i):
        if i == len(ls) - 1:
            return f"({ls[i]}) {op} ({rs[i]})"
        return (
            f"({ls[i]}) {'<' if op.startswith('<') else '>'} ({rs[i]}) "
            f"OR (({ls[i]}) = ({rs[i]}) AND ({rec(i + 1)}))"
        )

    return f"({rec(0)})"


def translate_row_comparisons(sql: str) -> str:
    """PG row-constructor comparisons — ``(a, b) < (c, d)``,
    ``ROW(a, b) = ...``, ``(a, b) IN ((1, 2), (3, 4))`` (keyset
    pagination's everyday shapes). Spark compares structs with
    nulls-FIRST ordering and null-insensitive (in)equality, silently
    diverging from PG's three-valued rules (probed: ``(1, NULL) <
    (1, 3)`` is TRUE in Spark, NULL in PG; ``(1, NULL) = (1, 3)`` is
    FALSE in Spark, NULL in PG). Expand to PG's own definition:
    pairwise AND / OR for =/<>, the lexicographic expansion for the
    order operators, OR-of-equalities for IN (NOT IN negates).
    Emitted comparisons are scalar, so the rescan terminates."""
    return _rewrite(sql, [_find_row_comparison])[0]


def _find_row_comparison(sql, tokens):
    for i, t in enumerate(tokens):
        is_cmp = t.kind == "OP" and t.value in _ROW_CMP_OPS
        is_in = _is_kw(t, "IN")
        if not (is_cmp or is_in):
            continue
        # left side: a ')' closing a bare row constructor
        # (for IN, an interposed NOT: ``(a, b) NOT IN (...)``)
        k = i - 1
        neg_in = False
        if is_in and k >= 0 and _is_kw(tokens[k], "NOT"):
            neg_in = True
            k -= 1
        if k < 0 or not _is_punct(tokens[k], ")"):
            continue
        lopen = _open(tokens, k)
        if lopen is None:
            continue
        lstart = _row_ctor_start(tokens, lopen)
        if lstart is None:
            continue
        lrow = _row_group(tokens, lopen, sql)
        if lrow is None:
            continue
        _, ltexts = lrow
        if is_cmp:
            ropen = i + 1
            if ropen < len(tokens) and _is_kw(tokens[ropen], "ROW"):
                ropen += 1
            rrow = _row_group(tokens, ropen, sql) if ropen < len(tokens) else None
            if rrow is None or len(rrow[1]) != len(ltexts):
                continue
            rclose, rtexts = rrow
            repl = _lex_expansion(ltexts, rtexts, t.value)
            return tokens[lstart].start, tokens[rclose].end, repl
        # IN / NOT IN over a list of row constructors
        lopen2 = i + 1
        if not (lopen2 < len(tokens) and _is_punct(tokens[lopen2], "(")):
            continue
        lclose2, item_spans = _close(tokens, lopen2)
        if lclose2 is None:
            continue
        if tokens[lopen2 + 1].upper == "SELECT":
            continue  # subquery form — guard policy handles it
        alts = []
        for s0, _ in item_spans:
            s1 = s0 + 1 if _is_kw(tokens[s0], "ROW") else s0
            item = _row_group(tokens, s1, sql)
            if item is None or len(item[1]) != len(ltexts):
                break
            alts.append(_lex_expansion(ltexts, item[1], "="))
        else:
            if alts:
                repl = "(" + " OR ".join(alts) + ")"
                if neg_in:
                    repl = f"(NOT {repl})"
                return tokens[lstart].start, tokens[lclose2].end, repl
    return None


def translate_row_overlaps(sql: str) -> str:
    """SQL-standard ``(s1, e1) OVERLAPS (s2, e2)`` (PG supports it;
    Spark's parser rejects the row syntax) → the standard's half-open
    interval rule spelled out: each pair normalizes (swap so start ≤
    end), a pair with equal endpoints means that single instant, and
    otherwise ``[s, e)`` intervals overlap iff ``s1 < e2 AND s2 < e1``.
    Probed against PG's documented examples. NULL endpoints follow PG's
    full truth table (timestamp_overlaps: a pair with a NULL start takes
    the non-null endpoint as its start; a determinate TRUE/FALSE is
    returned when one known endpoint decides the answer, NULL only when
    it genuinely cannot) — r8-ADVICE closed the silent NULL-collapse."""
    return _rewrite(sql, [_find_row_overlaps])[0]


def _find_row_overlaps(sql, tokens):
    at = next(
        (i for i in range(1, len(tokens) - 1) if _is_kw(tokens[i], "OVERLAPS")),
        None,
    )
    if at is None:
        return None
    if not (_is_punct(tokens[at - 1], ")") and _is_punct(tokens[at + 1], "(")):
        raise ValueError(
            "OVERLAPS needs (start, end) row constructors on both sides"
        )
    lopen = _open(tokens, at - 1)
    rclose, rargs = _close(tokens, at + 1)
    if lopen is None or rclose is None:
        raise ValueError("unbalanced OVERLAPS row constructor")
    if (
        lopen > 0
        and tokens[lopen - 1].kind == "IDENT"
        and tokens[lopen - 1].upper not in _OPERAND_BOUNDARY
    ):
        # `foo(a, b) OVERLAPS …` — a call, not a row constructor;
        # PG rejects this shape too
        raise ValueError(
            "OVERLAPS needs (start, end) row constructors on both sides"
        )
    largs = _close(tokens, lopen)[1]
    if len(largs) != 2 or len(rargs) != 2:
        raise ValueError("OVERLAPS takes (start, end) pairs on both sides")
    a, b = (_span_text(sql, tokens, sp) for sp in largs)
    c, d = (_span_text(sql, tokens, sp) for sp in rargs)
    # PG's normalization: a pair with a NULL start takes the
    # non-null endpoint as its start and a NULL end; otherwise
    # start/end sort. Both-NULL pairs fall through to NULL via the
    # start-IS-NULL arm below.
    ls = (
        f"(CASE WHEN ({a}) IS NULL THEN ({b}) "
        f"WHEN ({b}) IS NULL THEN ({a}) "
        f"ELSE least(({a}), ({b})) END)"
    )
    le = (
        f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL THEN NULL "
        f"ELSE greatest(({a}), ({b})) END)"
    )
    rs = (
        f"(CASE WHEN ({c}) IS NULL THEN ({d}) "
        f"WHEN ({d}) IS NULL THEN ({c}) "
        f"ELSE least(({c}), ({d})) END)"
    )
    re_ = (
        f"(CASE WHEN ({c}) IS NULL OR ({d}) IS NULL THEN NULL "
        f"ELSE greatest(({c}), ({d})) END)"
    )
    # PG's decision table (half-open [s, e); equal-endpoint pair =
    # single instant): when the starts differ, the later start
    # against the other pair's end decides; a needed-but-NULL end
    # yields NULL, an unneeded one doesn't.
    repl = (
        f"(CASE "
        f"WHEN {ls} IS NULL OR {rs} IS NULL THEN CAST(NULL AS BOOLEAN) "
        f"WHEN {ls} > {rs} THEN CASE "
        f"WHEN {re_} IS NULL THEN CAST(NULL AS BOOLEAN) "
        f"WHEN {ls} < {re_} THEN TRUE "
        f"WHEN {le} IS NULL THEN CAST(NULL AS BOOLEAN) "
        f"ELSE FALSE END "
        f"WHEN {ls} < {rs} THEN CASE "
        f"WHEN {le} IS NULL THEN CAST(NULL AS BOOLEAN) "
        f"WHEN {rs} < {le} THEN TRUE "
        f"WHEN {re_} IS NULL THEN CAST(NULL AS BOOLEAN) "
        f"ELSE FALSE END "
        f"ELSE CASE WHEN {le} IS NULL OR {re_} IS NULL "
        f"THEN CAST(NULL AS BOOLEAN) ELSE TRUE END END)"
    )
    return tokens[lopen].start, tokens[rclose].end, repl


def translate_null_counters(sql: str) -> str:
    """PG ``num_nonnulls(v1, …)`` / ``num_nulls(v1, …)`` → a sum of
    per-argument CASE terms (argument types may be mixed, so an array
    spelling is unavailable)."""
    return _rewrite(sql, [_find_null_counter])[0]


def _find_null_counter(sql, tokens):
    hit = _find_call(tokens, ("num_nonnulls", "num_nulls"))
    if hit is None:
        return None
    close, args = _close(tokens, hit + 1)
    if close is None:
        raise ValueError(f"unbalanced {tokens[hit].value}() call")
    texts = _arg_texts(sql, tokens, args)
    if not texts:
        raise ValueError(f"{tokens[hit].value}() needs at least one argument")
    null_is = "NOT NULL" if tokens[hit].value.lower() == "num_nonnulls" else "NULL"
    terms = " + ".join(
        f"CASE WHEN ({t}) IS {null_is} THEN 1 ELSE 0 END" for t in texts
    )
    return tokens[hit].start, tokens[close].end, f"({terms})"


def translate_set_returning(sql: str) -> str:
    """Rewrite the SRF subset above; raise ValueError outside it."""
    return _rewrite(sql, [_find_set_returning])[0]


def _find_set_returning(sql, tokens):
    calls = list(_calls(tokens, _SRF_NAMES))
    if not calls:
        return None
    top = [k for k, _ in _top_level(tokens, 0, len(tokens) - 1)]
    if len(calls) > 1:
        # PG ≥10 evaluates several SRFs in LOCKSTEP (rows = longest,
        # shorter ones null-padded) — exactly arrays_zip + inline
        # (probed). Translatable subset: all of them unnest, as
        # CONSECUTIVE bare SELECT items; anything else rejects.
        return _translate_lockstep_unnest(sql, tokens, set(top), calls)
    i = calls[0]
    fname = tokens[i].value.lower()
    if i not in top:
        raise ValueError(
            f"{fname}() is only translatable as a bare top-level "
            "SELECT item (not inside expressions or subqueries)"
        )
    # must be a SELECT-list item: nearest clause keyword to the left
    # at depth 0 is SELECT, and the item starts right at the call
    k = next(
        (
            k
            for k in reversed(top)
            if k < i and tokens[k].kind == "IDENT" and tokens[k].upper in _SELECT_LIST_BOUNDARY
        ),
        -1,
    )
    if k < 0 or tokens[k].upper != "SELECT":
        raise ValueError(
            f"{fname}() is a set-returning function — PG allows it "
            "only in the SELECT list, and so does the translation"
        )
    prev = tokens[i - 1]
    if not (
        prev.upper in ("SELECT", "DISTINCT")
        or (prev.kind == "PUNCT" and prev.value == ",")
    ):
        raise ValueError(
            f"{fname}() is only translatable as a bare SELECT item "
            "(no surrounding expression)"
        )
    # close paren + args
    close, args = _close(tokens, i + 1)
    if close is None:
        raise ValueError(f"unbalanced {fname}() call")
    arg_texts = _arg_texts(sql, tokens, args)
    # round-9: optional WITH ORDINALITY suffix (PG's FROM-clause
    # spelling, admitted here as a SELECT-list extension — PG itself
    # rejects the spelling in a select list, so accepting it cannot
    # silently change any PG-valid query; docs/PARITY.md round-9)
    ord_end = close
    with_ordinality = (
        close + 2 < len(tokens)
        and tokens[close + 1].kind == "IDENT"
        and tokens[close + 1].upper == "WITH"
        and tokens[close + 2].kind == "IDENT"
        and tokens[close + 2].upper == "ORDINALITY"
    )
    if with_ordinality:
        ord_end = close + 2
    # (arr, elem-template on __gfw_x) per function; identity elems
    # keep the plain explode fast path below
    elem = "__gfw_x"
    if fname == "unnest":
        if len(arg_texts) == 0:
            raise ValueError("unnest takes at least one argument")
        if len(arg_texts) > 1:
            # PG's multi-array lockstep unnest (FROM-clause form,
            # admitted as a SELECT-list extension): arrays_zip
            # null-pads to the longest array — the lockstep rule
            if with_ordinality:
                raise ValueError(
                    "multi-argument unnest WITH ORDINALITY is outside "
                    "the translatable subset"
                )
            after = tokens[close + 1] if close + 1 < len(tokens) else None
            if after is not None and (
                after.kind == "QIDENT"
                or (after.kind == "IDENT" and after.upper == "AS")
                or (
                    after.kind == "IDENT"
                    and after.upper not in _OPERAND_BOUNDARY
                )
            ):
                raise ValueError(
                    "multi-argument unnest produces several columns "
                    "— a single alias cannot name them"
                )
            names = ", ".join(
                "unnest" if k == 0 else f"unnest_{k}"
                for k in range(len(arg_texts))
            )
            zipped = ", ".join(f"({t})" for t in arg_texts)
            gen = f"inline(arrays_zip({zipped})) AS ({names})"
            return tokens[i].start, tokens[close].end, gen
        arr = f"({arg_texts[0]})"
    elif fname == "generate_series":
        if len(arg_texts) == 2:
            a, b = arg_texts
            arr = (
                f"(CASE WHEN ({a}) <= ({b}) "
                f"THEN sequence(({a}), ({b})) "
                f"ELSE slice(sequence(({a}), ({a})), 1, 0) END)"
            )
        elif len(arg_texts) == 3:
            a, b, step = arg_texts
            # timestamp series (round-10): a literal-interval step
            # ('1 day'::interval / INTERVAL '1 day') classifies AT
            # TRANSLATION — sign and family are known, so the
            # emission is a direct sequence() over CAST(ts) bounds
            # (PG's generate_series(date, ...) also returns
            # timestamps). Spark's sequence is stop-inclusive like
            # PG. Zero steps raise here (PG raises at runtime).
            step_lit = None
            st = step.strip()
            if st.lower().endswith("::interval"):
                step_lit = _single_string_literal(
                    st[: -len("::interval")]
                )
            elif st.upper().startswith("INTERVAL"):
                step_lit = _single_string_literal(st[len("INTERVAL") :])
            if step_lit is not None:
                months, us = _parse_pg_interval(step_lit)
                if months and us:
                    raise ValueError(
                        "generate_series interval step mixing "
                        "year/month with day-time quantities is "
                        "outside the translatable subset"
                    )
                if months == 0 and us == 0:
                    raise ValueError(
                        "generate_series step must not be zero"
                    )
                ivl = _interval_cast_sql(step_lit)
                ta = f"CAST(({a}) AS TIMESTAMP)"
                tb = f"CAST(({b}) AS TIMESTAMP)"
                empty = f"slice(sequence({ta}, {ta}, {ivl}), 1, 0)"
                cmp = "<=" if (months + us) > 0 else ">="
                arr = (
                    f"(CASE WHEN {ta} {cmp} {tb} "
                    f"THEN sequence({ta}, {tb}, {ivl}) "
                    f"ELSE {empty} END)"
                )
            else:
                # dynamic numeric steps (round-8 widening): the
                # sign is checked AT RUNTIME — wrong-sign bounds
                # give PG's zero rows (Spark's sequence would
                # raise), and step 0 raises like PG (assert_true
                # inside a lazy CASE arm)
                empty = f"slice(sequence(({a}), ({a})), 1, 0)"
                arr = (
                    f"(CASE "
                    f"WHEN ({step}) = 0 THEN CASE WHEN assert_true("
                    f"false, 'generate_series step must not be zero') "
                    f"IS NULL THEN {empty} END "
                    f"WHEN ({step}) > 0 AND ({a}) <= ({b}) "
                    f"THEN sequence(({a}), ({b}), ({step})) "
                    f"WHEN ({step}) < 0 AND ({a}) >= ({b}) "
                    f"THEN sequence(({a}), ({b}), ({step})) "
                    f"ELSE {empty} END)"
                )
        else:
            raise ValueError("generate_series takes 2 or 3 arguments")
    elif fname.endswith("_object_keys"):
        if len(arg_texts) != 1:
            raise ValueError(f"{fname} takes exactly one argument")
        # PG raises on a non-object ("cannot call … on a scalar /
        # an array") — same assert_true arm as the array SRFs.
        # jsonb canonical key order is length-then-bytewise (the
        # comparator below; bytewise approximated by Spark string
        # order — exact for ASCII keys); json_ keeps document
        # order. NB json (non-b) duplicate keys are deduplicated
        # by the map parse — a documented boundary.
        arg = arg_texts[0]
        parsed = f"from_json(({arg}), 'map<string, variant>')"
        keys = f"map_keys({parsed})"
        if fname.startswith("jsonb"):
            keys = (
                f"array_sort({keys}, (l, r) -> CASE "
                f"WHEN length(l) < length(r) THEN -1 "
                f"WHEN length(l) > length(r) THEN 1 "
                f"WHEN l < r THEN -1 WHEN l > r THEN 1 ELSE 0 END)"
            )
        empty = "slice(array(''), 1, 0)"
        arr = (
            f"(CASE "
            f"WHEN ({arg}) IS NULL THEN CAST(NULL AS ARRAY<STRING>) "
            f"WHEN {parsed} IS NULL THEN CASE WHEN assert_true("
            f"false, '{fname} must be applied to a json object') "
            f"IS NULL THEN {empty} END "
            f"ELSE {keys} END)"
        )
    else:
        if len(arg_texts) != 1:
            raise ValueError(f"{fname} takes exactly one argument")
        elem = (
            "CAST(__gfw_x AS STRING)"
            if fname.endswith("_text")
            else "to_json(__gfw_x)"
        )
        # PG RAISES on a non-array argument ("cannot extract
        # elements from a scalar/an object"); from_json alone would
        # yield NULL → explode → silent row-drop. Loud-raise arm
        # (same assert_true-in-lazy-CASE recipe as generate_series
        # step 0); SQL NULL input keeps PG's zero rows, while a
        # json null SCALAR raises like any other scalar in PG.
        arg = arg_texts[0]
        parsed = f"from_json(({arg}), 'array<variant>')"
        empty = "slice(array(''), 1, 0)"
        arr = (
            f"(CASE "
            f"WHEN ({arg}) IS NULL "
            f"THEN CAST(NULL AS ARRAY<STRING>) "
            f"WHEN {parsed} IS NULL THEN CASE WHEN assert_true("
            f"false, '{fname} must be applied to a json array') "
            f"IS NULL THEN {empty} END "
            f"ELSE transform({parsed}, __gfw_x -> {elem}) END)"
        )
        # the raise-arm transform already applied the element
        # template; downstream the elements are plain strings
        elem = "__gfw_x"
    # alias: keep a user AS/bare alias, else add PG's default name
    nxt = tokens[ord_end + 1] if ord_end + 1 < len(tokens) else None
    alias = None
    if nxt is not None:
        if nxt.kind == "IDENT" and nxt.upper == "AS":
            if ord_end + 2 < len(tokens):
                atok = tokens[ord_end + 2]
                alias = f"`{atok.value}`" if atok.kind == "QIDENT" else atok.value
        elif nxt.kind == "QIDENT":
            alias = f"`{nxt.value}`"
        elif nxt.kind == "IDENT" and nxt.upper not in _OPERAND_BOUNDARY:
            alias = nxt.value
    # the item must END here: a trailing operator (`unnest(a) / 2`)
    # means the SRF sits inside an expression — reject with the
    # subset error instead of a confusing downstream parse failure
    item_end = ord_end
    if alias is not None:
        item_end = ord_end + (
            2 if (nxt.kind == "IDENT" and nxt.upper == "AS") else 1
        )
    trailing = tokens[item_end + 1] if item_end + 1 < len(tokens) else None
    if trailing is not None and not (
        (trailing.kind == "PUNCT" and trailing.value == ",")
        or (
            trailing.kind == "IDENT"
            and trailing.upper in _SELECT_LIST_BOUNDARY
        )
        or (trailing.kind == "IDENT" and trailing.upper == "FROM")
    ):
        raise ValueError(
            f"{fname}() is only translatable as a bare SELECT item "
            "(no surrounding expression)"
        )
    if with_ordinality:
        # PG's WITH ORDINALITY: 1-based BIGINT position column named
        # `ordinality`, AFTER the value column. A user alias names
        # the value column (keep it out of the rewritten span — the
        # struct fields carry both names).
        name = alias or _SRF_NAMES[fname]
        span_hi = tokens[item_end].end
        gen = (
            f"inline(transform({arr}, (__gfw_x, __gfw_i) -> "
            f"struct({elem} AS {name}, "
            f"CAST(__gfw_i + 1 AS BIGINT) AS ordinality)))"
        )
        return tokens[i].start, span_hi, gen
    else:
        gen = f"explode({arr})"
        if alias is None:
            gen += f" AS {_SRF_NAMES[fname]}"
        return tokens[i].start, tokens[close].end, gen


# ---------------------------------------------------------------------------
# round-8 schema-aware typing (VERDICT r7 #1): the passes above are
# type-blind, so PG semantics that depend on operand TYPES were documented
# divergences (docs/PARITY.md). With the bound table's column types —
# which execute_on_dataframe has, exactly like the reference's Postgres
# gets them from the catalog — the remaining everyday silent divergences
# close:
#   int / int        PG truncates toward zero (7/2 = 3); Spark promotes
#                    to DOUBLE (3.5) — SILENTLY wrong. → Spark's infix
#                    ``div`` (probed: truncates toward zero, -7 div 2 = -3,
#                    same multiplicative precedence tier as ``/``).
#   date - date      PG returns integer days; Spark an INTERVAL.
#                    → datediff(l, r).
#   bool::int        PG 0/1; the DECIMAL-routed cast rewrite raised.
#                    → plain CAST (probed: Spark bool→int gives 0/1).
#   float8::int      PG rounds HALF-EVEN; the DECIMAL route rounds
#                    half-away. → CAST(rint(x) AS …) (probed half-even).
#   CAST(f8 AS int)  the spelled form never got the rounding rewrite at
#                    all (Spark truncates). → same rint route; a
#                    known-DECIMAL operand gets round(x, 0) (Spark
#                    HALF_UP = PG numeric's half-away).
# Inference is deliberately conservative: unknown operand types leave the
# SQL untouched (the pre-round-8 behavior), so the pass can only move
# translations TOWARD PG semantics.
# ---------------------------------------------------------------------------

# column/expression type categories
_INTEGRAL_CATS = ("smallint", "int", "bigint")

_PG_TYPE_CATEGORY = {
    "int2": "smallint", "smallint": "smallint",
    "int4": "int", "int": "int", "integer": "int",
    "int8": "bigint", "bigint": "bigint", "oid": "bigint",
    "float4": "float", "real": "float",
    "float8": "double", "float": "double", "double": "double",
    "numeric": "decimal", "decimal": "decimal", "money": "decimal",
    "bool": "bool", "boolean": "bool",
    "date": "date",
    "timestamp": "timestamp", "timestamptz": "timestamp",
    "text": "string", "varchar": "string", "char": "string",
    "bpchar": "string", "name": "string", "uuid": "string",
    "json": "string", "jsonb": "string", "xml": "string",
}

_SPARK_TYPENAME_CATEGORY = {
    "byte": "smallint", "short": "smallint",
    "integer": "int", "long": "bigint",
    "float": "float", "double": "double",
    "boolean": "bool", "date": "date",
    "timestamp": "timestamp", "timestamp_ntz": "timestamp",
    "string": "string",
}

_INT_CAT_SPARK_TYPE = {"smallint": "SMALLINT", "int": "INT", "bigint": "BIGINT"}

# PG return types for the functions the typed pass needs to see through
# (categories; structural cases — sum/min/floor/… — handled in code)
_FN_CATEGORY = {
    "count": "bigint",
    "datediff": "int",  # our own date-minus emission
    "length": "int", "char_length": "int", "character_length": "int",
    "octet_length": "int", "bit_length": "int", "strpos": "int",
    "position": "int", "ascii": "int", "cardinality": "int",
    "width_bucket": "int",
    "extract": "decimal",  # PG >= 14: numeric
    "date_part": "double",  # PG: double precision (unlike extract)
    # round-10: PG gcd/lcm return the integer family (our emission is
    # a BIGINT Euclid fold) — without this, gcd(a, b) / 3 kept Spark's
    # float division where PG truncates
    "gcd": "bigint", "lcm": "bigint",
    "div": "decimal",  # PG div() returns numeric
    "sign": "decimal",
    "random": "double",
    "rint": "double", "log10": "double",  # our own emissions
    "year": "int", "month": "int", "day": "int",  # shared spellings
    # window functions (PG return types)
    "row_number": "bigint", "rank": "bigint", "dense_rank": "bigint",
    "ntile": "int",
    "percent_rank": "double", "cume_dist": "double",
}


def schema_type_categories(schema) -> dict[str, str]:
    """Column-name → type-category map from a Spark ``StructType`` —
    the ``column_types`` input of :func:`to_spark_sql`. Decimal types
    have parameterized typeNames, so they are prefix-matched."""
    out: dict[str, str] = {}
    for f in schema.fields:
        tn = f.dataType.typeName()
        if tn.startswith("decimal"):
            out[f.name.lower()] = "decimal"
        else:
            out[f.name.lower()] = _SPARK_TYPENAME_CATEGORY.get(tn, "unknown")
    return out


def _top_level_split(tokens, lo, hi):
    """Positions of top-level arithmetic/concat operators in the span
    [lo, hi], or None if a construct outside the simple-expression
    grammar appears at top level (comparison, CASE, comma, …) — the
    caller then types the span as unknown."""
    ops = []
    case_depth = 0
    reached = lo - 1
    for k, reached in _top_level(tokens, lo, hi):
        t = tokens[k]
        if _is_punct(t, ")"):
            return None  # closes a group opened before the span
        if _is_kw(t, "CASE"):
            # CASE…END is an opaque primary for splitting purposes
            # (its arms are typed by _operand_type)
            case_depth += 1
        elif case_depth > 0:
            if _is_kw(t, "END"):
                case_depth -= 1
        elif t.kind == "OP" and t.value in ("+", "-", "*", "/", "%"):
            # unary sign (start of span or right after an operator)
            if t.value in "+-" and (
                k == lo
                or tokens[k - 1].kind == "OP"
                or _is_kw(tokens[k - 1], "DIV")
            ):
                continue
            ops.append(k)
        elif t.kind == "OP" and t.value == "||":
            ops.append(k)
        elif _is_kw(t, "DIV"):
            ops.append(k)
        elif t.kind == "OP" and t.value != "::":
            return None  # comparison/regex/json operator: not typed
        elif t.kind == "PUNCT" and t.value in (",", ";"):
            return None
        elif t.kind == "IDENT" and t.upper in _OPERAND_BOUNDARY:
            return None
    return ops if reached == hi and case_depth == 0 else None


def _fold_types(left: str, op: str, right: str) -> str:
    """PG result-type category of ``left <op> right``."""
    if "unknown" in (left, right):
        return "unknown"
    if op == "||":
        return "string"
    if left in _INTEGRAL_CATS and right in _INTEGRAL_CATS:
        return _INTEGRAL_CATS[
            max(_INTEGRAL_CATS.index(left), _INTEGRAL_CATS.index(right))
        ]
    if left == "date":
        if right in _INTEGRAL_CATS and op in ("+", "-"):
            return "date"
        if right == "date" and op == "-":
            return "int"
        return "unknown"
    if right == "date":
        if left in _INTEGRAL_CATS and op == "+":
            return "date"
        return "unknown"
    numeric = set(_INTEGRAL_CATS) | {"decimal", "double", "float"}
    if left in numeric and right in numeric:
        if "double" in (left, right) or "float" in (left, right):
            return "double"
        return "decimal"
    return "unknown"


def _span_type(tokens, lo, hi, coltypes) -> str:
    """Type category of the expression tokens[lo..hi] (inclusive), or
    ``unknown`` when inference cannot be certain — callers never
    rewrite on unknown."""
    while lo <= hi and tokens[lo].kind == "OP" and tokens[lo].value in "+-":
        lo += 1
    if lo > hi:
        return "unknown"
    # FILTER/OVER suffixes: `agg(…) FILTER (…) OVER (… | name)` types
    # as the aggregate itself (the clauses scope rows, not the type)
    if tokens[hi].kind == "PUNCT" and tokens[hi].value == ")":
        k = _open(tokens, hi)
        if (
            k is not None
            and k - 1 > lo
            and tokens[k - 1].kind == "IDENT"
            and tokens[k - 1].upper in ("FILTER", "OVER")
        ):
            return _span_type(tokens, lo, k - 2, coltypes)
    elif (
        hi - 1 > lo
        and tokens[hi].kind in ("IDENT", "QIDENT")
        and tokens[hi - 1].kind == "IDENT"
        and tokens[hi - 1].upper == "OVER"
    ):
        # named window: `fn(…) OVER w`
        return _span_type(tokens, lo, hi - 2, coltypes)
    ops = _top_level_split(tokens, lo, hi)
    if ops is None:
        return "unknown"
    if ops:
        bounds = [lo - 1] + ops + [hi + 1]
        acc = None
        for b in range(len(bounds) - 1):
            s, e = bounds[b] + 1, bounds[b + 1] - 1
            t = _span_type(tokens, s, e, coltypes)
            if acc is None:
                acc = t
            else:
                op_tok = tokens[bounds[b]]
                op = "div" if op_tok.kind == "IDENT" else op_tok.value
                acc = _fold_types(acc, op, t)
            if acc == "unknown":
                return "unknown"
        return acc
    return _operand_type(tokens, lo, hi, coltypes)


def _args_spans(tokens, lo, hi, seps=()):
    """Top-level comma-separated argument spans inside tokens[lo..hi]
    (the contents of a call's parens, parens excluded); the keywords
    in ``seps`` (upper-case) separate spans too."""
    spans, depth, start = [], 0, lo
    for k in range(lo, hi + 1):
        t = tokens[k]
        if t.kind == "PUNCT" and t.value in ("(", "["):
            depth += 1
        elif t.kind == "PUNCT" and t.value in (")", "]"):
            depth -= 1
        elif depth == 0 and (
            (t.kind == "PUNCT" and t.value == ",")
            or (seps and t.kind == "IDENT" and t.upper in seps)
        ):
            spans.append((start, k - 1))
            start = k + 1
    spans.append((start, hi))
    return spans


def _operand_type(tokens, lo, hi, coltypes) -> str:
    """Type category of a single primary (no top-level binary ops)."""
    # trailing ::type cast decides (rightmost top-level ::)
    last_cast = None
    for k, _ in _top_level(tokens, lo, hi):
        if tokens[k].kind == "OP" and tokens[k].value == "::":
            last_cast = k
    if last_cast is not None and last_cast + 1 <= hi:
        tt = tokens[last_cast + 1]
        if tt.kind == "IDENT":
            name = tt.value.lower()
            if name == "double":  # double precision
                return "double"
            return _PG_TYPE_CATEGORY.get(name, "unknown")
        return "unknown"
    first = tokens[lo]
    if lo == hi:
        if first.kind == "NUMBER":
            return "int" if first.value.isdigit() else "decimal"
        if first.kind == "IDENT":
            u = first.upper
            if u in ("TRUE", "FALSE"):
                return "bool"
            if u == "CURRENT_DATE":
                return "date"
            if u in ("CURRENT_TIMESTAMP", "LOCALTIMESTAMP", "NOW"):
                return "timestamp"
            return coltypes.get(first.value.lower(), "unknown")
        if first.kind == "QIDENT":
            return coltypes.get(first.value.lower(), "unknown")
        return "unknown"
    # typed literal: DATE '…' / TIMESTAMP '…'
    if (
        first.kind == "IDENT"
        and hi == lo + 1
        and tokens[hi].kind == "STRING"
        and first.upper in ("DATE", "TIMESTAMP")
    ):
        return first.value.lower()
    # dotted identifier chain
    if first.kind in ("IDENT", "QIDENT") and tokens[hi].kind in ("IDENT", "QIDENT"):
        if all(
            tokens[k].kind == "PUNCT" and tokens[k].value == "."
            for k in range(lo + 1, hi, 2)
        ) and (hi - lo) % 2 == 0:
            return coltypes.get(tokens[hi].value.lower(), "unknown")
    # parenthesized group
    if (
        first.kind == "PUNCT"
        and first.value == "("
        and tokens[hi].kind == "PUNCT"
        and tokens[hi].value == ")"
    ):
        return _span_type(tokens, lo + 1, hi - 1, coltypes)
    # CASE…END: fold the THEN/ELSE arm types (PG types the CASE from
    # its result arms; a bare NULL arm is typeless and skipped)
    if (
        first.kind == "IDENT"
        and first.upper == "CASE"
        and tokens[hi].kind == "IDENT"
        and tokens[hi].upper == "END"
    ):
        arms = []
        cd = 0  # nested CASE…END depth
        arm_start = None
        for k, _ in _top_level(tokens, lo + 1, hi):
            t = tokens[k]
            if t.kind != "IDENT":
                continue
            if t.upper == "CASE":
                cd += 1
            elif cd > 0:
                if t.upper == "END":
                    cd -= 1
            elif t.upper in ("THEN", "ELSE", "WHEN", "END"):
                if arm_start is not None:
                    arms.append((arm_start, k - 1))
                    arm_start = None
                if t.upper in ("THEN", "ELSE"):
                    arm_start = k + 1
        acc = None
        for s, e in arms:
            if s > e:
                return "unknown"
            if s == e and tokens[s].kind == "IDENT" and tokens[s].upper == "NULL":
                continue
            t = _span_type(tokens, s, e, coltypes)
            if acc is None:
                acc = t
            elif t != acc:
                if acc in _INTEGRAL_CATS and t in _INTEGRAL_CATS:
                    acc = _INTEGRAL_CATS[
                        max(_INTEGRAL_CATS.index(acc), _INTEGRAL_CATS.index(t))
                    ]
                else:
                    return "unknown"
            if acc == "unknown":
                return "unknown"
        return acc or "unknown"
    # function call
    if (
        first.kind == "IDENT"
        and lo + 1 <= hi
        and tokens[lo + 1].kind == "PUNCT"
        and tokens[lo + 1].value == "("
        and tokens[hi].kind == "PUNCT"
        and tokens[hi].value == ")"
    ):
        fname = first.value.lower()
        if fname in _FN_CATEGORY:
            return _FN_CATEGORY[fname]
        if fname == "cast":
            # CAST(expr AS type): the top-level AS decides
            for k, _ in _top_level(tokens, lo + 2, hi - 1):
                if _is_kw(tokens[k], "AS") and tokens[k + 1].kind == "IDENT":
                    name = tokens[k + 1].value.lower()
                    if name == "double":
                        return "double"
                    return _PG_TYPE_CATEGORY.get(name, "unknown")
            return "unknown"
        alo, ahi = lo + 2, hi - 1
        if ahi < alo:
            return "unknown"
        # skip a leading DISTINCT/ALL quantifier
        if tokens[alo].kind == "IDENT" and tokens[alo].upper in ("DISTINCT", "ALL"):
            alo += 1
        args = _args_spans(tokens, alo, ahi)
        argts = [_span_type(tokens, s, e, coltypes) for s, e in args if s <= e]
        if not argts:
            return "unknown"
        if fname == "sum":
            # PG: sum(int2/int4) → int8; sum(int8) → numeric
            if argts[0] in ("smallint", "int"):
                return "bigint"
            if argts[0] == "bigint":
                return "decimal"
            if argts[0] in ("double", "float"):
                return "double"
            if argts[0] == "decimal":
                return "decimal"
            return "unknown"
        if fname == "avg":
            # PG: avg(int*/numeric) → numeric; avg(float4/float8) →
            # double precision (NOT numeric — r8-ADVICE: routing
            # CAST(avg(dbl) AS INT) through HALF_UP round diverged
            # from PG's float8 half-even).
            if argts[0] in ("smallint", "int", "bigint", "decimal"):
                return "decimal"
            if argts[0] in ("double", "float"):
                return "double"
            return "unknown"
        if fname in (
            "min", "max", "abs", "nullif",
            "lag", "lead", "first_value", "last_value",
        ):
            return argts[0]
        if fname in ("coalesce", "greatest", "least"):
            acc = argts[0]
            for t in argts[1:]:
                if t == acc:
                    continue
                if acc in _INTEGRAL_CATS and t in _INTEGRAL_CATS:
                    acc = _INTEGRAL_CATS[
                        max(_INTEGRAL_CATS.index(acc), _INTEGRAL_CATS.index(t))
                    ]
                else:
                    return "unknown"
            return acc
        if fname == "mod":
            if (
                len(argts) == 2
                and argts[0] in _INTEGRAL_CATS
                and argts[1] in _INTEGRAL_CATS
            ):
                return _INTEGRAL_CATS[
                    max(_INTEGRAL_CATS.index(argts[0]), _INTEGRAL_CATS.index(argts[1]))
                ]
            return "decimal"
        if fname in ("floor", "ceil", "ceiling", "round", "trunc"):
            # PG: floor(float8) → float8, floor(numeric) → numeric
            return "double" if argts[0] in ("double", "float") else "decimal"
        return "unknown"
    return "unknown"


def _left_primary(tokens, k):
    """Start index of the primary (with any ::cast suffixes) whose last
    token is tokens[k], or None."""
    lstart = _primary_start(tokens, k)
    if lstart is None:
        return None
    lstart = _absorb_cast_left(tokens, lstart)
    # FILTER/OVER suffixes: `agg(…) FILTER (WHERE …) OVER (… | name)`
    # is ONE operand — _primary_start stops at the suffix (FILTER/OVER
    # are boundary keywords), so walk back across them to the call
    while True:
        if (
            lstart >= 2
            and tokens[lstart].kind == "PUNCT"
            and tokens[lstart].value == "("
            and tokens[lstart - 1].kind == "IDENT"
            and tokens[lstart - 1].upper in ("FILTER", "OVER")
        ):
            back = lstart - 2  # paren window/filter form
        elif (
            lstart >= 2
            and tokens[lstart].kind == "IDENT"
            and tokens[lstart - 1].kind == "IDENT"
            and tokens[lstart - 1].upper == "OVER"
        ):
            back = lstart - 2  # named window: OVER w
        else:
            break
        p = _primary_start(tokens, back)
        if p is None:
            break
        lstart = _absorb_cast_left(tokens, p)
    # typed literal: DATE '…' / TIMESTAMP '…' — absorb the keyword
    if (
        lstart >= 1
        and tokens[lstart].kind == "STRING"
        and tokens[lstart - 1].kind == "IDENT"
        and tokens[lstart - 1].upper in ("DATE", "TIMESTAMP")
    ):
        lstart -= 1
    return lstart


def _right_primary(tokens, k):
    """End index of the primary starting at tokens[k] (with any ::cast
    suffixes and DATE/TIMESTAMP typed-literal keywords), or None."""
    if (
        k + 1 < len(tokens)
        and tokens[k].kind == "IDENT"
        and tokens[k].upper in ("DATE", "TIMESTAMP")
        and tokens[k + 1].kind == "STRING"
    ):
        return _absorb_cast_right(tokens, k + 1)
    rend = _primary_end(tokens, k)
    if rend is None:
        return None
    # FILTER/OVER suffixes: absorb `FILTER (…)` and `OVER (… | name)`
    rend = _suffix_end(tokens, _absorb_cast_right(tokens, rend))
    return _absorb_cast_right(tokens, rend)


_MULT_CHAIN_OPS = ("*", "/", "%")


def _find_int_division(sql, tokens, coltypes):
    """``a / b`` with both sides integral → ``a div b`` (same
    multiplicative precedence tier, so the token swap preserves
    grouping; left-associative chains rewrite left-to-right like PG
    evaluates them)."""
    for i, t in enumerate(tokens):
        if t.kind != "OP" or t.value != "/" or i == 0 or i + 1 >= len(tokens):
            continue
        rend = _right_primary(tokens, i + 1)
        if rend is None:
            continue
        # PG ^ (float8 power) binds TIGHTER than / — a trailing
        # `^` means the real operand is the power expression
        # (double), so the division must stay float
        if (
            rend + 1 < len(tokens)
            and tokens[rend + 1].kind == "OP"
            and tokens[rend + 1].value == "^"
        ):
            continue
        if _span_type(tokens, i + 1, rend, coltypes) not in _INTEGRAL_CATS:
            continue
        lstart = _left_primary(tokens, i - 1)
        if lstart is None:
            continue
        # left operand of / is the whole multiplicative chain
        while lstart >= 2 and (
            (
                tokens[lstart - 1].kind == "OP"
                and tokens[lstart - 1].value in _MULT_CHAIN_OPS
            )
            or _is_kw(tokens[lstart - 1], "DIV")
        ):
            p = _left_primary(tokens, lstart - 2)
            if p is None:
                break
            lstart = p
        # ^ before the chain start: the real left operand is the
        # power expression (float8 in PG) — keep float division
        if (
            lstart > 0
            and tokens[lstart - 1].kind == "OP"
            and tokens[lstart - 1].value == "^"
        ):
            continue
        if _span_type(tokens, lstart, i - 1, coltypes) not in _INTEGRAL_CATS:
            continue
        return t.start, t.end, " div "
    return None


def _find_date_minus(sql, tokens, coltypes):
    """``date - date`` → ``datediff(l, r)`` (PG: integer days). The
    left operand absorbs the full additive chain (``d + 1 - d2`` is
    ``(d + 1) - d2`` in PG, still date-typed on the left)."""
    for i, t in enumerate(tokens):
        if t.kind != "OP" or t.value != "-" or i == 0 or i + 1 >= len(tokens):
            continue
        rend = _right_primary(tokens, i + 1)
        if rend is None:
            continue
        # ^ binds tighter in PG — a power-adjacent operand is not
        # the subtraction operand (see _find_int_division)
        if (
            rend + 1 < len(tokens)
            and tokens[rend + 1].kind == "OP"
            and tokens[rend + 1].value == "^"
        ) or (tokens[i - 1].kind == "OP" and tokens[i - 1].value == "^"):
            continue
        if _span_type(tokens, i + 1, rend, coltypes) != "date":
            continue
        lstart = _left_primary(tokens, i - 1)
        if lstart is None:
            continue
        while lstart >= 2 and (
            (
                tokens[lstart - 1].kind == "OP"
                and tokens[lstart - 1].value
                in ("+", "-") + _MULT_CHAIN_OPS
            )
            or _is_kw(tokens[lstart - 1], "DIV")
        ):
            p = _left_primary(tokens, lstart - 2)
            if p is None:
                break
            lstart = p
        if _span_type(tokens, lstart, i - 1, coltypes) != "date":
            continue
        l_lo, l_hi = tokens[lstart].start, tokens[i - 1].end
        r_lo, r_hi = tokens[i + 1].start, tokens[rend].end
        return l_lo, r_hi, f"datediff({sql[l_lo:l_hi]}, {sql[r_lo:r_hi]})"
    return None


def _find_typed_round(sql, tokens, coltypes):
    """PG ``round(float8)`` rounds HALF-EVEN (rint; the known PG gotcha
    vs numeric's half-away), Spark's round is HALF_UP for every type —
    silently different at exact halves. Single-argument round over a
    known double/float operand → ``rint``; decimal/unknown operands
    keep Spark round (HALF_UP = PG numeric). Integral operands are
    identity in both engines. 2-arg round of a float is a PG ERROR
    (no round(float8, int) exists) — left untouched as an extension."""
    for i in _calls(tokens, ("round",)):
        close, args = _close(tokens, i + 1)
        if close is None or len(args) != 1:
            continue
        s0, e0 = args[0]
        if _span_type(tokens, s0, e0, coltypes) not in ("double", "float"):
            continue
        inner = sql[tokens[s0].start : tokens[e0].end]
        return tokens[i].start, tokens[close].end, f"rint({inner})"
    return None


# Type-aware int-cast routes (both cast spellings):
# - bool → int family: plain CAST (Spark gives PG's 0/1; the generic
#   DECIMAL route would raise on round(boolean)).
# - float/double → int family: CAST(rint(x) AS …) — PG float8→int is
#   HALF-EVEN, which is exactly ``rint``.
# - spelled CAST(x AS int) of a known DECIMAL: round(x, 0) first —
#   Spark's CAST truncates, PG's numeric→int rounds half-away, which
#   is Spark round's HALF_UP. (The ``::`` spelling already rounds via
#   the generic DECIMAL route.)
# Unknown operand types keep the generic behavior.


def _find_typed_int_cast(sql, tokens, coltypes):
    """``x::int`` spelling of the int-cast routes."""
    for i, t in enumerate(tokens):
        if t.kind != "OP" or t.value != "::" or i == 0 or i + 1 >= len(tokens):
            continue
        tt = tokens[i + 1]
        if tt.kind != "IDENT":
            continue
        cat = _PG_TYPE_CATEGORY.get(tt.value.lower())
        if cat not in _INTEGRAL_CATS:
            continue
        lstart = _left_primary(tokens, i - 1)
        if lstart is None:
            continue
        otype = _span_type(tokens, lstart, i - 1, coltypes)
        if otype not in ("bool", "float", "double"):
            continue
        op_text = sql[tokens[lstart].start : tokens[i - 1].end]
        spark_t = _INT_CAT_SPARK_TYPE[cat]
        if otype == "bool":
            repl = f"CAST({op_text} AS {spark_t})"
        else:
            repl = f"CAST(rint({op_text}) AS {spark_t})"
        return tokens[lstart].start, tt.end, repl
    return None


def _find_typed_spelled_cast(sql, tokens, coltypes):
    """``CAST(x AS int)`` spelling of the int-cast routes."""
    for i in _calls(tokens, ("cast",)):
        close, as_at = _cast_as(tokens, i)
        if as_at is None or close is None or close != as_at + 2:
            continue  # not a single-token target type
        cat = _PG_TYPE_CATEGORY.get(tokens[as_at + 1].value.lower())
        if cat not in _INTEGRAL_CATS:
            continue
        otype = _span_type(tokens, i + 2, as_at - 1, coltypes)
        if otype not in ("float", "double", "decimal"):
            continue
        op_lo = tokens[i + 2].start
        op_hi = tokens[as_at - 1].end
        op_text = sql[op_lo:op_hi]
        # marker check: already-rewritten operands start with rint(/round(
        if op_text.startswith("rint(") or op_text.startswith("round("):
            continue
        if otype == "decimal":
            repl = f"round({op_text}, 0)"
        else:
            repl = f"rint({op_text})"
        return op_lo, op_hi, repl
    return None


def _typed_finders(column_types):
    """The schema-aware finders bound to ``column_types`` lower-cased
    (none without types: the type-blind behavior, documented in
    docs/PARITY.md)."""
    if column_types is None:
        return []
    coltypes = {k.lower(): v for k, v in column_types.items()}
    return [
        functools.partial(find, coltypes=coltypes)
        for find in (
            _find_typed_round,
            _find_typed_int_cast,
            _find_typed_spelled_cast,
            _find_date_minus,
            _find_int_division,
        )
    ]


def translate_typed_ops(sql: str, column_types: dict[str, str] | None) -> str:
    """Schema-aware PG-semantics rewrites (see the block comment above).
    ``column_types`` maps lower-cased column names to type categories —
    build one from a DataFrame schema with :func:`schema_type_categories`.
    Without types the pass is the identity."""
    if column_types is None:
        return sql
    return _rewrite(sql, _typed_finders(column_types))[0]


def _find_concat_nullskip(sql, tokens, last):
    """PG ``concat(...)`` SKIPS NULL arguments (concat('a', NULL) =
    'a'); Spark's concat NULL-poisons — silently different. PG concat
    is text-typed always, and ``concat_ws('', ...)`` is exactly its
    skip-NULLs text semantics — EXCEPT that concat_ws FLATTENS
    array<string> arguments (concat_ws('', array('a','b'), 'z') =
    'abz' where PG renders the array as text), so every argument is
    wrapped in CAST(... AS STRING): identical for scalars (concat_ws
    casts implicitly with the same rules) and element-preserving for
    arrays. Residual (documented in PARITY): Spark renders an array
    cast as '[a, b]' where PG renders '{a,b}'. User ``concat_ws(sep,
    ...)`` (round-10) gets the same CAST-each-argument treatment — PG
    renders an array argument as text while Spark's concat_ws flattens
    it WITH the separator; the scalar NULL-skip semantics already
    agree. MUST run before any pass that emits a Spark ``concat(``
    itself (json ops, array_cat, literal splicing) — those emissions
    want Spark semantics and stay untouched; this pass's own
    concat_ws emissions are skipped by position. The
    ``||`` operator NULL-poisons in BOTH engines and is not
    affected."""
    # our concat_ws emission sits at the last rewrite's start
    at = next(
        (i for i in _calls(tokens, ("concat", "concat_ws")) if tokens[i].start > last),
        None,
    )
    if at is None:
        return None
    fname = tokens[at].value.lower()
    close, args = _close(tokens, at + 1)
    if close is None:
        raise ValueError(f"unbalanced {fname}(...)")
    texts = _arg_texts(sql, tokens, args)
    if fname == "concat_ws":
        if len(texts) < 2:
            raise ValueError(
                "concat_ws takes a separator and at least one value"
            )
        wrapped = ", ".join(
            f"CAST(({t}) AS STRING)" for t in texts[1:]
        )
        repl = f"concat_ws(({texts[0]}), {wrapped})"
    else:
        if not texts:
            raise ValueError("concat takes at least one argument")
        wrapped = ", ".join(f"CAST(({t}) AS STRING)" for t in texts)
        repl = f"concat_ws('', {wrapped})"
    return tokens[at].start, tokens[close].end, repl


_FTS_FUNCTIONS = frozenset(
    {
        "to_tsvector",
        "to_tsquery",
        "plainto_tsquery",
        "phraseto_tsquery",
        "websearch_to_tsquery",
        "ts_rank",
        "ts_rank_cd",
        "ts_headline",
        "ts_rewrite",
        "querytree",
        "setweight",
        "tsvector_to_array",
        "array_to_tsvector",
        "get_current_ts_config",
    }
)


def _reject_fulltext_search(sql, tokens):
    """PG full-text search is ADMITTED by the reference's pass-through
    (not in its blocklists — query_helpers.py:50-78 blocks only
    admin/system names), but Spark has no tsvector type: previously
    these died as Spark's opaque unresolved-function error. Per the
    closed-vocabulary policy the rejection is now NAMED (round-11,
    verdict r10 #7): the dictionary-driven stemming/stopword pipeline
    behind to_tsvector has no Spark twin, so a silent approximation
    would diverge on almost every document. A finder that never
    edits: it raises or returns None."""
    call = _find_call(tokens, _FTS_FUNCTIONS)
    for i, t in enumerate(tokens):
        if i == call:
            raise ValueError(
                f"PostgreSQL full-text search ('{t.value}', the "
                "tsvector/tsquery family and the @@ match operator) "
                "is outside the translatable subset: its dictionary-"
                "driven stemming and stopword pipeline has no Spark "
                "twin. Use LIKE/ILIKE, ~* regex matching, or the "
                "engine's tokenization operators instead."
            )
        if (
            t.kind == "OP"
            and t.value == "@"
            and i + 1 < len(tokens)
            and tokens[i + 1].kind == "OP"
            and tokens[i + 1].value == "@"
            and tokens[i + 1].start == t.end
        ):
            raise ValueError(
                "PostgreSQL full-text search (the @@ match operator "
                "and the tsvector/tsquery family) is outside the "
                "translatable subset: its dictionary-driven stemming "
                "and stopword pipeline has no Spark twin. Use "
                "LIKE/ILIKE, ~* regex matching, or the engine's "
                "tokenization operators instead."
            )


def _reject_unsupported_frames(sql, tokens):
    """Window-frame features Spark lacks get NAMED rejections instead
    of opaque ParseExceptions (round-11): PG 11's GROUPS frame mode
    (peer-group offsets) and the frame EXCLUDE clause (CURRENT ROW /
    GROUP / TIES). Only flagged INSIDE an OVER (...) group, so columns
    named 'groups'/'exclude' elsewhere are untouched. ROWS and RANGE
    frames (including PG 11 RANGE offsets) are Spark-native and pass
    through. A finder that never edits: it raises or returns None."""
    for i in _calls(tokens, ("over",)):
        close, _ = _close(tokens, i + 1)
        for tk in tokens[i + 2 : close] if close is not None else ():
            if _is_kw(tk, "GROUPS"):
                raise ValueError(
                    "the GROUPS window frame mode (peer-group "
                    "offsets, PG 11) has no Spark twin; use ROWS "
                    "or RANGE frames"
                )
            if _is_kw(tk, "EXCLUDE"):
                raise ValueError(
                    "the window frame EXCLUDE clause (EXCLUDE "
                    "CURRENT ROW / GROUP / TIES, PG 11) has no "
                    "Spark twin; subtract the excluded rows "
                    "explicitly (e.g. sum(...) OVER w - CASE "
                    "WHEN ... END)"
                )
    return None


def _pipeline(column_types):
    """Every pass's finders, in pipeline order (stateful finders are
    built fresh per translation)."""
    return [
        _reject_fulltext_search,  # named error, not Spark's opaque one
        _reject_unsupported_frames,
        *_typed_finders(column_types),  # schema-aware, PG-typed
        _after_last_edit(_find_concat_nullskip),  # before passes that EMIT concat(
        _find_json_op,  # first: later passes emit -> lambdas
        _find_json_exists,  # before array_literal: eats ARRAY[..]
        _find_json_contains,
        _find_jsonb_concat,  # before pg_casts eats ::jsonb
        _find_set_returning,  # after json ops; emits explode()
        _find_row_overlaps,
        _find_row_comparison,  # after OVERLAPS eats its pairs
        _find_null_counter,
        _find_distinct_on,
        _after_last_edit(_find_to_char),
        _find_json_agg,  # → array_agg, handled next
        _find_agg_order_by,
        _find_array_literal,
        _find_any_all,
        _find_cast_type_name,
        _find_pg_cast,
        _find_array_subscript,  # after casts eat type [] pairs
        _find_date_part,  # → EXTRACT, handled next
        _find_extract,
        _find_at_time_zone,  # after casts resolve operands
        _find_between_symmetric,
        _find_caret_power,
        _find_unary_math_op,  # @ / |/ / ||/ prefixes
        _find_like_op,  # before the ~ regex family
        _find_like_backslash,  # after ~~ became LIKE
        _find_named_regex_fn,
        _find_regex_op,
        _find_similar_to,
        *_PG_FUNCTION_FINDERS,
        _after_last_edit(_find_math_domain),  # after log→log10 and ^→power
        _after_last_edit(_find_regexp_replace),
        _find_substring_regex,
        _after_last_edit(_find_substr_positional),  # after regex form is consumed
        _find_left_right,
        _find_fetch_first,
        _find_order_nulls,
    ]


def to_spark_sql(sql: str, column_types: dict[str, str] | None = None) -> str:
    """All PG→Spark surface translations: the pipeline's finders over
    one token stream, then every string literal written in Spark's
    default spelling (LITERAL CONTRACT)."""
    sql, tokens = _rewrite(sql, _pipeline(column_types))
    return _spark_literals(sql, tokens)


def _spark_literals(sql, tokens):
    """Respell each STRING token's verbatim value for Spark's default
    parser: ``\\`` → ``\\\\`` and ``'`` → ``''``. A single pass, not a
    finder: its output would match again. Literals with neither
    character stay byte-identical."""
    out, pos = [], 0
    for t in tokens:
        if t.kind == "STRING" and ("'" in t.value or "\\" in t.value):
            value = t.value.replace("\\", "\\\\").replace("'", "''")
            out += [sql[pos : t.start], f"'{value}'"]
            pos = t.end
    out.append(sql[pos:])
    return "".join(out)
