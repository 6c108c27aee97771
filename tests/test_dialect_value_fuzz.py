"""Differential VALUE-fuzz for the PG dialect layer (VERDICT r6 #2).

The existing fuzz (test_dialect_fuzz.py) proves typed rejection and
ANSI pass-through identity; the q31–q45 gates pin fixed samples. This
harness pins the space BETWEEN them: a seeded generator builds random
well-typed PG expressions from the gated surface (casts, ``^``,
EXTRACT fields, regex/SIMILAR TO operators, jsonb ops, ANY/ALL,
regexp_replace flags, string/date breadth, BETWEEN SYMMETRIC), runs
each through ``to_spark_sql`` → Spark AND through an INDEPENDENTLY
derived DuckDB twin (DuckDB shares PG's surface for most constructs;
where it diverges — SIMILAR TO is plain-regex, decimal casts
truncate, no ``~*``/``btrim`` — the twin compensates with its own
mapping, written here, not imported from the dialect), and compares
values. For pure string-slicing constructs (substr/left/right) the
expected value is computed in PYTHON from PG's documented rules — a
third, fully independent oracle.

All atoms are literals, so expressions are constants: 1,200 of them
batch 40-per-SELECT into ~30 Spark queries. A batch failure bisects
to name the culprit expression.
"""

from __future__ import annotations

import math
import random
from decimal import Decimal

import duckdb
import pytest

from gfw_data_api_spark.sql.dialect import run_pg_sql, to_spark_sql

N_EXPRS = 1200
BATCH = 40
SEED = 20260815

STR_POOL = [
    "abc",
    "Hello World",
    "a,b,c",
    "x",
    "",
    "Ab1 cd2",
    "the quick brown fox",
    "aXbXc",
    "  pad  ",
    "Łódź",
    # LITERAL CONTRACT stressors: quotes and backslashes must survive
    "don't",
    "a\\b",
    "trail\\",
]
KEY_POOL = ["k", "a", "b", "café"]
JSON_POOL = [
    '{"k": 5, "s": "x"}',
    '{"k": null, "a": 1}',
    '{"s": "5"}',
    '["foo", "bar", 2]',
    '[1, 2.0, true]',
    "[]",
    '{"a": 1, "b": 2}',
    # non-ASCII keys and values: Spark to_json emits raw UTF-8, so the
    # dialect's comparison literals must not \uXXXX-escape (ADVICE r7)
    '{"café": "Łódź", "k": "café"}',
    '["café", "Łódź"]',
]
REGEX_POOL = [
    "[0-9]+", "a.c", "^H", "o+", "([a-z])X", "q[a-z]*", "\\s+",
    # POSIX classes: native on PG/DuckDB, spliced to \p{...} for Java
    "[[:digit:]]+", "^[[:alpha:]]", "[[:space:]]", "[[:word:]]+",
]
SIMILAR_POOL = ["a%", "%b%", "a_c", "(a|b)%", "%fox", "H%d"]
DATE_POOL = ["1995-07-16", "2024-02-29", "2021-01-01", "1997-12-31", "2024-03-17"]
# PG to_char template → strftime (independent of the dialect's Java map)
TO_CHAR_POOL = [
    ("YYYY-MM-DD", "%Y-%m-%d"),
    ("DD.MM.YYYY", "%d.%m.%Y"),
    ("YYYYDDD", "%Y%j"),
    ("Mon DD", "%b %d"),
    ("Dy", "%a"),
    ("YYYY-DDD", "%Y-%j"),
]


def q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def pg_substr(s: str, start: int, n: int | None) -> str:
    """PG substr rules: positions live on the number line."""
    if n is None:
        lo = max(start, 1)
        return s[lo - 1 :]
    lo = max(start, 1)
    hi = start + n - 1  # inclusive
    if hi < lo:
        return ""
    return s[lo - 1 : hi]


class Gen:
    """Returns (pg_sql, duck_sql, kind, exact) tuples. kind in
    NUM/STR/BOOL/DATE; exact=False when a double-producing construct
    (^, EPOCH) is in the subtree (disables round() wrapping, loosens
    the numeric compare)."""

    def __init__(self, rng: random.Random, num_cols=None, str_cols=None):
        # optional COLUMN atoms (same spelling in both engines) let the
        # statement-level fuzz thread real table data through the
        # generated expressions; the Python-expected arms (substr/
        # left/right/initcap/overlay/width_bucket/trunc) draw their own
        # literal strings internally and stay column-free by design
        self.r = rng
        self.num_cols = num_cols or []
        self.str_cols = str_cols or []

    # ---------------- atoms ----------------
    def int_atom(self):
        if self.num_cols and self.r.random() < 0.35:
            c = self.r.choice(self.num_cols)
            return c, c, "NUM", True
        v = self.r.randint(-20, 100)
        t = f"({v})" if v < 0 else str(v)
        return t, t, "NUM", True

    def dec_atom(self):
        v = round(self.r.uniform(-50, 50), self.r.randint(1, 3))
        t = f"({v})" if v < 0 else str(v)
        return t, t, "NUM", True

    def str_atom(self):
        if self.str_cols and self.r.random() < 0.35:
            c = self.r.choice(self.str_cols)
            return c, c, "STR", True
        s = q(self.r.choice(STR_POOL))
        return s, s, "STR", True

    def date_atom(self):
        d = f"DATE '{self.r.choice(DATE_POOL)}'"
        return d, d, "DATE", True

    # ---------------- numeric ----------------
    def num(self, depth):
        if depth <= 0:
            return self.r.choice([self.int_atom, self.dec_atom])()
        pick = self.r.randrange(14)
        if pick == 13:
            # round-11 (VERDICT r10 #1): epoch of intervals — year-
            # month spellings 0–30 months, negatives, 'ago' forms,
            # both the literal and make_interval routes; DuckDB's
            # NATIVE extract(epoch from interval) is the twin (it
            # implements PG's 365.25-day-year + truncating-split
            # rule; values are integral so exact compare holds)
            if self.r.random() < 0.6:
                m = self.r.randint(-30, 30)
                ago = self.r.random() < 0.3 and m > 0
                eff = -m if ago else m
                if self.r.random() < 0.5:
                    spell = f"'{m} months ago'" if ago else f"'{m} months'"
                    pg = f"extract(epoch from {spell}::interval)"
                else:
                    et = f"({eff})" if eff < 0 else str(eff)
                    pg = (
                        f"extract(epoch from make_interval("
                        f"months => {et}))"
                    )
                dt = f"({eff})" if eff < 0 else str(eff)
                return (
                    pg,
                    f"extract(epoch from to_months({dt}))",
                    "NUM",
                    True,
                )
            n = self.r.randint(-500, 500)
            slot, dk_fn = self.r.choice(
                [("mins", "to_minutes"), ("hours", "to_hours"),
                 ("days", "to_days")]
            )
            nt = f"({n})" if n < 0 else str(n)
            return (
                f"extract(epoch from make_interval({slot} => {nt}))",
                f"extract(epoch from {dk_fn}({nt}))",
                "NUM",
                True,
            )
        if pick <= 2:  # arithmetic
            a_pg, a_dk, _, ax = self.num(depth - 1)
            b_pg, b_dk, _, bx = self.num(depth - 1)
            op = self.r.choice(["+", "-", "*"])
            return (
                f"({a_pg} {op} {b_pg})",
                f"({a_dk} {op} {b_dk})",
                "NUM",
                ax and bx,
            )
        if pick == 3:  # modulo / integer div over ints
            a_pg, a_dk, _, _ = self.int_atom()
            b = self.r.randint(1, 9)
            if self.r.random() < 0.4:
                # PG div() truncates toward zero; DuckDB lacks div —
                # (a - a%b)//b is exact toward-zero for ints (% takes
                # the dividend's sign in both engines)
                return (
                    f"div({a_pg}, {b})",
                    f"(({a_dk} - ({a_dk} % {b})) // {b})",
                    "NUM",
                    True,
                )
            return f"({a_pg} % {b})", f"({a_dk} % {b})", "NUM", True
        if pick == 4:  # power (PG ^; DuckDB shares the operator AND
            # the unary-minus-binds-tighter precedence)
            a = self.r.randint(-5, 9)
            b = self.r.randint(0, 3)
            a_t = f"({a})" if a < 0 else str(a)
            return f"({a_t} ^ {b})", f"({a_t} ^ {b})", "NUM", False
        if pick == 5:
            a_pg, a_dk, _, ax = self.num(depth - 1)
            fn = self.r.choice(["abs", "floor", "ceil"])
            return f"{fn}({a_pg})", f"{fn}({a_dk})", "NUM", ax
        if pick == 6:  # round over EXACT subtrees only (doubles
            # round half-even in PG vs half-up in Spark)
            a_pg, a_dk, _, ax = self.num(depth - 1)
            if not ax:
                return a_pg, a_dk, "NUM", ax
            d = self.r.randint(0, 2)
            return f"round({a_pg}, {d})", f"round({a_dk}, {d})", "NUM", True
        if pick == 7:
            a_pg, a_dk, _, ax = self.num(depth - 1)
            b_pg, b_dk, _, bx = self.num(depth - 1)
            fn = self.r.choice(["greatest", "least"])
            return (
                f"{fn}({a_pg}, {b_pg})",
                f"{fn}({a_dk}, {b_dk})",
                "NUM",
                ax and bx,
            )
        if pick == 8:
            s_pg, s_dk, _, _ = self.string(depth - 1)
            return f"length({s_pg})", f"length({s_dk})", "NUM", True
        if pick == 9:  # EXTRACT over a date — or its date_part spelling
            d_pg, d_dk, _, _ = self.date(depth - 1)
            f = self.r.choice(
                ["DOW", "ISODOW", "YEAR", "MONTH", "DAY", "QUARTER", "WEEK",
                 "ISOYEAR", "DOY", "DECADE", "CENTURY", "MILLENNIUM"]
            )
            if self.r.random() < 0.4:
                # DuckDB's date_part shares PG's field semantics
                return (
                    f"date_part('{f.lower()}', {d_pg})",
                    f"date_part('{f.lower()}', {d_dk})",
                    "NUM",
                    True,
                )
            return (
                f"EXTRACT({f} FROM {d_pg})",
                f"EXTRACT({f} FROM {d_dk})",
                "NUM",
                True,
            )
        if pick == 10:  # position
            sub = q(self.r.choice(["b", "o", "z", "X"]))
            s_pg, s_dk, _, _ = self.string(depth - 1)
            return (
                f"position({sub} IN {s_pg})",
                f"position({sub} IN {s_dk})",
                "NUM",
                True,
            )
        if pick == 11 and self.r.random() < 0.5:  # trunc — PYTHON expected
            # engines do exact DECIMAL arithmetic: mirror with Decimal
            # (float math would drift at e.g. 123.4 * 10)
            xv = Decimal(str(round(self.r.uniform(-500, 500), 3)))
            n = self.r.choice([None, 0, 1, 2, -1])
            quant = Decimal(1).scaleb(-(n or 0))
            from decimal import ROUND_DOWN

            tv = xv.quantize(quant, rounding=ROUND_DOWN)
            xt = f"({xv})" if xv < 0 else str(xv)
            call = f"trunc({xt})" if n is None else f"trunc({xt}, {n})"
            return call, str(tv), "NUM", True
        if pick == 11:  # width_bucket — PYTHON-computed expected
            import math as _m

            x = round(self.r.uniform(-5, 15), 2)
            lo, hi, nb = 0, 10, self.r.randint(1, 5)
            if x < lo:
                exp = 0
            elif x >= hi:
                exp = nb + 1
            else:
                exp = int(_m.floor(nb * (x - lo) / (hi - lo))) + 1
            xt = f"({x})" if x < 0 else str(x)
            return (
                f"width_bucket({xt}, {lo}, {hi}, {nb})",
                str(exp),
                "NUM",
                True,
            )
        # int-family cast: PG rounds half away on numerics; DuckDB's
        # integer cast shares that, so the twin is the same text
        a_pg, a_dk, _, ax = self.num(depth - 1)
        if not ax:
            return a_pg, a_dk, "NUM", ax
        ty = self.r.choice(["int", "bigint", "smallint"])
        return f"({a_pg})::{ty}", f"CAST({a_dk} AS BIGINT)", "NUM", True

    # ---------------- strings ----------------
    def string(self, depth):
        if depth <= 0:
            return self.str_atom()
        pick = self.r.randrange(16)
        if pick == 15:  # round-10 bytea: encode(text::bytea/hex lit)
            if self.r.random() < 0.5:
                # backslash-free literal only: PG ITSELF raises on a
                # stray backslash in bytea input (escape format) — our
                # loud arm matches PG, but DuckDB's encode() does not
                s = self.r.choice(
                    [x for x in STR_POOL if "\\" not in x] or ["abc"]
                )
                return (
                    f"encode(({q(s)})::bytea, 'hex')",
                    f"lower(hex(encode(({q(s)}))))",
                    "STR",
                    True,
                )
            hx = "".join(
                self.r.choice("0123456789abcdef") for _ in range(6)
            )
            return (
                f"encode('\\x{hx}'::bytea, 'hex')",
                q(hx),
                "STR",
                True,
            )
        if pick == 0:
            a_pg, a_dk, _, _ = self.string(depth - 1)
            b_pg, b_dk, _, _ = self.string(depth - 1)
            return f"({a_pg} || {b_pg})", f"({a_dk} || {b_dk})", "STR", True
        if pick == 1:
            a_pg, a_dk, _, _ = self.string(depth - 1)
            fn = self.r.choice(["upper", "lower", "trim", "reverse"])
            return f"{fn}({a_pg})", f"{fn}({a_dk})", "STR", True
        if pick == 2:  # btrim/ltrim/rtrim with chars: DuckDB shares
            # PG's (str, chars) order for all three (Spark reverses
            # ltrim/rtrim — the dialect's TRIM-syntax rewrite)
            a_pg, a_dk, _, _ = self.string(depth - 1)
            ch = q(self.r.choice(["x", "a ", " ", "ab"]))
            fn = self.r.choice(["btrim", "ltrim", "rtrim"])
            dk_fn = "trim" if fn == "btrim" else fn
            return (
                f"{fn}({a_pg}, {ch})",
                f"{dk_fn}({a_dk}, {ch})",
                "STR",
                True,
            )
        if pick == 3:  # substr with Python-computed expected
            s = self.r.choice(STR_POOL)
            start = self.r.randint(-3, 6)
            n = self.r.choice([None, 0, 1, 2, 5])
            if n is None:
                pg = f"substr({q(s)}, {start})" if start >= 0 else f"substr({q(s)}, ({start}))"
            else:
                st = f"({start})" if start < 0 else str(start)
                pg = f"substr({q(s)}, {st}, {n})"
            expected = pg_substr(s, start, n)
            return pg, q(expected), "STR", True
        if pick == 4:  # left/right with Python-computed expected
            s = self.r.choice(STR_POOL)
            n = self.r.randint(-4, 5)
            fn = self.r.choice(["left", "right"])
            nt = f"({n})" if n < 0 else str(n)
            if fn == "left":
                # PG left: n>=0 first n chars; n<0 all but last |n|
                expected = s[: max(len(s) + n, 0)] if n < 0 else s[:n]
            else:
                # PG right: n>=0 last n chars; n<0 all but first |n|
                expected = s[-n:] if n < 0 else s[max(len(s) - n, 0) :] if n > 0 else ""
            return f"{fn}({q(s)}, {nt})", q(expected), "STR", True
        if pick == 5:
            a_pg, a_dk, _, _ = self.string(depth - 1)
            n = self.r.randint(0, 8)
            fill = q(self.r.choice(["x", "xy", "-"]))
            fn = self.r.choice(["lpad", "rpad"])
            return (
                f"{fn}({a_pg}, {n}, {fill})",
                f"{fn}({a_dk}, {n}, {fill})",
                "STR",
                True,
            )
        if pick == 6:
            a_pg, a_dk, _, _ = self.string(depth - 1)
            n = self.r.randint(0, 3)
            return f"repeat({a_pg}, {n})", f"repeat({a_dk}, {n})", "STR", True
        if pick == 7:
            a_pg, a_dk, _, _ = self.string(depth - 1)
            frm = q(self.r.choice(["X", "o", "b", "zz"]))
            to = q(self.r.choice(["-", "", "YY"]))
            return (
                f"replace({a_pg}, {frm}, {to})",
                f"replace({a_dk}, {frm}, {to})",
                "STR",
                True,
            )
        if pick == 8:
            s = q(self.r.choice(["a,b,c", "one,two", "x", ""]))
            n = self.r.randint(1, 4)
            return (
                f"split_part({s}, ',', {n})",
                f"split_part({s}, ',', {n})",
                "STR",
                True,
            )
        if pick == 9:  # regexp_replace: DuckDB shares PG's first-only
            # default, g/i flags, and \n backrefs
            s_pg, s_dk, _, _ = self.string(depth - 1)
            pat, rep = self.r.choice(
                [
                    ("X", "-"),
                    ("[aeiou]", "_"),
                    ("([a-z])X", "<\\1>"),
                    ("o+", "0"),
                ]
            )
            flags = self.r.choice(["", "g", "i", "gi"])
            tail = f", '{flags}'" if flags else ""
            return (
                f"regexp_replace({s_pg}, {q(pat)}, {q(rep)}{tail})",
                f"regexp_replace({s_dk}, {q(pat)}, {q(rep)}{tail})",
                "STR",
                True,
            )
        if pick == 10:  # to_char with an independent strftime map
            d_pg, d_dk, _, _ = self.date(depth - 1)
            tpl, stf = self.r.choice(TO_CHAR_POOL)
            return (
                f"to_char({d_pg}, '{tpl}')",
                f"strftime({d_dk}, '{stf}')",
                "STR",
                True,
            )
        if pick == 11:  # substring-from-regex (PG NULL on miss)
            s_pg, s_dk, _, _ = self.string(depth - 1)
            pat = q(self.r.choice(REGEX_POOL))
            grp = ", 1" if "(" in pat and "(?" not in pat else ""
            return (
                f"substring({s_pg} FROM {pat})",
                f"CASE WHEN regexp_matches({s_dk}, {pat}) "
                f"THEN regexp_extract({s_dk}, {pat}{grp}) END",
                "STR",
                True,
            )
        if pick == 12:  # jsonb text extraction (keys and indexes,
            # incl. PG's negative from-the-end indexes)
            j = q(self.r.choice(JSON_POOL))
            if self.r.random() < 0.35:
                n = self.r.choice([0, 1, -1, -2, -5])
                idx = f"({n})" if n < 0 else str(n)
                return (
                    f"({j} ->> {idx})" if n >= 0 else f"({j} ->> -{-n})",
                    f"json_extract_string({j}, '$[{n}]')",
                    "STR",
                    True,
                )
            k = self.r.choice(KEY_POOL)
            return (
                f"({j} ->> '{k}')",
                f"json_extract_string({j}, '$.{k}')",
                "STR",
                True,
            )
        if pick == 13:  # initcap / overlay — PYTHON-computed expecteds
            # (DuckDB lacks both; PG rules implemented independently)
            s = self.r.choice(STR_POOL)
            if self.r.random() < 0.5:
                out = []
                prev_alnum = False
                for c in s.lower():
                    out.append(c if prev_alnum else c.upper())
                    prev_alnum = c.isalnum()
                return f"initcap({q(s)})", q("".join(out)), "STR", True
            r_s = self.r.choice(["XX", "-", ""])
            i = self.r.randint(1, max(len(s), 1))
            n = self.r.randint(0, 3)
            expected = s[: i - 1] + r_s + s[i - 1 + n :]
            return (
                f"overlay({q(s)} PLACING {q(r_s)} FROM {i} FOR {n})",
                q(expected),
                "STR",
                True,
            )
        # translate()
        a_pg, a_dk, _, _ = self.string(depth - 1)
        return (
            f"translate({a_pg}, 'abo', 'xy')",
            f"translate({a_dk}, 'abo', 'xy')",
            "STR",
            True,
        )

    # ---------------- dates ----------------
    def date(self, depth):
        if depth <= 0 or self.r.random() < 0.5:
            return self.date_atom()
        d_pg, d_dk, _, _ = self.date_atom()
        n = self.r.randint(-400, 400)
        nt = f"({n})" if n < 0 else str(n)
        return f"({d_pg} + {nt})", f"({d_dk} + {nt})", "DATE", True

    # ---------------- booleans ----------------
    def boolean(self, depth):
        pick = self.r.randrange(9)
        if pick == 8:  # round-10 interval comparisons (typed ctors)
            n1, n2 = self.r.randint(1, 90), self.r.randint(1, 90)
            u1 = self.r.choice(["mins", "hours", "days"])
            u2 = self.r.choice(["mins", "hours", "days"])
            pg_units = {"mins": "minutes", "hours": "hours", "days": "days"}
            dk_fn = {"mins": "to_minutes", "hours": "to_hours", "days": "to_days"}
            op = self.r.choice(["<", "<=", "=", ">", ">="])
            if self.r.random() < 0.5:
                lhs_pg = f"'{n1} {pg_units[u1]}'::interval"
            else:
                lhs_pg = f"make_interval({u1} => {n1})"
            return (
                f"({lhs_pg} {op} make_interval({u2} => {n2}))",
                f"({dk_fn[u1]}({n1}) {op} {dk_fn[u2]}({n2}))",
                "BOOL",
                True,
            )
        if pick == 0:
            a_pg, a_dk, _, _ = self.num(depth - 1)
            b_pg, b_dk, _, _ = self.num(depth - 1)
            op = self.r.choice(["<", "<=", "=", "<>", ">", ">="])
            return f"({a_pg} {op} {b_pg})", f"({a_dk} {op} {b_dk})", "BOOL", True
        if pick == 1 and self.r.random() < 0.3:  # LIKE/ILIKE ANY/ALL
            s_pg, s_dk, _, _ = self.string(depth - 1)
            pats = [self.r.choice(["a%", "%o%", "%c", "x", "_b%"]) for _ in range(2)]
            lits = ", ".join(q(p) for p in pats)
            fn = self.r.choice(["LIKE", "ILIKE"])
            which = self.r.choice(["ANY", "ALL"])
            dk_like = f"({s_dk} {fn} __p)"
            nulls = (
                f"len(list_filter([{lits}], __p -> ({dk_like}) IS NULL)) > 0"
            )
            if which == "ANY":
                # three-valued: TRUE beats NULL beats FALSE
                dk = (
                    f"(CASE WHEN len(list_filter([{lits}], __p -> {dk_like}))"
                    f" > 0 THEN true WHEN {nulls} THEN NULL ELSE false END)"
                )
            else:
                dk = (
                    f"(CASE WHEN len(list_filter([{lits}], "
                    f"__p -> NOT {dk_like})) > 0 THEN false "
                    f"WHEN {nulls} THEN NULL ELSE true END)"
                )
            return (
                f"({s_pg} {fn} {which}(ARRAY[{lits}]))",
                dk,
                "BOOL",
                True,
            )
        if pick == 1:  # regex match operators
            s_pg, s_dk, _, _ = self.string(depth - 1)
            pat = q(self.r.choice(REGEX_POOL))
            op = self.r.choice(["~", "~*", "!~", "!~*"])
            neg = "NOT " if op.startswith("!") else ""
            opts = ", 'i'" if op.endswith("*") else ""
            return (
                f"({s_pg} {op} {pat})",
                f"({neg}regexp_matches({s_dk}, {pat}{opts}))",
                "BOOL",
                True,
            )
        if pick == 2:  # SIMILAR TO via an independent converter
            s_pg, s_dk, _, _ = self.string(depth - 1)
            pat = self.r.choice(SIMILAR_POOL)
            rx = pat.replace("%", ".*").replace("_", ".")
            return (
                f"({s_pg} SIMILAR TO {q(pat)})",
                f"regexp_full_match({s_dk}, {q(rx)})",
                "BOOL",
                True,
            )
        if pick == 3:  # BETWEEN SYMMETRIC
            x_pg, x_dk, _, _ = self.num(depth - 1)
            a_pg, a_dk, _, _ = self.num(depth - 1)
            b_pg, b_dk, _, _ = self.num(depth - 1)
            return (
                f"({x_pg} BETWEEN SYMMETRIC {a_pg} AND {b_pg})",
                f"({x_dk} BETWEEN least({a_dk}, {b_dk}) "
                f"AND greatest({a_dk}, {b_dk}))",
                "BOOL",
                True,
            )
        if pick == 4:  # ANY / ALL over an array literal
            if self.r.random() < 0.3:
                # regex-match quantifiers (DuckDB lacks ~ ANY; the
                # list_filter twin replays the match per element —
                # non-NULL lhs here, so two-valued counting is exact)
                s = self.r.choice(["abc123", "Hello", "xyz"])
                pats = [self.r.choice(["^a", "[0-9]+", "z$", "H"]) for _ in range(2)]
                lits = ", ".join(q(p) for p in pats)
                which = self.r.choice(["ANY", "ALL"])
                agg = "> 0" if which == "ANY" else "= 2"
                return (
                    f"({q(s)} ~ {which}(ARRAY[{lits}]))",
                    f"(len(list_filter([{lits}], "
                    f"__p -> regexp_matches({q(s)}, __p))) {agg})",
                    "BOOL",
                    True,
                )
            x_pg, x_dk, _, _ = self.int_atom()
            vals = [str(self.r.randint(-5, 20)) for _ in range(3)]
            lst = ", ".join(vals)
            op = self.r.choice(["=", "<>", "<", ">"])
            which = self.r.choice(["ANY", "ALL"])
            return (
                f"({x_pg} {op} {which}(ARRAY[{lst}]))",
                f"({x_dk} {op} {which}(ARRAY[{lst}]))",
                "BOOL",
                True,
            )
        if pick == 5:  # jsonb key existence — PG scope: object key /
            # array string-element / scalar string equality
            j = q(self.r.choice(JSON_POOL + ['"foo"', '"k"', "5"]))
            k = self.r.choice(KEY_POOL + ["foo"])
            elems = (
                f"list_transform(range(CAST(json_array_length({j}) AS BIGINT)), "
                f"__i -> CAST(json_extract({j}, '$[' || __i || ']') AS VARCHAR))"
            )
            return (
                f"({j} ? '{k}')",
                f"coalesce(CASE WHEN json_type({j}) = 'OBJECT' "
                f"THEN list_contains(json_keys({j}), '{k}') "
                f"WHEN json_type({j}) = 'ARRAY' "
                f"THEN list_contains({elems}, '\"{k}\"') "
                f"ELSE CAST(try_cast({j} AS JSON) AS VARCHAR) = '\"{k}\"' "
                "END, false)",
                "BOOL",
                True,
            )
        if pick == 6:  # jsonb object containment
            j = q(self.r.choice(JSON_POOL))
            k = self.r.choice(KEY_POOL)
            v = self.r.choice([1, 5, 2])
            return (
                f"({j} @> '{{\"{k}\": {v}}}')",
                f"coalesce(try_cast(json_extract_string({j}, '$.{k}') "
                f"AS DOUBLE) = {v} AND "
                f"substring(CAST(json_extract({j}, '$.{k}') AS VARCHAR), 1, 1) "
                "IN ('-','0','1','2','3','4','5','6','7','8','9'), false)",
                "BOOL",
                True,
            )
        # boolean combinators
        a_pg, a_dk, _, _ = self.boolean(max(depth - 1, 0))
        b_pg, b_dk, _, _ = self.boolean(max(depth - 1, 0))
        op = self.r.choice(["AND", "OR"])
        return f"({a_pg} {op} {b_pg})", f"({a_dk} {op} {b_dk})", "BOOL", True

    def top(self):
        k = self.r.random()
        if k < 0.35:
            return self.num(2)
        if k < 0.70:
            return self.string(2)
        if k < 0.90:
            return self.boolean(2)
        # CASE wrapper
        c_pg, c_dk, _, _ = self.boolean(1)
        a_pg, a_dk, kind, ax = self.string(1) if self.r.random() < 0.5 else self.num(1)
        return (
            f"(CASE WHEN {c_pg} THEN {a_pg} END)",
            f"(CASE WHEN {c_dk} THEN {a_dk} END)",
            kind,
            ax,
        )


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    return v


def _same(a, b, exact: bool) -> bool:
    a, b = _norm(a), _norm(b)
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        tol = 1e-9 if exact else 1e-6
        return math.isclose(float(a), float(b), rel_tol=tol, abs_tol=tol)
    return str(a) == str(b)


def _run_batch(spark, con, batch):
    """Evaluate one batch on both engines; return mismatch reports."""
    spark_sql = to_spark_sql(
        "SELECT " + ", ".join(f"({pg}) AS c{i}" for i, (pg, _, _, _) in enumerate(batch))
    )
    duck_sql = "SELECT " + ", ".join(
        f"({dk}) AS c{i}" for i, (_, dk, _, _) in enumerate(batch)
    )
    srow = spark.sql(spark_sql).collect()[0]
    drow = con.sql(duck_sql).fetchone()
    bad = []
    for i, (pg, dk, kind, ex) in enumerate(batch):
        if not _same(srow[f"c{i}"], drow[i], ex):
            bad.append(
                f"  PG: {pg}\n  DUCK: {dk}\n"
                f"  spark={srow[f'c{i}']!r} duck={drow[i]!r} kind={kind}"
            )
    return bad


def test_differential_value_fuzz(spark):
    rng = random.Random(SEED)
    gen = Gen(rng)
    con = duckdb.connect()
    exprs = [gen.top() for _ in range(N_EXPRS)]
    failures = []
    for off in range(0, len(exprs), BATCH):
        batch = exprs[off : off + BATCH]
        try:
            failures.extend(_run_batch(spark, con, batch))
        except Exception:
            # bisect to name the culprit expression
            for item in batch:
                try:
                    failures.extend(_run_batch(spark, con, [item]))
                except Exception as exc:  # noqa: BLE001
                    failures.append(
                        f"  ERRORED\n  PG: {item[0]}\n  DUCK: {item[1]}\n"
                        f"  {type(exc).__name__}: {str(exc)[:200]}"
                    )
        if len(failures) > 40:
            break
    assert not failures, (
        f"{len(failures)} value mismatches out of {N_EXPRS}:\n"
        + "\n---\n".join(failures[:40])
    )


# ---------------------------------------------------------------------------
# Round-8 TYPED value fuzz (VERDICT r7 #1 done-criterion): expressions
# drawing COLUMN operands with known types, run through
# to_spark_sql(column_types=...) — the schema-aware pass — against
# independent DuckDB twins that spell out PG's typed semantics:
# toward-zero int division as exact integer arithmetic, float8→int as
# round_even, date - date natively (DuckDB shares PG's integer days).
# ---------------------------------------------------------------------------

N_TYPED = 300
TYPED_BATCH = 20

TYPED_CT = {
    "rid": "bigint", "ia": "int", "ib": "bigint", "sm": "smallint",
    "da": "date", "db": "date", "xf": "double", "bl": "bool",
    "dc": "decimal",
}


class TypedGen:
    """(pg_sql, duck_sql) pairs over the typed fuzz table."""

    def __init__(self, rng: random.Random):
        self.r = rng

    def int_operand(self):
        # nonzero by construction where used as a divisor
        return self.r.choice(
            ["ia", "ib", "sm", "(ia % 7 + 8)", "(sm * 2 + 1)",
             str(self.r.randint(1, 9)), f"({-self.r.randint(1, 9)})"]
        )

    def divisor(self):
        return self.r.choice(
            ["ib", "(ia % 7 + 8)", str(self.r.randint(1, 9)),
             f"({-self.r.randint(1, 9)})"]
        )

    def pick(self):
        arm = self.r.randrange(13)
        if arm == 12:  # r9: round(float8) is HALF-EVEN in PG (rint),
            # not Spark's HALF_UP; xf lands on exact .5 halves. DuckDB
            # round(double) is half-away — round_even is the twin.
            return "round(xf)", "round_even(xf, 0)"
        if arm == 10:  # r9: avg(float8) is DOUBLE in PG → cast half-EVEN
            # (windowed so the fuzz stays per-row; duck dbl→int is
            # half-even natively, an independent route)
            return (
                "CAST(avg(xf) OVER (PARTITION BY bl) AS BIGINT)",
                "CAST(avg(xf) OVER (PARTITION BY bl) AS BIGINT)",
            )
        if arm == 11:  # r9: avg(int) is NUMERIC in PG → cast half-AWAY
            col = self.r.choice(["ia", "sm"])
            v = f"avg({col}) OVER (PARTITION BY bl)"
            return (
                f"CAST({v} AS BIGINT)",
                f"CAST(trunc({v} + 0.5 * sign({v})) AS BIGINT)",
            )
        if arm <= 1:  # int / int → toward-zero
            a, b = self.int_operand(), self.divisor()
            return f"{a} / {b}", f"(({a}) - (({a}) % ({b}))) // ({b})"
        if arm == 2:  # chained division, left-assoc
            a, b, c = self.int_operand(), self.divisor(), self.divisor()
            t1 = f"(({a}) - (({a}) % ({b}))) // ({b})"
            return (
                f"{a} / {b} / {c}",
                f"(({t1}) - (({t1}) % ({c}))) // ({c})",
            )
        if arm == 3:  # date - date → integer days (DuckDB native)
            return "da - db", "CAST(da - db AS BIGINT)"
        if arm == 4:  # date arithmetic chain
            k = self.r.randint(-30, 30)
            kt = f"({k})" if k < 0 else str(k)
            return f"da + {kt} - db", f"CAST(da + {kt} - db AS BIGINT)"
        if arm == 5:  # weeks-since composition
            d = self.r.randint(2, 9)
            return (
                f"(da - db) / {d}",
                f"((da - db) - ((da - db) % {d})) // {d}",
            )
        if arm == 6:  # float8::int — PG half-EVEN
            ty = self.r.choice(["int", "bigint"])
            form = self.r.choice(["xf::{t}", "CAST(xf AS {t})"])
            return (
                form.format(t=ty),
                "CAST(round_even(xf, 0) AS BIGINT)",
            )
        if arm == 7:  # bool::int
            form = self.r.choice(["bl::int", "CAST(bl AS INT)"])
            return form, "CAST(bl AS INT)"
        if arm == 8:  # decimal → int: half AWAY (both spellings; DuckDB
            # decimal cast shares PG's rounding)
            form = self.r.choice(["dc::bigint", "CAST(dc AS BIGINT)"])
            return form, "CAST(dc AS BIGINT)"
        if arm == 9 and self.r.random() < 0.6:
            # CASE arm folding: conditional int selection / divisor
            a1, a2 = self.int_operand(), self.int_operand()
            d = self.divisor()
            case = f"CASE WHEN bl THEN {a1} ELSE {a2} END"
            return (
                f"{case} / {d}",
                f"(({case}) - (({case}) % ({d}))) // ({d})",
            )
        # negative control: mixed-type division keeps float math
        # (dc excluded: decimal-division RESULT SCALE is engine-specific
        # — Spark fixes 6 fraction digits, PG/DuckDB don't — a display
        # boundary, not a typed-pass concern)
        b = self.divisor()
        return f"xf / {b}", f"xf / ({b})"


def test_typed_value_fuzz(spark):
    import datetime

    import pandas as pd

    rows = []
    base = datetime.date(2023, 6, 15)
    for i in range(120):
        rows.append(
            {
                "rid": i,
                "ia": (i * 7) % 41 - 20,
                "ib": ((i % 13) + 1) * (1 if i % 2 else -1),
                "sm": (i % 11) - 5,
                "da": base + datetime.timedelta(days=(i * 13) % 900 - 450),
                "db": base + datetime.timedelta(days=(i * 29) % 700 - 350),
                "xf": i / 2.0 - 30.0,  # exact .5 halves: the half-even arm
                "bl": i % 3 == 0,
            }
        )
    pdf = pd.DataFrame(rows)
    sdf = (
        spark.createDataFrame(pdf)
        .withColumn("ia", __import__("pyspark.sql.functions", fromlist=["col"]).col("ia").cast("int"))
    )
    from pyspark.sql import functions as F

    sdf = (
        sdf.withColumn("sm", F.col("sm").cast("smallint"))
        .withColumn("da", F.col("da").cast("date"))
        .withColumn("db", F.col("db").cast("date"))
        .withColumn("dc", (F.col("xf") / 3).cast("decimal(12,1)"))
    )
    sdf.createOrReplaceTempView("typed_fuzz_t")
    con = duckdb.connect()
    con.register("pdf", pdf)
    con.execute(
        "CREATE TABLE t AS SELECT rid, CAST(ia AS INTEGER) AS ia, ib, "
        "CAST(sm AS SMALLINT) AS sm, CAST(da AS DATE) AS da, "
        "CAST(db AS DATE) AS db, xf, bl, "
        "CAST(xf / 3 AS DECIMAL(12,1)) AS dc FROM pdf"
    )

    rng = random.Random(SEED + 8)
    gen = TypedGen(rng)
    pairs = [gen.pick() for _ in range(N_TYPED)]
    failures = []
    for off in range(0, len(pairs), TYPED_BATCH):
        batch = pairs[off : off + TYPED_BATCH]
        spark_sql = to_spark_sql(
            "SELECT rid, "
            + ", ".join(f"({pg}) AS c{i}" for i, (pg, _) in enumerate(batch))
            + " FROM typed_fuzz_t",
            column_types=TYPED_CT,
        )
        duck_sql = (
            "SELECT rid, "
            + ", ".join(f"({dk}) AS c{i}" for i, (_, dk) in enumerate(batch))
            + " FROM t"
        )
        srows = {r["rid"]: r for r in spark.sql(spark_sql).collect()}
        for drow in con.sql(duck_sql).fetchall():
            srow = srows[drow[0]]
            for i, (pg, dk) in enumerate(batch):
                if not _same(srow[f"c{i}"], drow[i + 1], True):
                    failures.append(
                        f"  rid={drow[0]}\n  PG: {pg}\n  DUCK: {dk}\n"
                        f"  spark={srow[f'c{i}']!r} duck={drow[i + 1]!r}"
                    )
        if len(failures) > 30:
            break
    assert not failures, (
        f"{len(failures)} typed value mismatches out of {N_TYPED}:\n"
        + "\n---\n".join(failures[:30])
    )


# ---------------------------------------------------------------------------
# Round-9 ERROR-PARITY fuzz (VERDICT r8 #3): where PG RAISES, the engine
# must raise too — never silently yield NULL. Rests on ANSI mode, now
# pinned in session.py and enforced by dialect.require_ansi. DuckDB twins
# raise for the cast/overflow classes; DuckDB itself DIVERGES from PG on
# division/modulo by zero (returns NULL — probed), so those atoms pin
# PG's documented behavior directly (div-by-zero raises, SQLSTATE 22012).
# ---------------------------------------------------------------------------

# (pg_expr, duck_expr or None when DuckDB diverges from PG)
ERROR_ATOMS = [
    # division by zero — int, typed-rewritten int (div), float, decimal
    ("ia / 0", None),
    ("ib / 0", None),
    ("sm / 0", None),
    ("7 / 0", None),
    ("ia / (ia - ia)", None),
    ("sum(ia) / (count(*) - count(*))", None),
    ("xf / 0", None),
    ("xf / 0.0", None),
    ("xf / (xf - xf)", None),
    ("dc / 0", None),
    ("(ia + ib) / 0", None),
    ("CASE WHEN bl THEN ia ELSE ib END / 0", None),
    # modulo by zero
    ("ia % 0", None),
    ("ib % 0", None),
    ("mod(ia, 0)", None),
    ("ia % (sm - sm)", None),
    # invalid string → numeric casts (both spellings; DuckDB raises too)
    ("'abc'::int", "CAST('abc' AS INTEGER)"),
    ("'abc'::bigint", "CAST('abc' AS BIGINT)"),
    ("'12x'::int", "CAST('12x' AS INTEGER)"),
    ("''::int", "CAST('' AS INTEGER)"),
    ("'1e'::numeric", "CAST('1e' AS DECIMAL(18,3))"),
    ("'abc'::float8", "CAST('abc' AS DOUBLE)"),
    ("CAST('abc' AS INT)", "CAST('abc' AS INTEGER)"),
    ("CAST('' AS SMALLINT)", "CAST('' AS SMALLINT)"),
    ("'not-a-date'::date", "CAST('not-a-date' AS DATE)"),
    ("CAST('2024-13-40' AS DATE)", "CAST('2024-13-40' AS DATE)"),
    # numeric overflow — int4/int2 range, arithmetic overflow
    ("'99999999999'::int", "CAST('99999999999' AS INTEGER)"),
    ("'40000'::smallint", "CAST('40000' AS SMALLINT)"),
    ("CAST(9999999999999 AS INT)", "CAST(9999999999999 AS INTEGER)"),
    ("2147483647 + ia * 0 + 1", None),  # PG int4+int4 overflows; duck promotes
    ("9223372036854775807 + ib * 0 + 1",
     "9223372036854775807 + ib * 0 + 1"),
    ("abs(-9223372036854775807 - 1 + ib * 0)",
     "abs(-9223372036854775807 - 1 + ib * 0)"),
    # decimal target too small
    ("CAST(12345.67 AS DECIMAL(4,2))", "CAST(12345.67 AS DECIMAL(4,2))"),
    ("1234567.89::numeric(5,1)", "CAST(1234567.89 AS DECIMAL(5,1))"),
    # round-9 math domain errors (PG raises; Spark alone would give
    # NaN/NULL/Infinity — translate_math_domain's assert arms)
    ("sqrt(0.0 - xf * xf - 1)", None),
    ("ln(xf - xf)", None),
    ("ln(0.0 - abs(xf) - 1)", None),
    ("log(0.0 - abs(xf) - 1)", None),
    ("acos(abs(xf) + 2)", None),
    ("asin(0.0 - abs(xf) - 2)", None),
    ("power(xf - xf, -2)", None),
    ("power(0.0 - abs(xf) - 1, 0.5)", None),
    ("(0.0 - abs(xf) - 1) ^ 0.5", None),
    ("log(1, abs(xf) + 2)", None),
    ("chr(ia - ia)", None),
]


def test_error_parity_fuzz(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {"rid": [0, 1, 2], "ia": [3, -4, 5], "ib": [7, 8, -9],
         "sm": [1, 2, 3], "xf": [1.5, -2.5, 3.5], "bl": [True, False, True]}
    )
    sdf = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F

    sdf = (
        sdf.withColumn("ia", F.col("ia").cast("int"))
        .withColumn("sm", F.col("sm").cast("smallint"))
        .withColumn("dc", F.col("xf").cast("decimal(12,1)"))
    )
    sdf.createOrReplaceTempView("err_fuzz_t")
    ct = {"rid": "bigint", "ia": "int", "ib": "bigint", "sm": "smallint",
          "xf": "double", "bl": "bool", "dc": "decimal"}
    con = duckdb.connect()
    con.register("pdf", pdf)
    con.execute(
        "CREATE TABLE t AS SELECT rid, CAST(ia AS INTEGER) AS ia, ib, "
        "CAST(sm AS SMALLINT) AS sm, xf, bl, "
        "CAST(xf AS DECIMAL(12,1)) AS dc FROM pdf"
    )
    failures = []
    for pg_expr, duck_expr in ERROR_ATOMS:
        spark_sql = to_spark_sql(
            f"SELECT ({pg_expr}) AS c FROM err_fuzz_t", column_types=ct
        )
        raised = False
        try:
            spark.sql(spark_sql).collect()
        except Exception:
            raised = True
        if not raised:
            failures.append(f"Spark did NOT raise (PG does): {pg_expr}")
        if duck_expr is not None:
            draised = False
            try:
                con.sql(f"SELECT ({duck_expr}) AS c FROM t").fetchall()
            except Exception:
                draised = True
            if not draised:
                failures.append(f"DuckDB twin did not raise: {duck_expr}")
    assert not failures, "\n".join(failures)


def test_ansi_mode_enforced(spark):
    """A session with ANSI off must be rejected LOUDLY at the guarded
    execution chokepoint — PG error parity never silently degrades."""
    import pytest

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(ValueError, match="ansi"):
            run_pg_sql(spark, "SELECT 1 AS c")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
