"""A small SQL tokenizer.

The reference uses pglast (libpg_query bindings) to parse queries; that
library is not available here, and the validation matrix only needs
token-level structure (statement splitting, clause boundaries, function
call sites), so a hand-rolled tokenizer is sufficient and dependency-free.

Token kinds:
- IDENT   : bare identifier / keyword (normalized access via ``upper``)
- QIDENT  : double-quoted identifier, value excludes quotes ("" unescaped)
- STRING  : single-quoted literal, value excludes quotes ('' unescaped)
- NUMBER  : numeric literal
- OP      : operator (multi-char first: ::, <=, >=, <>, !=, ||, ...)
- PUNCT   : ( ) , ; .
- PARAM   : $n positional parameter

Comments (``--`` and ``/* */``) and whitespace are skipped but positions
are preserved so the guard can do surgical text edits on the original SQL.
"""

from __future__ import annotations

import re

_MULTI_OPS = (
    "::", "<=", ">=", "<>", "!=", "||", "->>", "->", "#>>", "#>",
    "!~~*", "!~~", "~~*", "~~",  # PG LIKE-operator spellings (before
    "~*", "!~*", "!~", "?|", "?&", "@>", "<@",  # their ~ prefixes)
)
_SINGLE_OPS = set("+-*/%<>=~^&|#?@!")
_PUNCT = set("(),;.[]:")


class TokenizeError(ValueError):
    def __init__(self, message: str, index: int):
        super().__init__(message)
        self.index = index


class Token:
    """Read-only by convention (was a frozen dataclass; __slots__ +
    hand init is ~5× cheaper to construct and tokens are built in the
    hot translation path)."""

    __slots__ = ("kind", "value", "start", "end")

    def __init__(self, kind: str, value: str, start: int, end: int):
        self.kind = kind
        self.value = value
        self.start = start  # offset into original SQL
        self.end = end  # exclusive

    @property
    def upper(self) -> str:
        return self.value.upper()

    def __eq__(self, other):
        if not isinstance(other, Token):
            return NotImplemented
        return (
            self.kind == other.kind
            and self.value == other.value
            and self.start == other.start
            and self.end == other.end
        )

    def __hash__(self):
        return hash((self.kind, self.value, self.start, self.end))

    def __repr__(self):
        return (
            f"Token(kind={self.kind!r}, value={self.value!r}, "
            f"start={self.start!r}, end={self.end!r})"
        )


# One compiled scanner, alternatives in the same precedence order as
# the per-character loop below (kept as _tokenize_reference for the
# differential test): comments before operators, strings/identifiers
# with doubled-quote escapes, numbers with the reference's permissive
# shape (multiple dots, one exponent marker, dots allowed after it,
# dangling e/e+ kept), multi-char operators longest-spelling-first in
# the reference's exact order, then punct, then single-char operators.
_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<lcom>--[^\n]*\n?)
    | (?P<bcom>/\*.*?\*/)
    | (?P<str>'(?:[^']|'')*')
    | (?P<dq>"(?:[^"]|"")*")
    | (?P<bq>`(?:[^`]|``)*`)
    | (?P<param>\$\d+)
    | (?P<num>(?:\d|\.\d)[0-9.]*(?:[eE][+-]?[0-9.]*)?)
    | (?P<ident>[^\W\d][\w$]*)
    | (?P<mop>::|<=|>=|<>|!=|\|\||->>|->|\#>>|\#>|!~~\*|!~~|~~\*|~~|~\*|!~\*|!~|\?\||\?&|@>|<@)
    | (?P<punct>[(),;.\[\]:])
    | (?P<sop>[-+*/%<>=~^&|\#?@!])
    """,
    re.VERBOSE | re.DOTALL,
)


def tokenize(sql: str) -> tuple[Token, ...]:
    """Tokenize ``sql`` with one compiled regex scanner (round-10: the
    per-character loop, kept as :func:`_tokenize_reference`, was most
    of translation latency). Token-for-token identical to the
    reference; the differential test in tests/test_dialect.py walks
    every gate SQL plus edge corpora. Returns an immutable tuple.

    Nothing is cached: the dialect pipeline threads one token stream
    through all of its passes and re-tokenizes only after a rewrite
    changes the text (see the finder contract in
    :mod:`gfw_data_api_spark.sql.dialect`)."""
    return tuple(_tokenize_impl(sql))


def _tokenize_impl(sql: str) -> list[Token]:
    tokens: list[Token] = []
    i, n = 0, len(sql)
    append = tokens.append
    match = _TOKEN_RE.match
    while i < n:
        m = match(sql, i)
        if m is None:
            ch = sql[i]
            if ch == "'":
                raise TokenizeError("unterminated string literal", i)
            if ch in ('"', "`"):
                raise TokenizeError("unterminated quoted identifier", i)
            if ch == "$":
                raise TokenizeError("dollar-quoting is not supported", i)
            raise TokenizeError(f"unexpected character {ch!r}", i)
        kind = m.lastgroup
        j = m.end()
        if kind == "ws":
            i = j
            continue
        if kind == "lcom":
            i = j
            continue
        if kind == "bcom":
            i = j
            continue
        if kind == "str":
            append(Token("STRING", sql[i + 1 : j - 1].replace("''", "'"), i, j))
        elif kind == "dq":
            append(Token("QIDENT", sql[i + 1 : j - 1].replace('""', '"'), i, j))
        elif kind == "bq":
            append(Token("QIDENT", sql[i + 1 : j - 1].replace("``", "`"), i, j))
        elif kind == "param":
            append(Token("PARAM", sql[i:j], i, j))
        elif kind == "num":
            append(Token("NUMBER", sql[i:j], i, j))
        elif kind == "ident":
            append(Token("IDENT", sql[i:j], i, j))
        elif kind == "mop":
            append(Token("OP", sql[i:j], i, j))
        elif kind == "punct":
            append(Token("PUNCT", sql[i:j], i, j))
        else:  # sop
            if sql[i] == "/" and sql.startswith("/*", i):
                # an unterminated block comment must not lex as '/'
                raise TokenizeError("unterminated comment", i)
            append(Token("OP", sql[i:j], i, j))
        i = j
    return tokens


def _tokenize_reference(sql: str) -> list[Token]:
    tokens: list[Token] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch.isspace():
            i += 1
            continue
        if ch == "-" and sql.startswith("--", i):
            nl = sql.find("\n", i)
            i = n if nl < 0 else nl + 1
            continue
        if ch == "/" and sql.startswith("/*", i):
            close = sql.find("*/", i + 2)
            if close < 0:
                raise TokenizeError("unterminated comment", i)
            i = close + 2
            continue
        if ch == "'":
            j = i + 1
            buf = []
            while True:
                if j >= n:
                    raise TokenizeError("unterminated string literal", i)
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        buf.append("'")
                        j += 2
                        continue
                    break
                buf.append(sql[j])
                j += 1
            tokens.append(Token("STRING", "".join(buf), i, j + 1))
            i = j + 1
            continue
        if ch in ('"', "`"):
            # double quotes: PG-style quoted identifier; backticks: the
            # Spark form (appears after bind_from re-emits quoted aliases)
            quote = ch
            j = i + 1
            buf = []
            while True:
                if j >= n:
                    raise TokenizeError("unterminated quoted identifier", i)
                if sql[j] == quote:
                    if j + 1 < n and sql[j + 1] == quote:
                        buf.append(quote)
                        j += 2
                        continue
                    break
                buf.append(sql[j])
                j += 1
            tokens.append(Token("QIDENT", "".join(buf), i, j + 1))
            i = j + 1
            continue
        if ch == "$":
            j = i + 1
            while j < n and sql[j].isdigit():
                j += 1
            if j > i + 1:
                tokens.append(Token("PARAM", sql[i:j], i, j))
                i = j
                continue
            raise TokenizeError("dollar-quoting is not supported", i)
        if ch.isdigit() or (ch == "." and i + 1 < n and sql[i + 1].isdigit()):
            j = i
            seen_e = False
            while j < n and (
                sql[j].isdigit()
                or sql[j] == "."
                or (sql[j] in "eE" and not seen_e)
                or (sql[j] in "+-" and j > i and sql[j - 1] in "eE")
            ):
                if sql[j] in "eE":
                    seen_e = True
                j += 1
            tokens.append(Token("NUMBER", sql[i:j], i, j))
            i = j
            continue
        if ch.isalpha() or ch == "_":
            j = i
            while j < n and (sql[j].isalnum() or sql[j] in "_$"):
                j += 1
            tokens.append(Token("IDENT", sql[i:j], i, j))
            i = j
            continue
        matched = False
        for op in _MULTI_OPS:
            if sql.startswith(op, i):
                tokens.append(Token("OP", op, i, i + len(op)))
                i += len(op)
                matched = True
                break
        if matched:
            continue
        if ch in _PUNCT:
            tokens.append(Token("PUNCT", ch, i, i + 1))
            i += 1
            continue
        if ch in _SINGLE_OPS:
            tokens.append(Token("OP", ch, i, i + 1))
            i += 1
            continue
        raise TokenizeError(f"unexpected character {ch!r}", i)
    return tokens
