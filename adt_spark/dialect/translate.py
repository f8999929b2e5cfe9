"""Textual SQL rewrites for PostgreSQL-dialect constructs Spark SQL
does not parse (reference dialect: crates/core/src/context.rs:29).

Deliberately light: Spark 4 natively parses almost the whole surface
(``::`` casts, ``ILIKE``, ``IS DISTINCT FROM``, lateral joins …), so
only the PostgreSQL regex-match operators need translation.  The
rewrites read the statement through ``sqltext``'s scanner, so a ``~``
inside a string literal or a comment is untouched.
"""

from __future__ import annotations

import re

from adt_spark.dialect.sqltext import (
    _comma_spans,
    _literal_segments,
    _mask_literals,
    _match_paren,
    _strip_comments,
)

# expr ~ 'pat'   → expr RLIKE 'pat'
# expr !~ 'pat'  → NOT (expr RLIKE 'pat')
# expr ~* 'pat'  → expr RLIKE '(?i)pat'     (case-insensitive)
_TILDE = re.compile(r"[ \t]*(?P<neg>!)?~(?P<ci>\*)?[ \t]*")


def _rewrite_regex_ops(sql: str) -> str:
    segments = _literal_segments(sql)
    out: list[str] = []
    for idx, (chunk, is_lit) in enumerate(segments):
        if is_lit:
            out.append(chunk)
            continue

        # Only rewrite a tilde whose right operand IS a string literal
        # (the PostgreSQL regex-match shape): after the operator the
        # chunk must hold nothing but whitespace and the opening quote
        # (a non-literal chunk always ENDS with the opening quote of
        # the literal that follows it).  Anything else — bitwise NOT
        # (`~5`), `~~`, a column operand — passes through untouched.
        # A chunk can hold SEVERAL tildes (`a ~ b AND c ~ 'pat'` is one
        # chunk); only the LAST can precede the following literal, so
        # the guard is decided on it alone and earlier matches pass
        # through untouched.
        matches = list(_TILDE.finditer(chunk))
        if not matches:
            out.append(chunk)
            continue
        m = matches[-1]
        tail = chunk[m.end():]
        is_regex_shape = (
            idx + 1 < len(segments)
            and segments[idx + 1][1]
            and tail.strip() == "'"
            and "~" not in chunk[: m.start()].rstrip()[-1:]  # not `~~`
        )
        if not is_regex_shape:
            out.append(chunk)
            continue
        op = " NOT RLIKE " if m.group("neg") else " RLIKE "
        if m.group("ci"):
            nxt, nxt_lit = segments[idx + 1]
            segments[idx + 1] = ("(?i)" + nxt, nxt_lit)
        out.append(chunk[: m.start()] + op + tail.lstrip())
    return "".join(out)


# expr SIMILAR TO 'pat' → expr RLIKE '^(?:pat')$' with SQL wildcards
# (% → .*, _ → .) converted; full-string anchoring per the standard.
_SIMILAR = re.compile(r"[ \t]*\b(?P<neg>NOT\s+)?SIMILAR\s+TO[ \t]*", re.IGNORECASE)
_ST_MARK = "\x00ST\x00"


def _convert_similar_pattern(body: str) -> str:
    """SQL-regex body → Java-regex body: translate unescaped SQL
    wildcards, preserve the POSIX-ish regex syntax SIMILAR TO shares
    with Java regex (classes, alternation, quantifiers)."""
    out: list[str] = []
    i = 0
    while i < len(body):
        ch = body[i]
        if ch == "\\" and i + 1 < len(body):
            out.append(body[i : i + 2])
            i += 2
            continue
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def _rewrite_similar_to(sql: str) -> str:
    segments = _literal_segments(sql)
    out: list[str] = []
    for idx, (chunk, is_lit) in enumerate(segments):
        if is_lit:
            out.append(chunk)
            continue
        # Same literal-operand guard as the tilde ops: rewrite ONLY
        # when the pattern is the string literal that immediately
        # follows — a non-literal pattern (column, expression) must
        # not smuggle the anchor wrapper into some LATER literal.
        # As with the tildes, only the LAST match in the chunk can
        # precede the following literal; earlier ones pass through.
        matches = list(_SIMILAR.finditer(chunk))
        if not matches:
            out.append(chunk)
            continue
        m = matches[-1]
        tail = chunk[m.end():]
        if not (
            idx + 1 < len(segments)
            and segments[idx + 1][1]
            and tail.strip() == "'"
        ):
            out.append(chunk)
            continue
        nxt, nxt_lit = segments[idx + 1]
        body, quote = nxt[:-1], nxt[-1]
        segments[idx + 1] = (
            "^(?:" + _convert_similar_pattern(body) + ")$" + quote, nxt_lit
        )
        op = " NOT RLIKE " if m.group("neg") else " RLIKE "
        out.append(chunk[: m.start()] + op + tail.lstrip())
    return "".join(out)


# Pure function renames: DataFusion/Postgres name → Spark builtin with
# identical argument order and semantics (SURVEY.md §2.B mapping table).
_NAME_REWRITES = {
    "approx_distinct": "approx_count_distinct",
    "arrow_typeof": "typeof",
    "array_has": "array_contains",
    "array_has_any": "arrays_overlap",
    "array_to_string": "array_join",
    "make_array": "array",
    "array_element": "element_at",
    "array_length": "cardinality",
    "today": "current_date",
    "random": "rand",
    "power": "pow",
    "starts_with": "startswith",
    "ends_with": "endswith",
    "substr_index": "substring_index",
    "to_timestamp_seconds": "timestamp_seconds",
    "to_timestamp_millis": "timestamp_millis",
    "to_timestamp_micros": "timestamp_micros",
    "array_concat": "concat",
    "array_reverse": "reverse",
    # DataFusion generate_series(start, stop[, step]) is
    # inclusive-of-stop — exactly Spark's sequence().
    "generate_series": "sequence",
}
_NAME_RE = re.compile(
    r"\b(" + "|".join(sorted(_NAME_REWRITES, key=len, reverse=True)) + r")\s*\(",
    re.IGNORECASE,
)


def _rewrite_names(sql: str) -> str:
    segments = _literal_segments(sql)
    out = []
    for chunk, is_lit in segments:
        if is_lit:
            out.append(chunk)
        else:
            out.append(_NAME_RE.sub(lambda m: _NAME_REWRITES[m.group(1).lower()] + "(", chunk))
    return "".join(out)


# --- argument-aware call rewrites ------------------------------------------
# DataFusion functions whose Spark counterpart differs in argument
# ORDER or SEMANTICS (not just name), closed by rewriting the call
# with its parsed argument list (SURVEY.md §7 "moderate" deviations):
#
# - trunc(x[, d])        numeric truncation toward zero (Spark's trunc
#                        is date-only).  trunc(date, 'fmt') — a quoted
#                        second argument — is left for Spark.
# - encode/decode(e, 'hex'|'base64')  DataFusion binary codecs (Spark's
#                        encode/decode are charset conversions; other
#                        second arguments pass through untouched).
# - array_slice(a, i, j) inclusive END index → Spark slice(a, i, len).
# - array_prepend(el, a) element-first → Spark array_prepend(a, el).
#
# range() as a scalar stays a documented gap: its Spark spelling is the
# FROM-position range TVF, and a textual rewrite cannot tell the two
# apart safely.


def _is_string_literal(arg: str) -> bool:
    return arg.startswith("'") and arg.endswith("'")


def _h_trunc(args: list[str]) -> str | None:
    if len(args) == 1:
        a = args[0]
        return (
            f"CAST(CASE WHEN ({a}) >= 0 THEN floor({a}) "
            f"ELSE ceil({a}) END AS DOUBLE)"
        )
    if len(args) == 2 and not _is_string_literal(args[1]):
        a, d = args
        p = f"pow(10, ({d}))"
        return (
            f"CAST(CASE WHEN ({a}) >= 0 THEN floor(({a}) * {p}) "
            f"ELSE ceil(({a}) * {p}) END / {p} AS DOUBLE)"
        )
    return None  # trunc(date, 'fmt') → Spark's own


def _h_encode(args: list[str]) -> str | None:
    if len(args) == 2 and _is_string_literal(args[1]):
        fmt = args[1][1:-1].strip().lower()
        if fmt == "hex":
            return f"lower(hex({args[0]}))"
        if fmt == "base64":
            return f"base64({args[0]})"
    return None  # charset encode → Spark's own


def _h_decode(args: list[str]) -> str | None:
    if len(args) == 2 and _is_string_literal(args[1]):
        fmt = args[1][1:-1].strip().lower()
        if fmt == "hex":
            return f"unhex({args[0]})"
        if fmt == "base64":
            return f"unbase64({args[0]})"
    return None


def _h_array_slice(args: list[str]) -> str | None:
    if len(args) == 3:
        a, b, e = args
        return f"slice({a}, {b}, ({e}) - ({b}) + 1)"
    return None  # 4-arg stride form stays unsupported


def _h_array_prepend(args: list[str]) -> str | None:
    if len(args) == 2:
        el, arr = args
        return f"array_prepend({arr}, {el})"
    return None


def _h_string_to_array(args: list[str]) -> str | None:
    """DataFusion/Postgres string_to_array splits on a LITERAL
    delimiter; Spark's split takes a Java REGEX — a '.' or '|'
    delimiter would silently split on everything.  Literal delimiters
    are regex-escaped via \\Q…\\E; non-literal delimiters pass
    through unhandled (an unknown-function error beats silent regex
    reinterpretation)."""
    if len(args) == 2 and _is_string_literal(args[1]):
        body = args[1][1:-1]
        return f"split({args[0]}, '\\\\Q{body}\\\\E')"
    return None


def _h_regexp_match(args: list[str]) -> str | None:
    """DataFusion regexp_match → first-match extraction.  Spark's
    regexp_extract_all defaults to group 1 and THROWS on zero-group
    patterns; group 0 (the full match) is the safe common semantics.
    (Deviation: all full matches rather than the first match's capture
    groups — group-less patterns, the common case, agree.)"""
    if len(args) == 2:
        return f"regexp_extract_all({args[0]}, {args[1]}, 0)"
    return None


_CALL_HANDLERS = {
    "trunc": _h_trunc,
    "string_to_array": _h_string_to_array,
    "regexp_match": _h_regexp_match,
    "encode": _h_encode,
    "decode": _h_decode,
    "array_slice": _h_array_slice,
    "array_prepend": _h_array_prepend,
}
_CALL_RE = re.compile(
    r"(" + "|".join(sorted(_CALL_HANDLERS, key=len, reverse=True)) + r")\s*\(",
    re.IGNORECASE,
)


def _rewrite_calls(s: str) -> str:
    masked = _mask_literals(s)
    out: list[str] = []
    last = 0
    for m in _CALL_RE.finditer(masked):
        i = m.start()
        if i < last or (i and (masked[i - 1].isalnum() or masked[i - 1] in "_.$")):
            continue  # inside an earlier call, or a longer identifier
        try:
            close = _match_paren(masked, m.end() - 1)
        except NotImplementedError:
            break  # unbalanced: Spark's parser reports it
        inner = _rewrite_calls(s[m.end() : close])  # nested calls first
        spans = _comma_spans(_mask_literals(inner)) if inner.strip() else []
        repl = _CALL_HANDLERS[m.group(1).lower()](
            [inner[a:b].strip() for a, b in spans]
        )
        if repl is None:
            repl = s[i : m.end()] + inner + ")"
        out += [s[last:i], repl]
        last = close + 1
    out.append(s[last:])
    return "".join(out)


def translate_sql(sql: str) -> str:
    """Translate a PostgreSQL/DataFusion-flavored statement to Spark SQL.
    Comments are blanked first, so text inside one is never rewritten
    and a quote inside one opens no literal."""
    sql = _strip_comments(sql)
    if "~" in sql:
        sql = _rewrite_regex_ops(sql)
    if _SIMILAR.search(sql):
        sql = _rewrite_similar_to(sql)
    if _NAME_RE.search(sql):
        sql = _rewrite_names(sql)
    if _CALL_RE.search(sql):
        sql = _rewrite_calls(sql)
    from adt_spark.dialect.keyed_windows import rewrite_windows

    # GROUPS / EXCLUDE / moving-start frames, then (round-12) evaluate
    # low-cardinality RANGE windows over the distinct (partition,
    # order-key) grain — kills the 3-task parallelism cap and Spark's
    # O(n²) UnboundedFollowing frames (keyed_windows docstring)
    return rewrite_windows(sql)
