"""The statement model: one parse of a statement's shape, read by every
window pass (``window_frames``, ``keyed_windows``, ``global_rank``).

DataFusion parses a statement once and every rule reads that one AST
(reference: sqlparser behind ``SessionContext::sql``,
crates/core/src/context.rs:93-105).  Here the passes splice text, so
the model is positional: ``parse_statement(sql)`` blanks the comments of
``sql`` (``sqltext._strip_comments``), masks its literals, and returns a
frozen ``Statement`` whose offsets index both texts.  It holds the end
of a ``WITH`` prefix, every top-level SELECT (``SelectCore``: DISTINCT,
select items, FROM source, the first WHERE / GROUP BY / HAVING /
QUALIFY / WINDOW / ORDER BY / LIMIT / OFFSET after FROM), the top-level
set operators, and one ``WindowCall`` per ``OVER (`` anywhere in the
text: the call directly before OVER and the spec
``overspec.parse_over`` reads.

The model records the shape; each pass keeps its own policy for what
it accepts.  Text with unbalanced parentheses has no model (None), and
the passes leave it to Spark's parser.
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass

from adt_spark.dialect.overspec import OverSpec, parse_over
from adt_spark.dialect.sqltext import (
    _balanced,
    _blank_parens,
    _comma_spans,
    _mask_literals,
    _match_paren,
    _match_paren_back,
    _star_item,
    _strip_comments,
)

_SELECT_RE = re.compile(r"\bselect\b", re.IGNORECASE)
_FROM_RE = re.compile(r"\bfrom\b", re.IGNORECASE)
_SET_OP_RE = re.compile(r"\b(?:union|intersect|except)\b", re.IGNORECASE)
_CLAUSE_RE = re.compile(
    r"\b(where|group\s+by|having|qualify|window|order\s+by|limit|offset)\b",
    re.IGNORECASE,
)
_DISTINCT_RE = re.compile(r"\s*distinct\b", re.IGNORECASE)
_WITH_RE = re.compile(r"\s*with\b", re.IGNORECASE)
_RECURSIVE_RE = re.compile(r"\s*with\s+recursive\b", re.IGNORECASE)
_OVER_RE = re.compile(r"\bover\s*\(", re.IGNORECASE)
_NESTED_RE = re.compile(r"\b(?:over|select)\b", re.IGNORECASE)
_ALIAS_RE = re.compile(r"\bas\s+([A-Za-z_]\w*|`[^`]+`)\s*$", re.IGNORECASE)

_NAME = r"[A-Za-z_][A-Za-z_0-9]*"
_ALIAS_TAIL = rf"(?:\s+(?:as\s+)?(?P<alias>{_NAME}))?\s*"
_RELATION_RE = re.compile(rf"(?P<name>{_NAME}(?:\.{_NAME})*){_ALIAS_TAIL}", re.IGNORECASE)
_PATH_RE = re.compile(
    rf"(?P<name>{_NAME}(?:\.{_NAME})*\.`[^`]*`){_ALIAS_TAIL}", re.IGNORECASE
)
_DERIVED_TAIL_RE = re.compile(rf"\s*(?:(?:as\s+)?(?P<alias>{_NAME}))?\s*", re.IGNORECASE)


@dataclass(frozen=True)
class Item:
    """One select item: ``span`` is its text between the commas (spaces
    included); ``star`` marks ``*`` / ``t.*``, whose ``qualifier`` is
    None for a bare ``*``; ``alias`` is the name after a trailing
    ``AS``, or None."""

    span: tuple[int, int]
    star: bool
    qualifier: str | None
    alias: str | None


@dataclass(frozen=True)
class Source:
    """The FROM body: ``kind`` is ``relation`` (a possibly qualified
    name), ``path`` (``fmt.`path```), ``derived`` (one parenthesized
    query) or ``other`` (joins, lists, table functions, …); ``name`` is
    the relation or path text; ``alias`` the optional alias; ``span``
    the body without its surrounding spaces."""

    kind: str
    name: str | None
    alias: str | None
    span: tuple[int, int]


@dataclass(frozen=True)
class Clause:
    """A top-level clause: ``kind`` is its lowercased keyword
    (``group by``, ``limit``, …); the keyword sits at [start, kw_end)
    and its body runs to ``end``, the next clause or the core's end."""

    kind: str
    start: int
    kw_end: int
    end: int


@dataclass(frozen=True)
class SelectCore:
    """One top-level SELECT: the keyword at ``start``; ``body`` runs from
    the keyword's end to FROM (the DISTINCT quantifier included, so
    ``sql[body[0]:body[1]]`` is the select list as written); ``items``
    split it after the quantifier; ``from_`` is the FROM keyword's span
    or None."""

    start: int
    body: tuple[int, int]
    distinct: bool
    items: tuple[Item, ...]
    from_: tuple[int, int] | None
    source: Source | None
    clauses: tuple[Clause, ...]


@dataclass(frozen=True)
class WindowCall:
    """One ``OVER (``: the spec's paren at ``open`` closes at ``close``;
    ``spec`` is its ``OverSpec`` (None for a named window).  The call
    before OVER: ``fn`` (lowercased, None when no ``name(…)`` precedes
    it) starting at ``start`` (OVER's offset when ``fn`` is None),
    ``qualified`` when a ``.`` precedes the name, ``arg_span`` between
    its parens and ``args`` split on depth-0 commas; ``nulls`` is
    ``ignore`` / ``respect`` for an ``IGNORE | RESPECT NULLS`` before
    OVER, ``filter`` marks a ``FILTER (…)`` clause there."""

    fn: str | None
    start: int
    qualified: bool
    arg_span: tuple[int, int] | None
    args: tuple[tuple[int, int], ...]
    nulls: str | None
    filter: bool
    over: int
    open: int
    close: int
    spec: OverSpec | None

    @property
    def plain(self) -> bool:
        """``fn(args) OVER (…)`` with nothing between the call and OVER."""
        return self.fn is not None and self.nulls is None and not self.filter

    @property
    def end(self) -> int:
        """The offset after the spec's ``)``."""
        return self.close + 1


@dataclass(frozen=True)
class Statement:
    """One parsed statement: ``sql`` with its comments blanked,
    ``masked`` with its literals masked too; ``main_start`` where the
    main query starts after a ``WITH`` prefix (0 without one, None when
    the prefix has no top-level SELECT after it), ``recursive`` for
    ``WITH RECURSIVE``; ``cores`` and ``set_ops`` in text order;
    ``calls`` one per ``OVER (``."""

    sql: str
    masked: str
    main_start: int | None
    recursive: bool
    cores: tuple[SelectCore, ...]
    set_ops: tuple[tuple[int, int], ...]
    calls: tuple[WindowCall, ...]

    @property
    def nested_select(self) -> bool:
        """Whether a SELECT sits inside parentheses: a subquery, a
        derived table or a CTE body."""
        return len(_SELECT_RE.findall(self.masked)) > len(self.cores)

    @property
    def select(self) -> SelectCore | None:
        """The main query's core when the main query is one SELECT (no
        set operator, nothing before it but the WITH prefix)."""
        if self.main_start is None or len(self.cores) != 1 or self.set_ops:
            return None
        core = self.cores[0]
        return None if self.masked[self.main_start : core.start].strip() else core


def _main_query_start(masked: str) -> int | None:
    """Offset of the main query in a literal-MASKED statement: 0
    without a leading ``WITH``; after a ``WITH <cte>[, <cte>…]`` prefix,
    the first top-level ``SELECT`` (CTE bodies and column lists are
    blanked, so their SELECTs do not count); None when a WITH prefix
    has no top-level SELECT after it."""
    blanked = _blank_parens(masked)
    if not _WITH_RE.match(blanked):
        return 0
    ms = _SELECT_RE.search(blanked)
    return ms.start() if ms else None


def _has_subquery_or_window(masked: str) -> bool:
    """Whether literal-masked text holds a SELECT or an OVER: an
    argument or key the passes cannot re-evaluate on its own."""
    return _NESTED_RE.search(masked) is not None


def _space_before(s: str, i: int) -> int:
    """``i`` moved back over the whitespace that ends ``s[:i]``."""
    while i > 0 and s[i - 1].isspace():
        i -= 1
    return i


def _word_before(s: str, i: int) -> int:
    """Start of the identifier run that ends at ``s[i]`` (``i`` itself
    when none does)."""
    while i > 0 and (s[i - 1].isalnum() or s[i - 1] == "_"):
        i -= 1
    return i


def _closes_at(s: str, i: int) -> bool:
    """Whether ``s[:i]`` ends with a ``)``."""
    return i > 0 and s[i - 1] == ")"


def _window_call(masked: str, sql: str, over: int, open_: int) -> WindowCall:
    """The call and spec of the ``OVER (`` at ``over``."""
    spec = parse_over(masked, sql, open_)
    close = spec.close if spec is not None else _match_paren(masked, open_)
    k = _space_before(masked, over)
    nulls = None
    w = _word_before(masked, k)
    if masked[w:k].lower() == "nulls":
        k2 = _space_before(masked, w)
        w2 = _word_before(masked, k2)
        if k2 < w and masked[w2:k2].lower() in ("ignore", "respect"):
            nulls = masked[w2:k2].lower()
            k = _space_before(masked, w2)
    has_filter = False
    if _closes_at(masked, k):
        kf = _space_before(masked, _match_paren_back(masked, k - 1))
        wf = _word_before(masked, kf)
        if masked[wf:kf].lower() == "filter":
            has_filter = True
            k = _space_before(masked, wf)
    fn = None
    start, qualified, arg_span, args = over, False, None, ()
    if _closes_at(masked, k):
        a_open = _match_paren_back(masked, k - 1)
        name_end = _space_before(masked, a_open)
        name_start = _word_before(masked, name_end)
        if name_start < name_end:
            fn = sql[name_start:name_end].lower()
            start = name_start
            qualified = masked[name_start - 1 : name_start] == "."
            arg_span = (a_open + 1, k - 1)
            args = tuple(
                (a_open + 1 + a, a_open + 1 + b)
                for a, b in _comma_spans(masked[a_open + 1 : k - 1])
            )
    return WindowCall(
        fn, start, qualified, arg_span, args, nulls, has_filter, over, open_, close, spec
    )


def _source(sql: str, masked: str, start: int, end: int) -> Source:
    """The FROM body at ``sql[start:end]``."""
    a = start + len(sql[start:end]) - len(sql[start:end].lstrip())
    b = end - (len(sql[start:end]) - len(sql[start:end].rstrip()))
    for kind, pattern in (("relation", _RELATION_RE), ("path", _PATH_RE)):
        m = pattern.fullmatch(sql, a, b)
        if m:
            return Source(kind, m.group("name"), m.group("alias"), (a, b))
    if masked.startswith("(", a):
        close = _match_paren(masked, a)
        m = _DERIVED_TAIL_RE.fullmatch(sql, close + 1, b)
        if close < b and m:
            return Source("derived", None, m.group("alias"), (a, b))
    return Source("other", None, None, (a, b))


def _core(sql: str, masked: str, blanked: str, start: int, end: int) -> SelectCore:
    """The SELECT at ``start`` whose text runs to ``end``."""
    kw_end = _SELECT_RE.match(masked, start).end()
    dm = _DISTINCT_RE.match(masked, kw_end)
    items_start = dm.end() if dm else kw_end
    fm = _FROM_RE.search(blanked, kw_end, end)
    first: dict[str, re.Match] = {}
    for m in _CLAUSE_RE.finditer(blanked, fm.end() if fm else items_start, end):
        first.setdefault(" ".join(m.group(1).lower().split()), m)
    ordered = sorted(first.items(), key=lambda kv: kv[1].start())
    ends = [m.start() for _, m in ordered[1:]] + [end]
    clauses = tuple(
        Clause(kind, m.start(), m.end(), e) for (kind, m), e in zip(ordered, ends)
    )
    body_end = fm.start() if fm else (clauses[0].start if clauses else end)
    items = []
    for a, b in _comma_spans(masked[items_start:body_end]):
        a, b = items_start + a, items_start + b
        star = _star_item(masked[a:b])
        am = _ALIAS_RE.search(masked, a, b)
        qual = star.span("qualifier") if star and star.group("qualifier") else None
        items.append(Item(
            (a, b),
            star is not None,
            sql[a + qual[0] : a + qual[1]] if qual else None,
            sql[am.start(1) : am.end(1)] if am else None,
        ))
    source = None
    if fm:
        source = _source(sql, masked, fm.end(), clauses[0].start if clauses else end)
    return SelectCore(
        start,
        (kw_end, body_end),
        dm is not None,
        tuple(items),
        fm.span() if fm else None,
        source,
        clauses,
    )


@functools.lru_cache(maxsize=64)
def parse_statement(sql: str) -> Statement | None:
    """The model of ``sql`` (see the module docstring); None when its
    parentheses do not balance.  The model is frozen, so a statement
    parsed by one pass is reused by the next."""
    sql = _strip_comments(sql)
    masked = _mask_literals(sql)
    if not _balanced(masked):
        return None
    blanked = _blank_parens(masked)
    set_ops = tuple(m.span() for m in _SET_OP_RE.finditer(blanked))
    starts = [m.start() for m in _SELECT_RE.finditer(blanked)]
    cores = []
    for i, s in enumerate(starts):
        end = min(
            [a for a, _ in set_ops if a > s]
            + starts[i + 1 : i + 2]
            + [len(sql)]
        )
        cores.append(_core(sql, masked, blanked, s, end))
    calls = tuple(
        _window_call(masked, sql, m.start(), m.end() - 1)
        for m in _OVER_RE.finditer(masked)
    )
    return Statement(
        sql,
        masked,
        _main_query_start(masked),
        bool(_RECURSIVE_RE.match(masked)),
        tuple(cores),
        set_ops,
        calls,
    )
