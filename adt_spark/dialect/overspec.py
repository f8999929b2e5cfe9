"""The OVER-spec grammar: one parse of a window's ``OVER (…)`` body,
read by every window pass (``window_frames``, ``keyed_windows``,
``global_rank``).

``parse_over(masked, sql, open_pos)`` reads the spec whose ``(`` sits
at ``open_pos`` of a literal-masked statement and returns an
``OverSpec``:

- ``partition``: the PARTITION BY text, or None;
- ``order``: the ORDER BY text as written, or None, and ``keys``: its
  depth-0 keys, each an ``OrderKey`` (``expr`` without its ``ASC |
  DESC`` / ``NULLS FIRST | LAST`` suffix, ``desc``, ``nulls``);
- ``frame``: a ``Frame(mode, lo, hi, span)`` or None.  Bounds are
  lowercased and whitespace-collapsed, and ``0 PRECEDING`` /
  ``0 FOLLOWING`` (or, in a RANGE frame, a zero INTERVAL) read as
  ``current row``, so a ``… AND 0 PRECEDING`` frame counts as
  containing the current row.
  A frame clause the bound grammar does not cover (compound or
  fractional INTERVAL offsets, the ``CAST(… AS DECIMAL(38,18))`` bounds
  the value-space EXCLUDE split emits) keeps its mode with ``lo`` and
  ``hi`` None; each pass decides what that means for it;
- ``exclude``: the EXCLUDE clause, lowercased, or None;
- ``close``: the offset of the spec's ``)``.

It returns None for a body outside the grammar (a named window).
Offsets come from the mask, text from the statement, so a quoted
string is never read as syntax.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from adt_spark.dialect.sqltext import _comma_spans, _match_paren

_BOUND = (
    r"(?:unbounded\s+preceding|unbounded\s+following|current\s+row"
    # numeric offsets may be fractional (round-10: the DECIMAL(38,18)
    # split admits DECIMAL keys, whose natural offsets are decimals)
    r"|\d+(?:\.\d+)?\s+(?:preceding|following)"
    # interval units with a discrete key-space step: DAY for DATE
    # keys (key < k ⇔ key ≤ k − 1 DAY), and HOUR/MINUTE/SECOND —
    # valid only on TIMESTAMP keys, whose unit step is 1 µs (round-9:
    # key < k ⇔ key ≤ k − 1 MICROSECOND, exact for Spark's
    # µs-precision timestamps).  MONTH/YEAR (round-11, r10 verdict
    # #5) parse too — Spark accepts YearMonthIntervalType RANGE
    # bounds on DATE/TIMESTAMP keys, so the SUBTRACTION family and
    # the non-straddling / no-op paths (which emit the user's frame
    # unchanged) cover them; only the min/max/first/last VALUE SPLIT
    # keeps a loud gate, with the precise Spark refusal (see
    # window_frames' split branch).
    # The quoted alternative admits blanks because the frame regex
    # runs on the literal-MASKED spec (quote bodies are spaces there);
    # parse_over recovers the real digits from the source by span.
    r"|interval\s+(?:'[\d\s]*'|\d+)\s+"
    r"(?:days?|hours?|minutes?|seconds?|months?|years?)\s+"
    r"(?:preceding|following))"
)
_FRAME_RE = re.compile(
    rf"\b(?P<mode>rows|range|groups)\s+"
    rf"(?:between\s+(?P<lo>{_BOUND})\s+and\s+(?P<hi>{_BOUND})|(?P<single>{_BOUND}))",
    re.IGNORECASE,
)
#: the start of a frame clause whose bounds ``_BOUND`` does not read
_UNREAD_FRAME_RE = re.compile(
    r"\b(rows|range|groups)\s+(?:between|unbounded|current|\d)", re.IGNORECASE
)
_EXCLUDE_RE = re.compile(
    r"\s*\bexclude\s+(?P<what>current\s+row|group|ties|no\s+others)\s*$",
    re.IGNORECASE,
)
#: what precedes the frame (matched at the spec's start)
_PRE_RE = re.compile(
    r"\s*(?:partition\s+by\s+(?P<p>.*?))?\s*(?:order\s+by\s+(?P<o>.*?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
#: a zero offset: the current row itself (SQL spec).  INTERVAL
#: offsets are RANGE syntax, so only a RANGE frame reads a zero
#: INTERVAL this way
_ZERO_BOUND_RE = re.compile(r"^0\s+(?:preceding|following)$")
_ZERO_INTERVAL_RE = re.compile(
    r"^interval\s+'?0'?\s+(?:days?|hours?|minutes?|seconds?|months?|years?)"
    r"\s+(?:preceding|following)$"
)
#: an order key's direction and null-placement suffix
_KEY_SUFFIX_RE = re.compile(
    r"(?:\s*\b(?P<dir>asc|desc))?(?:\s*\bnulls\s+(?P<nulls>first|last))?\s*$",
    re.IGNORECASE,
)


@dataclass(frozen=True)
class OrderKey:
    """One ORDER BY key: ``text`` as written is ``expr`` followed by
    its suffix; ``nulls`` is ``"first"`` / ``"last"`` when spelled out,
    else None (the engine's default placement)."""

    text: str
    expr: str
    desc: bool
    nulls: str | None


@dataclass(frozen=True)
class Frame:
    """A frame clause: ``mode`` is rows / range / groups; ``lo`` and
    ``hi`` are normalized bounds (None when the grammar does not read
    them); ``span`` is the clause's (start, end) in the statement."""

    mode: str
    lo: str | None
    hi: str | None
    span: tuple[int, int]

    def row_offsets(self) -> tuple[int | None, int | None] | None:
        """Signed (lo, hi) row offsets: PRECEDING negative, FOLLOWING
        positive, CURRENT ROW 0, None for an UNBOUNDED side.  None when
        a bound is no integer row count (an INTERVAL or fractional
        offset, an unread bound, UNBOUNDED on the wrong side)."""
        out = []
        for b, unbounded in ((self.lo, "unbounded preceding"), (self.hi, "unbounded following")):
            if b == unbounded:
                out.append(None)
                continue
            if b == "current row":
                out.append(0)
                continue
            n, _, side = (b or "").partition(" ")
            if not n.isdigit() or side not in ("preceding", "following"):
                return None
            out.append(int(n) if side == "following" else -int(n))
        return out[0], out[1]


@dataclass(frozen=True)
class OverSpec:
    """One parsed ``OVER (…)`` body (fields: see the module docstring)."""

    partition: str | None
    order: str | None
    keys: tuple[OrderKey, ...]
    frame: Frame | None
    exclude: str | None
    close: int


def _bound(text: str, mode: str) -> str:
    b = " ".join(text.lower().split())
    if _ZERO_BOUND_RE.match(b) or (mode == "range" and _ZERO_INTERVAL_RE.match(b)):
        return "current row"
    return b


def _order_keys(masked: str, sql: str, start: int, end: int) -> tuple[OrderKey, ...]:
    """The depth-0 keys of the ORDER BY text at ``sql[start:end]``."""
    keys = []
    for a, b in _comma_spans(masked[start:end]):
        part = sql[start + a : start + b]
        i = start + a + len(part) - len(part.lstrip())
        j = start + b - (len(part) - len(part.rstrip()))
        m = _KEY_SUFFIX_RE.search(masked, i, j)
        nulls = m.group("nulls")
        keys.append(OrderKey(
            sql[i:j],
            sql[i : m.start()],
            (m.group("dir") or "").lower() == "desc",
            nulls.lower() if nulls else None,
        ))
    return tuple(keys)


def parse_over(masked: str, sql: str, open_pos: int) -> OverSpec | None:
    """The spec of the ``OVER (`` whose paren is ``masked[open_pos]``
    (see the module docstring); raises NotImplementedError on
    unbalanced parentheses."""
    close = _match_paren(masked, open_pos)
    s = open_pos + 1
    excl = _EXCLUDE_RE.search(masked, s, close)
    zone_end = excl.start() if excl else close
    pre_end = zone_end
    frame = None
    fm = _FRAME_RE.search(masked, s, zone_end)
    if fm:
        pre_end = fm.start()
        # bound TEXT comes from the statement by span: in the mask a
        # quoted interval magnitude (INTERVAL '2' DAY) is blanked out
        mode = fm.group("mode").lower()
        lo_g = "lo" if fm.group("lo") else "single"
        lo = _bound(sql[fm.start(lo_g) : fm.end(lo_g)], mode)
        hi = _bound(sql[fm.start("hi") : fm.end("hi")], mode) if fm.group("hi") else "current row"
        frame = Frame(mode, lo, hi, (fm.start(), fm.end()))
    unread = _UNREAD_FRAME_RE.search(masked, s, pre_end)
    if unread:
        pre_end = unread.start()
        frame = Frame(unread.group(1).lower(), None, None, (unread.start(), zone_end))
    pm = _PRE_RE.match(masked, s, pre_end)
    if pm is None:
        return None
    part = sql[pm.start("p") : pm.end("p")].strip() if pm.group("p") else None
    order, keys = None, ()
    if pm.group("o"):
        order = sql[pm.start("o") : pm.end("o")].strip()
        keys = _order_keys(masked, sql, pm.start("o"), pm.end("o"))
    return OverSpec(
        part,
        order,
        keys,
        frame,
        " ".join(excl.group("what").lower().split()) if excl else None,
        close,
    )
