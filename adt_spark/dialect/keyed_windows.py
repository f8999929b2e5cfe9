"""Keyed-window compression: evaluate RANGE-frame windows over the
distinct (partition, order-key) grain instead of over every row.

Why (round-12 optimization; guide §2.5/§2.6 skew+stragglers, §8 decide
with small rows): a window ``PARTITION BY p ORDER BY k RANGE …`` has
frame membership that is a pure function of the KEY VALUES present —
every row of one ``(p, k)`` peer group sees the same frame row-set.
Spark evaluates such a window with one task per distinct ``p``; with a
low-cardinality ``p`` (the EXCLUDE family partitions lineitem by
``l_returnflag`` — 3 values) the window stage runs 3 tasks at ANY
cluster size and each task holds ~n/3 rows (round-11 verdict item 1:
8 cores beat 32 on the whole family).  Worse, a moving-start frame
ending at UNBOUNDED FOLLOWING goes through
UnboundedFollowingWindowFunctionFrame — O(n²) per partition (measured
round 12: q_window_exclude_minmax 201 s at sf0.1 vs 0.9 s compressed).

The rewrite, applied AFTER ``rewrite_window_frames`` (so it consumes
the mechanical EXCLUDE/UBF-free emission; ``rewrite_windows`` runs the
two in order and is what ``translate_sql`` and the window registry
members call):

1. one parallel ``GROUP BY p, k`` computes per-key partials
   (sum/count/min/max of each aggregate argument),
2. the ORIGINAL window specs run unchanged over that compressed table
   (distinct keys ⇒ RANGE frames select the same key groups;
   cardinality(p × k) rows instead of n),
3. a null-safe LEFT JOIN (`<=>`) fans the results back onto the base
   rows — one row per (p, k) by construction, so the join preserves
   row count exactly; AQE broadcasts the compressed side at runtime.

Per-function equivalence (the pass refuses anything else):

- ``sum(e)``   → ``sum(per-key sum(e))``: sums ignore NULLs on both
  levels; an all-NULL key contributes a NULL partial which the outer
  sum ignores; an empty frame is NULL on both levels.  Integer sums
  keep their type exactly.  DECIMAL sums widen their declared
  precision a second time (p+10 → p+20, capped 38) — VALUES are
  identical unless the single-level sum would overflow to NULL where
  the two-level one still fits.  FLOAT/DOUBLE sums re-associate (the
  per-key partials change the fold order), so low-order bits can
  differ; the pass emits a one-time RuntimeWarning when it compresses
  a sum — same disclosure family as ``rewrite_window_frames``'s
  subtraction RuntimeWarning.
- ``count(e)`` / ``count(*)`` → ``COALESCE(sum(per-key count), 0)``:
  count over an empty frame is 0, sum over an empty frame is NULL —
  the COALESCE restores count's never-NULL contract.
- ``min/max(e)`` → ``min/max(per-key min/max(e))``: associative.
- ``first_value(e)`` / ``last_value(e)`` where ``e`` references ONLY
  the order key: e is constant within a peer group, so the first/last
  frame row's value is the first/last KEY's value; the per-key partial
  is ``min(e)`` (all group rows agree, NULL iff e(k) is NULL).
  Arguments referencing any other column are refused — under tied
  keys their first/last row would be tie-order-dependent.
- ``dense_rank()`` (the rewriter's injected peer-group index, form B
  below): dense_rank over rows ordered by k equals row-rank over the
  DISTINCT ks — recomputed on the compressed table with the identical
  spec.

NULL order keys: both levels group NULLs into one peer group and both
levels evaluate the same RANGE semantics over the same key multiset,
so NULL-key rows see identical frames (pinned by
tests/test_keyed_windows.py's null+ties matrix).

Accepted statement shapes (anything else returns None — a sound
passthrough, mirroring window_frames' refusal discipline):

- form A: ``SELECT <items> FROM <ident>`` — single plain-identifier
  source, no WHERE/GROUP/ORDER/JOIN/… tail;
- form B: form A whose source is ``rewrite_window_frames``'s
  dense-rank wrap ``(SELECT *, dense_rank() OVER (PARTITION BY p
  ORDER BY k NULLS LAST) AS __adt_drN FROM <ident>) <ident>`` with the
  injected column used ONLY inside OVER clauses.  The frame rewrite
  hands the wrap's partition, key, alias and base relation over as a
  ``DenseRankWrap`` (``rewrite_windows`` passes it on), so this pass
  never parses the wrap back out of the text; without one, the source
  must be form A.

Either form may follow a ``WITH <cte>[, <cte>…]`` prefix, and its
source identifier may then name a CTE or a table.  The prefix is
carried verbatim onto the compressed statement and the main query
passes the same gates; the split is ``sqltext._main_query_start``,
the one splitter the global-rank pass uses too.  Two prefixes refuse:

- ``WITH RECURSIVE`` — a recursive CTE is not a plain relation;
- any ``_NONDET`` function anywhere in the prefix — the compressed
  statement reads its source twice (once for the per-key partials,
  once for the join-back), so both reads must see the same rows.

Every item holding a window call needs an explicit ``AS`` alias (an
unaliased item is named after its text, which the rewrite changes).  A
bare top-level ``*`` is emitted as ``<ident>.*``, so the joined-back
``__kw_*`` columns never reach the output.

Every window call must share one bare-column PARTITION BY and one
underlying ORDER BY column (bare, or ``CAST((k) AS <type>)`` as the
value-range split emits); frames must be RANGE-mode (or absent);
ROWS/GROUPS frames, IGNORE NULLS, FILTER, DISTINCT aggregates,
subqueries and nondeterministic arguments all refuse.  The OVER bodies
are read with ``overspec.parse_over``; the frame's bounds are never
needed (the compressed emission reuses each body verbatim), so a RANGE
frame the bound grammar does not read, such as the value split's
``CAST(… AS DECIMAL(38,18))`` bounds, is accepted as it is.

Scale note: the pass trades one extra (parallel, partial-aggregated)
shuffle + broadcast join for collapsing the window input from n rows
to the key-grain cardinality.  When the order key is near-unique the
compressed table is ~n rows and the trade is a small loss; the engine
applies it unconditionally because value-offset RANGE analytics are
banded by construction (coarse keys), and ``ADT_KEYED_WINDOWS=0``
switches it off per session.
"""
from __future__ import annotations

import os
import re
import warnings

from adt_spark.dialect.overspec import parse_over
from adt_spark.dialect.sqltext import (
    _comma_spans,
    _main_query_start,
    _mask_literals,
    _star_item,
    _strip_comments,
    _top_level_matches,
)
from adt_spark.dialect.window_frames import (
    _FROM_RE,
    _OVER_RE,
    _SELECT_RE,
    DenseRankWrap,
    _call_before_over,
    rewrite_window_frames,
)

_SAFE_FNS = {"sum", "count", "min", "max", "first_value", "last_value"}

#: nondeterministic / row-identity functions whose presence in an
#: aggregate argument makes per-key partials unsound
_NONDET = {
    "rand", "randn", "random", "uuid", "shuffle",
    "monotonically_increasing_id", "current_timestamp", "now",
    "current_date", "current_timezone", "input_file_name",
    "spark_partition_id", "row_number",
}

#: keywords/type names allowed (besides the order column) in a
#: first_value/last_value argument
_FV_KEYWORDS = {
    "cast", "as", "null", "case", "when", "then", "else", "end", "is",
    "not", "and", "or", "coalesce", "nullif", "interval", "decimal",
    "bigint", "int", "integer", "double", "float", "date", "timestamp",
    "string", "smallint", "tinyint", "boolean", "day", "month", "year",
    "hour", "minute", "second", "true", "false",
}

_reassociation_warned = False


def _warn_reassociation_once() -> None:
    """One-time heads-up that a compressed ``sum`` (the form an
    ``avg`` reaches this pass in, after ``rewrite_window_frames``)
    re-associates its fold: per-key partial sums, then the window sum
    over them — exact for integer/decimal arguments, but
    FLOATING-POINT arguments can differ from the uncompressed window
    in low-order bits.  A textual pass cannot see column types, so
    the disclosure is unconditional; same family as
    ``window_frames._warn_subtraction_once``."""
    global _reassociation_warned
    if _reassociation_warned:
        return
    _reassociation_warned = True
    warnings.warn(
        "keyed-window compression: sum()/avg() windows are evaluated "
        "over per-key partial sums; results are exact for "
        "integer/decimal arguments but may differ in low-order bits "
        "for floating-point ones (see adt_spark/dialect/keyed_windows.py "
        "docstring)",
        RuntimeWarning,
        stacklevel=3,
    )


_IDENT_ONLY = re.compile(r"^[A-Za-z_][A-Za-z_0-9]*$")
_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")
_CAST_KEY_RE = re.compile(
    r"^cast\s*\(\s*\(?\s*([A-Za-z_][A-Za-z_0-9]*)\s*\)?\s+as\s+"
    r"[A-Za-z_0-9(),\s]+\)$",
    re.IGNORECASE,
)
_RECURSIVE_RE = re.compile(r"\s*with\s+recursive\b", re.IGNORECASE)
_ALIAS_END = re.compile(r"\bas\s+([A-Za-z_]\w*|`[^`]+`)\s*$", re.IGNORECASE)


def _key_column(expr: str) -> str | None:
    """An order key's underlying column: the bare identifier, or the
    column inside a ``CAST((k) AS <type>)`` monotone recast; None when
    the key shape is unsupported."""
    if _IDENT_ONLY.match(expr):
        return expr
    m = _CAST_KEY_RE.match(expr)
    return m.group(1) if m else None


def rewrite_windows(sql: str) -> str:
    """The window passes in order: ``rewrite_window_frames``, then the
    compression of its output, handed the dense-rank wrap the frame
    rewrite emitted (if any).  The compressed statement, or the frame
    rewrite's when any gate refuses."""
    wraps: list[DenseRankWrap] = []
    framed = rewrite_window_frames(sql, wraps)
    return compress_keyed_windows(framed, wraps[0] if wraps else None) or framed


def compress_keyed_windows(sql: str, wrap: DenseRankWrap | None = None) -> str | None:
    """The compressed statement, or None when any soundness gate
    refuses (callers fall back to the uncompressed text).  ``wrap`` is
    the dense-rank wrap ``rewrite_window_frames`` emitted for ``sql``
    (form B); without it the source must be a bare relation (form A)."""
    if os.environ.get("ADT_KEYED_WINDOWS", "1").lower() in ("0", "false", "off"):
        return None
    sql = _strip_comments(sql)
    masked = _mask_literals(sql)
    start = _main_query_start(masked)
    if start is None:
        return None
    prefix, sql = sql[:start], sql[start:]
    m_prefix, masked = masked[:start], masked[start:]
    if _RECURSIVE_RE.match(m_prefix):
        return None
    # the compressed statement reads its source twice (partials and
    # join-back): both reads must see the same rows
    if {t.lower() for t in _IDENT_RE.findall(m_prefix)} & _NONDET:
        return None

    # --- split SELECT items / FROM source -------------------------------
    sel_m = _SELECT_RE.match(masked, len(masked) - len(masked.lstrip()))
    froms = _top_level_matches(masked, _FROM_RE)
    if sel_m is None or not froms:
        return None
    from_m = froms[0]
    items = sql[sel_m.end() : from_m.start()]
    m_items = masked[sel_m.end() : from_m.start()]

    if wrap is None:
        base = sql[from_m.end() :].strip()
        if not _IDENT_ONLY.match(base):
            return None
    else:
        # the peer index is recomputed below as dense_rank over the
        # bare key ASC NULLS LAST, so the wrap must rank exactly that
        key = wrap.keys[0] if len(wrap.keys) == 1 else None
        if (
            key is None
            or key.desc
            or key.nulls == "first"
            or not _IDENT_ONLY.match(key.expr)
            or not _IDENT_ONLY.match(wrap.base)
        ):
            return None
        base = wrap.base

    # --- collect window calls in the items ------------------------------
    calls = []  # (start, end, fn, args, OVER body)
    part_col = None
    key_col = None
    for om in _OVER_RE.finditer(m_items):
        cb = _call_before_over(m_items, items, om.start())
        if cb is None:
            return None
        fn_start, fn, args = cb
        if fn not in _SAFE_FNS:
            return None
        spec = parse_over(m_items, items, om.end() - 1)
        if spec is None or spec.exclude is not None:
            return None
        # RANGE frames only; their bounds stay unread (the compressed
        # emission reuses the body verbatim), which also admits the
        # value split's CAST(… AS DECIMAL(38,18)) bounds
        if spec.frame is not None and spec.frame.mode != "range":
            return None
        p_txt = spec.partition
        if not p_txt or not _IDENT_ONLY.match(p_txt):
            return None
        if part_col is None:
            part_col = p_txt
        elif p_txt.lower() != part_col.lower():
            return None
        if spec.order is not None:
            if len(spec.keys) != 1:
                return None  # composite ORDER BY — grain is not one key
            ucol = _key_column(spec.keys[0].expr)
            if ucol is None:
                return None
            if wrap is not None and ucol.lower() == wrap.alias.lower():
                ucol = wrap.keys[0].expr  # the injected peer index ranks this key
            if key_col is None:
                key_col = ucol
            elif ucol.lower() != key_col.lower():
                return None
        elif spec.frame is not None:
            return None  # frame without ORDER BY — let Spark refuse it

        # --- argument gates ---
        m_args = _mask_literals(args)
        low_args = m_args.lower()
        if re.search(r"\b(select|over|distinct)\b", low_args):
            return None
        idents = {t.lower() for t in _IDENT_RE.findall(m_args)}
        if idents & _NONDET:
            return None
        if fn in ("first_value", "last_value"):
            if spec.order is None:
                return None  # unordered first/last is tie-order-dependent
            allowed = set(_FV_KEYWORDS)
            if key_col is not None:
                allowed.add(key_col.lower())
            # the injected __adt_drN is not a column of the partials'
            # source (FROM base), so an argument over it refuses too
            if idents - allowed:
                return None
        if fn == "count" and args.strip() != "*" and not args.strip():
            return None
        body = items[om.end() : spec.close]
        calls.append((fn_start, spec.close + 1, fn, args.strip(), body))
    if not calls:
        return None
    if part_col is None:
        return None
    if key_col is None:
        # only whole-partition aggregates — a plain groupBy join would do,
        # but nothing in the engine emits that shape alone; refuse.
        return None
    if wrap is not None and (
        wrap.partition.lower() != part_col.lower()
        or key_col.lower() != wrap.keys[0].expr.lower()
    ):
        return None

    # --- partials (dedup by fn-kind + argument text) ---------------------
    partial_fn = {"sum": "sum", "count": "count", "min": "min",
                  "max": "max", "first_value": "min", "last_value": "min"}
    partials: dict[tuple, str] = {}
    partial_sql: list[str] = []

    def _partial(fn: str, args: str) -> str:
        pf = partial_fn[fn]
        key = (pf, re.sub(r"\s+", " ", args).lower())
        col = partials.get(key)
        if col is None:
            col = f"__kw_p{len(partials)}"
            partials[key] = col
            partial_sql.append(f"{pf}({args}) AS {col}")
        return col

    # --- window expressions over the compressed table + replacements ----
    win_cols: dict[str, str] = {}
    win_sql: list[str] = []
    repls = []  # (start, end, colname)
    for fn_start, end, fn, args, body in calls:
        call_key = re.sub(r"\s+", " ", items[fn_start:end]).lower()
        col = win_cols.get(call_key)
        if col is None:
            pcol = _partial(fn, args)
            over = f"OVER ({body.strip()})"
            if fn == "sum":
                wexpr = f"sum({pcol}) {over}"
            elif fn == "count":
                wexpr = f"COALESCE(sum({pcol}) {over}, 0)"
            elif fn in ("min", "first_value"):
                wexpr = f"{'min' if fn == 'min' else 'first_value'}({pcol}) {over}"
            elif fn == "max":
                wexpr = f"max({pcol}) {over}"
            else:  # last_value
                wexpr = f"last_value({pcol}) {over}"
            col = f"__kw_w{len(win_cols)}"
            win_cols[call_key] = col
            win_sql.append(f"{wexpr} AS {col}")
        repls.append((fn_start, end, col))

    new_items = items
    for start, end, col in sorted(repls, reverse=True):
        new_items = new_items[:start] + col + new_items[end:]
    m_new = _mask_literals(new_items)
    spans = _comma_spans(m_new)
    for a, b in spans:
        # an unaliased item would be named after its rewritten text
        if "__kw_w" in m_new[a:b] and not _ALIAS_END.search(m_new[a:b]):
            return None
    # a bare top-level * would also return the joined-back __kw_*
    # columns: qualify it to the base table's columns
    out_items = []
    for a, b in spans:
        star = _star_item(m_new[a:b])
        bare = star is not None and star.group("qualifier") is None
        out_items.append(f" {base}.*" if bare else new_items[a:b])
    new_items = ",".join(out_items)
    if wrap is not None and re.search(
        rf"\b{re.escape(wrap.alias)}\b", _mask_literals(new_items), re.IGNORECASE
    ):
        return None  # injected index used outside OVER — not joined back

    grp = (
        f"SELECT {part_col}, {key_col}, {', '.join(partial_sql)} "
        f"FROM {base} GROUP BY {part_col}, {key_col}"
    )
    win_src = f"({grp}) __kw_g"
    if wrap is not None:
        win_src = (
            f"(SELECT *, dense_rank() OVER (PARTITION BY {part_col} "
            f"ORDER BY {key_col} NULLS LAST) AS {wrap.alias} FROM ({grp})) __kw_g"
        )
    if any(fn == "sum" for _s, _e, fn, *_rest in calls):
        _warn_reassociation_once()
    win = (
        f"SELECT {part_col} AS __kw_jp, {key_col} AS __kw_jk, "
        f"{', '.join(win_sql)} FROM {win_src}"
    )
    return (
        f"{prefix}SELECT {new_items.strip()}\n"
        f"FROM {base} LEFT JOIN ({win}) __kw_w\n"
        f"  ON {base}.{part_col} <=> __kw_w.__kw_jp "
        f"AND {base}.{key_col} <=> __kw_w.__kw_jk"
    )
