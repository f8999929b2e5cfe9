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

Accepted statement shapes, read from the statement model
(``statement.parse_statement``, shared with the frame rewrite and the
global-rank pass); anything else returns None, a sound passthrough:

- form A: ``SELECT <items> FROM <ident>`` — one unqualified, unaliased
  relation and no clause after it (no WHERE/GROUP/ORDER/JOIN/…);
- form B: form A over ``rewrite_window_frames``'s dense-rank wrap
  (``FROM (SELECT *, dense_rank() OVER (PARTITION BY p ORDER BY k
  NULLS LAST) AS __adt_drN FROM <ident>) <ident>``), handed over as a
  ``DenseRankWrap`` (``rewrite_windows`` passes it on) so this pass
  never parses the wrap back out of the text; the injected column may
  appear only inside OVER clauses.

Either form may follow a ``WITH <cte>[, <cte>…]`` prefix (the model's
``main_start``), whose source identifier may then name a CTE.  The
prefix is carried verbatim onto the compressed statement.  Two
prefixes refuse:

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

from adt_spark.dialect.sqltext import _mask_literals, _splice
from adt_spark.dialect.statement import _has_subquery_or_window, parse_statement
from adt_spark.dialect.window_frames import DenseRankWrap, rewrite_window_frames

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


_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")
_CAST_KEY_RE = re.compile(
    r"^cast\s*\(\s*\(?\s*([A-Za-z_][A-Za-z_0-9]*)\s*\)?\s+as\s+"
    r"[A-Za-z_0-9(),\s]+\)$",
    re.IGNORECASE,
)


def _key_column(expr: str) -> str | None:
    """An order key's underlying column: the bare identifier, or the
    column inside a ``CAST((k) AS <type>)`` monotone recast; None when
    the key shape is unsupported."""
    if _IDENT_RE.fullmatch(expr):
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
    stmt = parse_statement(sql)
    core = stmt.select if stmt is not None else None
    if core is None or core.from_ is None or stmt.recursive:
        return None
    sql = stmt.sql
    prefix = sql[: stmt.main_start]
    # the compressed statement reads its source twice (partials and
    # join-back): both reads must see the same rows
    if {t.lower() for t in _IDENT_RE.findall(stmt.masked[: stmt.main_start])} & _NONDET:
        return None

    if wrap is None:
        src = core.source
        if src.kind != "relation" or "." in src.name or src.alias or core.clauses:
            return None
        base = src.name
    else:
        # the peer index is recomputed below as dense_rank over the
        # bare key ASC NULLS LAST, so the wrap must rank exactly that
        key = wrap.keys[0] if len(wrap.keys) == 1 else None
        if (
            key is None
            or key.desc
            or key.nulls == "first"
            or not _IDENT_RE.fullmatch(key.expr)
            or not _IDENT_RE.fullmatch(wrap.base)
        ):
            return None
        base = wrap.base

    # --- collect window calls in the items ------------------------------
    calls = []  # (start, end, fn, args, OVER body)
    part_col = None
    key_col = None
    for call in stmt.calls:
        if not core.body[0] <= call.over < core.body[1]:
            continue
        if not call.plain:
            return None
        fn = call.fn
        if fn not in _SAFE_FNS:
            return None
        args = sql[call.arg_span[0] : call.arg_span[1]]
        spec = call.spec
        if spec is None or spec.exclude is not None:
            return None
        # RANGE frames only; their bounds stay unread (the compressed
        # emission reuses the body verbatim), which also admits the
        # value split's CAST(… AS DECIMAL(38,18)) bounds
        if spec.frame is not None and spec.frame.mode != "range":
            return None
        p_txt = spec.partition
        if not p_txt or not _IDENT_RE.fullmatch(p_txt):
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
        if _has_subquery_or_window(m_args) or re.search(r"(?i)\bdistinct\b", m_args):
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
        body = sql[call.open + 1 : spec.close]
        calls.append((call.start, call.end, fn, args.strip(), body))
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
        call_key = re.sub(r"\s+", " ", sql[fn_start:end]).lower()
        col = win_cols.get(call_key)
        if col is None:
            # each function over its partials (a count sums its
            # per-key counts, never NULL)
            outer = "sum" if fn == "count" else fn
            wexpr = f"{outer}({_partial(fn, args)}) OVER ({body.strip()})"
            if fn == "count":
                wexpr = f"COALESCE({wexpr}, 0)"
            col = f"__kw_w{len(win_cols)}"
            win_cols[call_key] = col
            win_sql.append(f"{wexpr} AS {col}")
        repls.append((fn_start, end, col))

    out_items = []
    for item in core.items:
        a, b = item.span
        inside = [(s - a, e - a, col) for s, e, col in repls if a <= s and e <= b]
        # an unaliased item would be named after its rewritten text
        if inside and item.alias is None:
            return None
        text = _splice(sql[a:b], inside)
        if text is None:
            return None
        # a bare top-level * would also return the joined-back __kw_*
        # columns: qualify it to the base table's columns
        out_items.append(f" {base}.*" if item.star and item.qualifier is None else text)
    new_items = sql[core.body[0] : core.items[0].span[0]] + ",".join(out_items)
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
