"""Global-window rewrite for raw SQL — dodging the single-partition
WindowExec cliff.

An unpartitioned ``… OVER (ORDER BY …)`` executes on ONE task in
Spark (the whole input is exchanged to a SinglePartition before
WindowExec) — the classic scale wall a ported adt script hits,
because DataFusion executes the same SQL with a parallel sort +
streaming evaluation (reference SQL pass-through:
``crates/cli/src/main.rs:116`` — any SQL the user types goes straight
to the engine, so global windows are common in adt scripts;
``datafusion-functions-window``, Cargo.lock:1818, is the inherited
function set).

This pass detects the sound shape (each call's OVER body read with
``overspec.parse_over``: no partition, an ORDER BY, and the default
frame or a literal ROWS frame, taken as the model's signed row
offsets) and executes it through the two-phase global-window planner,
``adt_spark.operators.global_window.plan_global_windows``
(deterministic range pids → local windows → bounded per-pid state
re-entered as ≤n_parts-row broadcast joins; boundary-invariant
output, oracled by the q_sql_* family), one ``OrderWindows`` per
distinct order:

- ranks: row_number / rank / dense_rank / percent_rank / cume_dist /
  ntile(k);
- running aggregates with the default peer-inclusive frame, left out
  or spelled ``RANGE [BETWEEN] UNBOUNDED PRECEDING [AND CURRENT ROW]``:
  sum / count / min / max / avg (+ the round-10 variance family);
- bounded-frame aggregates (round-11): sum / count / min / max /
  avg over ``ROWS BETWEEN a PRECEDING AND b FOLLOWING`` (either
  bound may be CURRENT ROW, UNBOUNDED or strictly before / after the
  current row; literal row counts, a zero offset being CURRENT ROW);
- offsets: lag / lead (literal j), including the round-11 3-arg
  default-value form;
- frame values with the default frame (round-10): first_value /
  last_value / nth_value(expr, literal n), plus round-11
  ``first_value/last_value(x) IGNORE NULLS``;
- whole-input scalar aggregates ``sum/count/min/max/avg(x) OVER ()``.

Execution: the INNER BLOCK (everything below the projection —
FROM body, WHERE, GROUP BY, HAVING, plus any CTE prefix) runs as its
own statement; each supported unpartitioned window call becomes a
pre-computed column over that result; the remaining projection /
ORDER BY / LIMIT runs over the ranked temp view with the calls
substituted (the view is dropped once that statement is analysed).
Window calls that stay native (partitioned, ranking and variance
OVER (), exotic frames — RANGE/GROUPS/non-literal ROWS bounds,
bounded-frame variance, nth_value IGNORE NULLS, lag/lead IGNORE
NULLS, non-literal offsets) are LEFT IN PLACE and evaluate over the view's
rows — the inner block's rows — unchanged.

Scope (round-10, widened past the round-9 single-relation rule):

- one top-level SELECT; the FROM body may be a relation, a
  ``fmt.`path``` URL table, a parenthesized derived table (GROUP
  BY / join / anything inside), or a top-level JOIN chain; a WITH
  prefix is carried verbatim onto the inner statement (split off by
  ``sqltext._main_query_start``, the splitter the keyed-window
  compression shares);
- a top-level GROUP BY [HAVING] is supported when every projection
  item is a bare column, an explicit ``expr AS alias``, or exactly
  one rewritable window call with an alias (window keys/args may
  then be aggregate expressions — they are computed inside the
  aggregated inner block);
- window ORDER BY keys are arbitrary expressions (plain columns
  stay qualifier-stripped); every call — RANKING included since
  round-11 (r10 verdict #4) — may use its own order: the executor
  builds one pid assignment per DISTINCT order;
- no top-level DISTINCT / set ops / ``*`` or ``alias.*`` projection
  items (a star would leak the injected ``_adt_g*`` columns —
  ADVICE r9 hardened this from "leading ``*``" to ANY top-level
  star item).

Anything else passes through UNTOUCHED, which stays correct, merely
on the cliff; resolution errors inside the rewrite (ambiguous
columns from a self-join FROM body, aliases as window keys, …) fall
back to the native path the same way.  Unlike the GROUPS/EXCLUDE
rewrites (which refuse loudly because Spark cannot run the original
at all), the unrewritten global window is semantically fine — so
the fallback here is pass-through, never an error.
"""

from __future__ import annotations

import itertools
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adt_spark.dialect.overspec import OrderKey, OverSpec, parse_over
from adt_spark.dialect.sqltext import (
    _blank_parens,
    _comma_spans,
    _main_query_start,
    _mask_literals,
    _match_paren,
    _star_item,
    _strip_comments,
)

__all__ = ["maybe_rewrite_global_rank"]

_RANK_CALL_RE = re.compile(
    r"\b(?P<fn>row_number|rank|dense_rank|percent_rank|cume_dist)"
    r"\s*\(\s*\)\s+over\s*\("
    r"|\b(?P<ntile>ntile)\s*\(\s*(?P<k>\d+)\s*\)\s+over\s*\(",
    re.IGNORECASE,
)

#: running-aggregate window calls (the default-frame family the
#: two-phase running-agg construction covers); the lookbehind keeps
#: `checksum(`-style identifiers from matching `sum(`
_AGG_CALL_RE = re.compile(
    r"(?<![\w.$])(?P<afn>sum|count|min|max|avg"
    r"|var_pop|var_samp|variance|stddev|stddev_pop|stddev_samp)\s*\(",
    re.IGNORECASE,
)

#: offset window calls (lag/lead)
_OFF_CALL_RE = re.compile(
    r"(?<![\w.$])(?P<ofn>lag|lead)\s*\(",
    re.IGNORECASE,
)

#: frame-value window calls (round-10: first/last/nth)
_FLN_CALL_RE = re.compile(
    r"(?<![\w.$])(?P<ffn>first_value|last_value|nth_value)\s*\(",
    re.IGNORECASE,
)

#: a plain (possibly qualified) column reference
_COL_RE = re.compile(r"\s*(?P<col>[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*")

#: single relation: name / qualified name / fmt.`path`, optional alias
_REL_RE = re.compile(
    r"^\s*(?P<rel>[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*(?:\.`[^`]*`)?)"
    r"(?:\s+(?:as\s+)?(?P<alias>[A-Za-z_]\w*))?\s*$",
    re.IGNORECASE,
)

#: parenthesized derived table with alias
_DERIVED_RE = re.compile(
    r"^\s*\(.*\)\s*(?:as\s+)?(?P<alias>[A-Za-z_]\w*)\s*$",
    re.IGNORECASE | re.DOTALL,
)

#: top-level (depth-0) blockers inside the MAIN statement body
_BLOCKERS_TOP = re.compile(
    r"\b(union|intersect|except|distinct|recursive)\b", re.IGNORECASE
)

#: explicit `expr AS alias` tail (GROUP-mode non-window items)
_AS_ALIAS_RE = re.compile(r"\s+as\s+(?P<alias>[A-Za-z_]\w*)\s*$", re.IGNORECASE)

_view_counter = itertools.count()

#: the one live GROUP-mode cached inner (see maybe_rewrite_global_rank:
#: released when the next rewrite caches its own; a previous query's
#: result DataFrame consumed after that recomputes — correct, uncached)
_cached_inner = None


def _order_keys(keys: tuple[OrderKey, ...]):
    """Parsed ORDER BY keys → list of key dicts, or None when a key is
    empty or holds a window / subquery.

    Each key: {"kind": "col"|"expr", "ident": dedup identity,
    "src": source expression text, "method": Column sort-method
    name}.  Plain (possibly qualified) column refs stay columns with
    the qualifier stripped; anything else is an expression key
    carried textually."""
    out = []
    for k in keys:
        method = ("desc" if k.desc else "asc") + (f"_nulls_{k.nulls}" if k.nulls else "")
        m = _COL_RE.fullmatch(k.expr)
        if m:
            col = m.group("col").split(".")[-1].lower()
            out.append({"kind": "col", "ident": col, "src": col, "method": method})
            continue
        expr = k.expr
        if not expr or re.search(r"\b(over|select)\b", _mask_literals(expr), re.IGNORECASE):
            return None
        out.append(
            {"kind": "expr", "ident": " ".join(expr.split()), "src": expr, "method": method}
        )
    return out


def _order_ident(keys) -> tuple:
    return tuple((k["ident"], k["method"]) for k in keys)


def _over_order(spec: OverSpec | None, sql: str):
    """(keys, frame) of an unpartitioned ORDER BY spec with the
    default frame (frame None) or a literal-bounded ROWS frame (frame
    = (a, b): rows preceding and following, None for an UNBOUNDED
    side, negative for a frame strictly after / before the current
    row); None when the call stays native."""
    if spec is None or spec.partition is not None or spec.order is None:
        return None  # partitioned / OVER () / named window — native
    keys = _order_keys(spec.keys)
    if keys is None or spec.exclude is not None:
        return None
    f = spec.frame
    if f is None:
        return keys, None
    if (f.mode, f.lo, f.hi) == ("range", "unbounded preceding", "current row"):
        # spelled in words only: a zero offset (… AND 0 PRECEDING) is a
        # value boundary, which Spark checks against the key's type and
        # admits under one ORDER BY key only
        if re.search(r"\d", sql[f.span[0] : f.span[1]]):
            return None
        return keys, None
    # round-11: literal ROWS bounds, UNBOUNDED sides and frames
    # strictly before / after the current row (the executor rewrites
    # frame [lo, hi] with hi<0 as the [lo−hi, 0] aggregate globally
    # LAGGED by −hi, and lo>0 as a LEAD).  The row-exclusive cumulative
    # frame (UNBOUNDED PRECEDING .. CURRENT ROW) differs from the
    # default RANGE frame under tied keys, so it routes here too.
    offsets = f.row_offsets() if f.mode == "rows" else None
    if offsets is None:
        return None
    lo, hi = offsets
    return keys, (None if lo is None else -lo, hi)


def _arg_guard(masked: str, open_pos: int, close_pos: int) -> bool:
    """True when a call's argument text is safe to re-evaluate (no
    nested window / subquery)."""
    return not re.search(
        r"\b(over|select)\b", masked[open_pos + 1 : close_pos], re.IGNORECASE
    )


def maybe_rewrite_global_rank(spark: SparkSession, sql: str) -> DataFrame | None:
    """Execute ``sql`` through the two-phase global-window
    constructions when it matches the sound shape (module docstring);
    None when it does not (caller falls back to plain ``spark.sql``)."""
    stripped = _strip_comments(sql).rstrip()
    if stripped.endswith(";"):
        stripped = stripped[:-1]
    sql = stripped
    masked = _mask_literals(sql)
    if not re.search(r"\bover\b", masked, re.IGNORECASE):
        return None
    has_any = (
        _RANK_CALL_RE.search(masked)
        or _AGG_CALL_RE.search(masked)
        or _OFF_CALL_RE.search(masked)
        or _FLN_CALL_RE.search(masked)
    )
    if not has_any:
        return None

    # --- statement shape ---------------------------------------------
    main_start = _main_query_start(masked)
    if main_start is None:
        return None
    cte_src = sql[:main_start]
    blanked = _blank_parens(masked)
    body_blanked = blanked[main_start:]
    if _BLOCKERS_TOP.search(body_blanked):
        return None
    if len(re.findall(r"\bselect\b", body_blanked, re.IGNORECASE)) != 1:
        return None
    sm = re.match(r"\s*select\s", body_blanked, re.IGNORECASE)
    if sm is None:
        return None
    fm = re.search(r"\bfrom\b", body_blanked, re.IGNORECASE)
    if fm is None or fm.start() < sm.end():
        return None
    sel_span = (main_start + sm.end(), main_start + fm.start())
    tail_start = main_start + fm.end()

    clause_pos = {}
    for kw, pat in (
        ("where", r"\bwhere\b"),
        ("group", r"\bgroup\s+by\b"),
        ("having", r"\bhaving\b"),
        ("order", r"\border\s+by\b"),
        ("limit", r"\blimit\b"),
    ):
        m = re.search(pat, blanked[tail_start:], re.IGNORECASE)
        if m:
            clause_pos[kw] = (tail_start + m.start(), tail_start + m.end())
    order_kws = [k for k in ("where", "group", "having", "order", "limit")
                 if k in clause_pos]
    starts = [clause_pos[k][0] for k in order_kws]
    if starts != sorted(starts):
        return None  # clauses out of canonical order — malformed
    if "having" in clause_pos and "group" not in clause_pos:
        return None
    bounds = starts + [len(sql)]
    from_body = sql[tail_start : bounds[0] if starts else len(sql)].strip()
    if not from_body:
        return None
    clause_src = {}
    for i, k in enumerate(order_kws):
        clause_src[k] = sql[clause_pos[k][1] : bounds[i + 1]].strip()
    where_src = clause_src.get("where")
    group_src = clause_src.get("group")
    having_src = clause_src.get("having")
    order_src = clause_src.get("order")
    limit_src = clause_src.get("limit")
    if limit_src is not None and not re.fullmatch(r"\d+", limit_src):
        return None  # LIMIT ALL / OFFSET forms — out of scope
    if order_src and re.search(
        r"\bover\b", _mask_literals(order_src), re.IGNORECASE
    ):
        return None

    # --- projection items (ANY top-level star is rejected, ADVICE r9) --
    sel_masked = masked[sel_span[0] : sel_span[1]]
    item_spans = [
        (sel_span[0] + a, sel_span[0] + b) for a, b in _comma_spans(sel_masked)
    ]
    for a, b in item_spans:
        if _star_item(masked[a:b]):
            return None  # would leak the injected _adt_g* columns

    # --- collect rewritable window calls ------------------------------
    # every entry: dict(start, end, family, fn, keys, arg_src, j, n)
    calls = []
    try:
        for m in _RANK_CALL_RE.finditer(masked):
            spec = parse_over(masked, sql, m.end() - 1)
            parsed = _over_order(spec, sql)
            if parsed is None or parsed[1] is not None:
                if spec is not None and spec.partition is None and spec.order is not None:
                    return None  # framed/odd-keyed ranking — whole stmt native
                continue  # partitioned ranking — native, stays put
            fn = (m.group("fn") or m.group("ntile")).lower()
            if fn == "ntile":
                fn = f"ntile({int(m.group('k'))})"
            calls.append(
                dict(start=m.start(), end=spec.close + 1, family="rank", fn=fn,
                     keys=parsed[0], arg_src=None, j=None, n=None, frame=None,
                     ign=False, default_src=None)
            )
        for fam, call_re, group in (
            ("agg", _AGG_CALL_RE, "afn"),
            ("off", _OFF_CALL_RE, "ofn"),
            ("fln", _FLN_CALL_RE, "ffn"),
        ):
            for m in call_re.finditer(masked):
                open_pos = m.end() - 1
                arg_close = _match_paren(masked, open_pos)
                om = re.match(
                    r"\s+(?:(?P<nulls>ignore|respect)\s+nulls\s+)?over\s*\(",
                    masked[arg_close + 1 :],
                    re.IGNORECASE,
                )
                if om is None:
                    continue  # plain (non-window) call — native
                nulls_tok = (om.group("nulls") or "").lower()
                # the arguments, split on the mask: a quoted or nested
                # comma never splits one
                parts = [
                    sql[open_pos + 1 + a : open_pos + 1 + b]
                    for a, b in _comma_spans(masked[open_pos + 1 : arg_close])
                ]
                over_open = arg_close + 1 + om.end() - 1
                spec_close_g = _match_paren(masked, over_open)
                if (
                    fam == "agg"
                    and not masked[over_open + 1 : spec_close_g].strip()
                    and not nulls_tok
                ):
                    # empty OVER () — whole-input scalar aggregate
                    # (round-11 second wave): one parallel aggregation
                    # + typed literal, instead of Spark's
                    # SinglePartition whole-input window
                    fn = m.group(group).lower()
                    if fn not in ("sum", "count", "min", "max", "avg"):
                        continue  # variance OVER () — native
                    if not _arg_guard(masked, open_pos, arg_close):
                        return None
                    if len(parts) != 1:
                        continue
                    calls.append(
                        dict(start=m.start(), end=spec_close_g + 1,
                             family="glob", fn=fn, keys=[],
                             arg_src=parts[0].strip(), j=None, n=None,
                             frame=None, ign=False, default_src=None)
                    )
                    continue
                parsed = _over_order(parse_over(masked, sql, over_open), sql)
                if parsed is None:
                    continue  # partitioned / exotic frame — native
                keys, frame = parsed
                if not _arg_guard(masked, open_pos, arg_close):
                    return None  # nested window/subquery in the argument
                fn = m.group(group).lower()
                j = n = None
                ign = nulls_tok == "ignore"
                default_src = None
                if fam == "agg":
                    if len(parts) != 1 or ign:
                        continue  # DISTINCT / multi-arg / bad syntax
                    if frame is not None and fn not in (
                        "sum", "count", "min", "max", "avg"
                    ):
                        continue  # bounded-frame variance — native
                    if (
                        frame is not None
                        and frame[0] is not None
                        and frame[1] is not None
                        and frame[0] + frame[1] < 0
                    ):
                        continue  # lo > hi — invalid frame, Spark reports
                    arg_src = parts[0].strip()
                elif fam == "off":
                    if frame is not None or ign:
                        # explicit frames are ignored by offsets; the
                        # IGNORE NULLS offset form stays native
                        continue
                    arg_src = parts[0].strip()
                    j = 1
                    if len(parts) >= 2:
                        jm = re.match(r"^\s*(\d+)\s*$", parts[1])
                        if jm is None:
                            continue  # non-literal offset — native
                        j = int(jm.group(1))
                        if j < 1:
                            continue  # lag(x, 0) is the identity — native
                    if len(parts) == 3:
                        # 3-arg default-value form (round-11)
                        default_src = parts[2].strip()
                        if not default_src:
                            continue
                    elif len(parts) > 3:
                        continue
                else:  # fln
                    if frame is not None:
                        continue  # framed frame-value call — native
                    arg_src = parts[0].strip()
                    if fn == "nth_value":
                        if len(parts) != 2 or ign:
                            continue  # nth IGNORE NULLS stays native
                        nm = re.match(r"^\s*(\d+)\s*$", parts[1])
                        if nm is None or int(nm.group(1)) < 1:
                            continue  # non-literal / non-positive n — native
                        n = int(nm.group(1))
                    elif len(parts) != 1:
                        continue  # explicit ignoreNulls argument — native
                calls.append(
                    dict(start=m.start(), end=spec_close_g + 1, family=fam,
                         fn=fn, keys=keys, arg_src=arg_src, j=j, n=n,
                         frame=frame, ign=ign, default_src=default_src)
                )
    except (ValueError, NotImplementedError):
        # unbalanced parens somewhere (_match_paren raises
        # NotImplementedError; numeric parses raise ValueError) — the
        # rewrite contract is pass-through-never-error, so fall back
        # and let Spark's own parser report malformed SQL.
        return None
    if not calls:
        return None
    # (round-11, r10 verdict #4: the one-shared-ranking-order
    # restriction is lifted — the execution loop below already builds
    # one pid assignment per DISTINCT order, so two rank orders in one
    # statement each ride their own partitioning)
    # spans must not overlap (a rank call inside an agg argument would
    # double-substitute) and must sit inside the projection
    spans = sorted((c["start"], c["end"]) for c in calls)
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        if s2 < e1:
            return None
    for c in calls:
        if c["start"] < sel_span[0] or c["end"] > sel_span[1]:
            return None  # window call outside the projection

    group_mode = group_src is not None

    # --- GROUP mode: validate items, plan the aggregated inner -------
    # (window keys/args may be aggregate expressions — they must be
    # computed INSIDE the aggregated block, aliased _adt_wk*/_adt_wa*)
    inner_extra: list[str] = []
    key_alias: dict[str, str] = {}
    arg_alias: dict[str, str] = {}
    if group_mode:
        covered = set()
        for a, b in item_spans:
            inside = [c for c in calls if a <= c["start"] and c["end"] <= b]
            item_m = masked[a:b]
            if inside:
                # a window item may be any expression around the
                # call(s) — CAST(rank() OVER … AS BIGINT), arithmetic —
                # but must carry an explicit AS alias (the substituted
                # text becomes the outer item; without a name the
                # injected _adt_gw* column name would leak).  Leftover
                # aggregate references in the remainder fail outer
                # analysis ("not in GROUP BY") and fall back native.
                if not _AS_ALIAS_RE.search(item_m):
                    return None
                covered.add((a, b))
            else:
                src_item = sql[a:b].strip()
                if not src_item:
                    return None
                if _COL_RE.fullmatch(item_m) or _AS_ALIAS_RE.search(item_m):
                    continue  # bare column / explicit AS alias — fine
                return None  # implicit alias or bare expression
        def _call_arg_srcs(c) -> list[str]:
            out = []
            if c["arg_src"] is not None and c["arg_src"] != "*":
                out.append(c["arg_src"])
            if c["default_src"] is not None:
                out.append(c["default_src"])
            return out

        for c in calls:
            for k in c["keys"]:
                if k["ident"] not in key_alias:
                    key_alias[k["ident"]] = f"_adt_wk{len(key_alias)}"
            for s in _call_arg_srcs(c):
                aid = " ".join(s.split())
                if aid not in arg_alias:
                    arg_alias[aid] = f"_adt_wa{len(arg_alias)}"
        for k_ident, k_name in key_alias.items():
            src = next(
                k["src"] for c in calls for k in c["keys"]
                if k["ident"] == k_ident
            )
            inner_extra.append(f"{src} AS {k_name}")
        for a_ident, a_name in arg_alias.items():
            src = next(
                s for c in calls for s in _call_arg_srcs(c)
                if " ".join(s.split()) == a_ident
            )
            inner_extra.append(f"{src} AS {a_name}")

    # --- build the inner statement ------------------------------------
    if group_mode:
        keep_items = [
            sql[a:b].strip() for a, b in item_spans if (a, b) not in covered
        ]
        inner_sel = ", ".join(keep_items + inner_extra)
        if not inner_sel:
            return None
        inner = f"{cte_src}SELECT {inner_sel} FROM {from_body}"
        if where_src:
            inner += f" WHERE {where_src}"
        inner += f" GROUP BY {group_src}"
        if having_src:
            inner += f" HAVING {having_src}"
    else:
        inner = f"{cte_src}SELECT * FROM {from_body}"
        if where_src:
            inner += f" WHERE {where_src}"

    def _key_cols(keys) -> list:
        out = []
        for k in keys:
            if group_mode:
                out.append((F.col(key_alias[k["ident"]]), k["method"]))
            elif k["kind"] == "col":
                out.append((F.col(k["ident"]), k["method"]))
            else:
                out.append((F.expr(k["src"]), k["method"]))
        return out

    def _arg_col(arg_src: str):
        if group_mode:
            return F.col(arg_alias[" ".join(arg_src.split())])
        return F.expr(arg_src)

    # --- execute the two-phase constructions --------------------------
    from adt_spark.operators.global_window import (
        OrderWindows,
        plan_global_windows,
    )

    names = {}
    for i, c in enumerate(sorted(calls, key=lambda c: c["start"])):
        names[c["start"]] = f"_adt_gw{i}"

    def _agg_arg(c):
        return None if c["arg_src"] == "*" else _arg_col(c["arg_src"])

    try:
        inner_df = spark.sql(inner)
        injected = set(key_alias.values()) | set(arg_alias.values())
        if any(
            c.startswith("_adt_") and c not in injected
            for c in inner_df.columns
        ):
            return None  # reserved-prefix collision with the injected
            # helper columns (_adt_pid/_adt_wk*/…) — native path
        if group_mode:
            # GROUP mode: the inner block is a corpus-wide AGGREGATE
            # whose output is group-grain; the constructions hit it
            # with several actions (bounds samples, state collects,
            # the final output), and recomputing the aggregation per
            # action costs one corpus scan each.  Cache the aggregate
            # OUTPUT (never the raw corpus — row-mode inners stay
            # uncached): MEMORY_AND_DISK spills, and even a
            # corpus-grain GROUP BY's output is no larger than one of
            # the scans it saves.  At most ONE cached inner is alive —
            # the previous query's is released here.
            global _cached_inner
            if _cached_inner is not None:
                try:
                    _cached_inner.unpersist()
                except Exception:
                    pass
            inner_df = inner_df.persist()
            _cached_inner = inner_df
        # ONE pid assignment per DISTINCT order, shared by every
        # family over that order (round-10: the assignment costs a
        # key-pruned sampling scan — one per order, not one per
        # family); scalar OVER () totals need no order at all
        by_order: dict[tuple, list] = {}
        for c in calls:
            if c["family"] != "glob":
                by_order.setdefault(_order_ident(c["keys"]), []).append(c)
        orders = []
        for order in sorted(by_order):
            group_all = by_order[order]

            def _fam(family, framed=None):
                return [
                    c for c in group_all
                    if c["family"] == family
                    and (framed is None or (c["frame"] is not None) == framed)
                ]

            orders.append(
                OrderWindows(
                    _key_cols(group_all[0]["keys"]),
                    ranks=[(c["fn"], names[c["start"]]) for c in _fam("rank")],
                    running=[
                        (c["fn"], _agg_arg(c), names[c["start"]])
                        for c in _fam("agg", framed=False)
                    ],
                    bounded=[
                        (c["fn"], _agg_arg(c), *c["frame"], names[c["start"]])
                        for c in _fam("agg", framed=True)
                    ],
                    offsets=[
                        (
                            c["fn"],
                            _arg_col(c["arg_src"]),
                            c["j"],
                            names[c["start"]],
                            None
                            if c["default_src"] is None
                            else _arg_col(c["default_src"]),
                        )
                        for c in _fam("off")
                    ],
                    first_last=[
                        (c["fn"], _arg_col(c["arg_src"]), c["n"],
                         names[c["start"]], c["ign"])
                        for c in _fam("fln")
                    ],
                )
            )
        ranked = plan_global_windows(
            inner_df,
            orders,
            scalars=[
                (c["fn"], _agg_arg(c), names[c["start"]])
                for c in calls
                if c["family"] == "glob"
            ],
        )
    except Exception:
        # a shape the textual scope check admitted but Spark cannot
        # evaluate in this position (ambiguous columns from a join FROM
        # body, aliases as keys, …) — fall back to the native path,
        # whose own analysis raises the real error
        return None
    view = f"_adt_global_rank_{next(_view_counter)}"
    ranked.createOrReplaceTempView(view)

    # --- outer statement: substitute calls, keep the rest --------------
    def _subst_span(a: int, b: int) -> str:
        repl = sorted(
            (c["start"], c["end"], names[c["start"]])
            for c in calls
            if a <= c["start"] and c["end"] <= b
        )
        parts, cur = [], a
        for s, e, nm in repl:
            parts.append(sql[cur:s])
            parts.append(nm)
            cur = e
        parts.append(sql[cur:b])
        return "".join(parts)

    if group_mode:
        out_items = []
        for a, b in item_spans:
            if (a, b) in covered:
                out_items.append(_subst_span(a, b))
            else:
                item_m = masked[a:b]
                km = _COL_RE.fullmatch(item_m)
                if km:
                    out_items.append(km.group("col").split(".")[-1])
                else:
                    out_items.append(
                        _AS_ALIAS_RE.search(item_m).group("alias")
                    )
        outer = f"SELECT {', '.join(out_items)} FROM {view}"
    else:
        outer = (
            f"SELECT {_subst_span(sel_span[0], sel_span[1])} FROM {view}"
        )
        relm = _REL_RE.match(from_body)
        derm = _DERIVED_RE.match(from_body) if relm is None else None
        alias = (relm and relm.group("alias")) or (
            derm and derm.group("alias")
        )
        if alias and alias.lower() not in (
            "where", "order", "limit", "group", "having",
        ):
            outer += f" AS {alias}"
    if order_src:
        outer += f" ORDER BY {order_src}"
    if limit_src:
        outer += f" LIMIT {limit_src}"
    try:
        return spark.sql(outer)
    except Exception:
        # outer-side resolution failure (qualified refs over a joined
        # FROM body, aggregate exprs in ORDER BY, …) — native path
        return None
    finally:
        # analysis has bound the view's plan into the returned frame
        # (the same behaviour pyspark's spark.sql(..., df=...)
        # formatter relies on), so the name can go on either path
        spark.catalog.dropTempView(view)
