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

Scope, read from the statement model (``statement.parse_statement``,
the one parse the keyed-window compression and the frame rewrite read
too); each call is dispatched on the model's function name:

- one top-level SELECT, no DISTINCT, no set operator; the FROM body
  may be a relation, a ``fmt.`path``` URL table, a parenthesized
  derived table, or a top-level JOIN chain; a WITH prefix is carried
  verbatim onto the inner statement;
- a top-level GROUP BY [HAVING] is supported when every projection
  item is a bare column, an explicit ``expr AS alias``, or one
  rewritable window call with an alias (window keys/args may then be
  aggregate expressions — they are computed inside the aggregated
  inner block);
- window ORDER BY keys are arbitrary expressions (plain columns stay
  qualifier-stripped); every call may use its own order: the executor
  builds one pid assignment per DISTINCT order;
- no ``*`` or ``alias.*`` projection item (a star would leak the
  injected ``_adt_g*`` columns).

Anything else passes through UNTOUCHED, which stays correct, merely
on the cliff; resolution errors inside the rewrite (ambiguous columns
from a self-join FROM body, aliases as window keys, …) fall back to
the native path the same way.  Unlike the GROUPS/EXCLUDE rewrites
(which refuse loudly because Spark cannot run the original at all),
the unrewritten global window is semantically fine — so the fallback
here is pass-through, never an error.
"""

from __future__ import annotations

import itertools
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adt_spark.dialect.overspec import OrderKey, OverSpec
from adt_spark.dialect.sqltext import _mask_literals, _splice, _strip_comments
from adt_spark.dialect.statement import _has_subquery_or_window, parse_statement

__all__ = ["maybe_rewrite_global_rank"]

#: the rewritable window functions by family: ranks, running /
#: bounded aggregates, offsets, frame values
_FAMILY = {
    **dict.fromkeys(
        ("row_number", "rank", "dense_rank", "percent_rank", "cume_dist", "ntile"), "rank"
    ),
    **dict.fromkeys(
        ("sum", "count", "min", "max", "avg", "var_pop", "var_samp", "variance",
         "stddev", "stddev_pop", "stddev_samp"),
        "agg",
    ),
    **dict.fromkeys(("lag", "lead"), "off"),
    **dict.fromkeys(("first_value", "last_value", "nth_value"), "fln"),
}
#: the order the families are collected in (it numbers the GROUP-mode
#: key and argument aliases and picks each order's key text)
_FAMILY_ORDER = {"rank": 0, "agg": 1, "glob": 1, "off": 2, "fln": 3}

#: the clauses this pass reads; any other clause stays in the text of
#: the one before it
_CLAUSES = ("where", "group by", "having", "order by", "limit")

#: a plain (possibly qualified) column reference
_COL_RE = re.compile(r"\s*(?P<col>[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*")

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
        if not expr or _has_subquery_or_window(_mask_literals(expr)):
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


def maybe_rewrite_global_rank(spark: SparkSession, sql: str) -> DataFrame | None:
    """Execute ``sql`` through the two-phase global-window
    constructions when it matches the sound shape (module docstring);
    None when it does not (caller falls back to plain ``spark.sql``)."""
    stripped = _strip_comments(sql).rstrip()
    if stripped.endswith(";"):
        stripped = stripped[:-1]
    stmt = parse_statement(stripped)
    if stmt is None:
        # unbalanced parens: the rewrite contract is
        # pass-through-never-error, so Spark's own parser reports it
        return None
    sql, masked = stmt.sql, stmt.masked
    if not any(c.fn in _FAMILY for c in stmt.calls):
        return None

    # --- statement shape ---------------------------------------------
    core = stmt.select
    if core is None or core.distinct or core.from_ is None:
        return None
    if not masked[core.body[0] : core.body[0] + 1].isspace():
        return None
    cte_src = sql[: stmt.main_start]
    sel_span = (core.body[0] + 1, core.body[1])
    clauses = [c for c in core.clauses if c.kind in _CLAUSES]
    kinds = [c.kind for c in clauses]
    if kinds != sorted(kinds, key=_CLAUSES.index):
        return None  # clauses out of canonical order — malformed
    if "having" in kinds and "group by" not in kinds:
        return None
    ends = [c.start for c in clauses] + [len(sql)]
    from_body = sql[core.from_[1] : ends[0]].strip()
    if not from_body:
        return None
    clause_src = {c.kind: sql[c.kw_end : e].strip() for c, e in zip(clauses, ends[1:])}
    where_src = clause_src.get("where")
    group_src = clause_src.get("group by")
    having_src = clause_src.get("having")
    order_src = clause_src.get("order by")
    limit_src = clause_src.get("limit")
    if limit_src is not None and not re.fullmatch(r"\d+", limit_src):
        return None  # LIMIT ALL / OFFSET forms — out of scope
    if order_src and re.search(
        r"\bover\b", _mask_literals(order_src), re.IGNORECASE
    ):
        return None

    # --- projection items (ANY top-level star is rejected, ADVICE r9) --
    if any(item.star for item in core.items):
        return None  # would leak the injected _adt_g* columns
    # (spans from the first item's text, as the outer statement reuses it)
    items = [(max(i.span[0], sel_span[0]), i.span[1], i.alias) for i in core.items]

    # --- collect rewritable window calls ------------------------------
    calls = []

    def _collect(call, family, fn, keys, **extra):
        calls.append(dict(
            start=call.start, end=call.end, family=family, fn=fn, keys=keys,
            arg_src=None, j=None, n=None, frame=None, ign=False, default_src=None,
        ) | extra)

    for call in stmt.calls:
        fam = _FAMILY.get(call.fn)
        # the call's ")" is followed by a blank before OVER (or before
        # IGNORE | RESPECT NULLS); a FILTER clause stays native
        if fam is None or call.filter or not masked[call.arg_span[1] + 1].isspace():
            continue
        spec = call.spec
        arg_m = masked[call.arg_span[0] : call.arg_span[1]]
        if fam == "rank":
            if call.nulls:
                continue
            if call.fn == "ntile":
                if not re.fullmatch(r"\s*\d+\s*", arg_m):
                    continue
                fn = f"ntile({int(arg_m)})"
            elif arg_m.strip():
                continue
            else:
                fn = call.fn
            parsed = _over_order(spec, sql)
            if parsed is None or parsed[1] is not None:
                if spec is not None and spec.partition is None and spec.order is not None:
                    return None  # framed/odd-keyed ranking — whole stmt native
                continue  # partitioned ranking — native, stays put
            _collect(call, "rank", fn, parsed[0])
            continue
        if call.qualified:
            continue  # t.sum(…) is no window call of this family
        nulls_tok = call.nulls or ""
        # the arguments, split on the mask: a quoted or nested comma
        # never splits one
        parts = [sql[a:b] for a, b in call.args]
        fn = call.fn
        if fam == "agg" and not masked[call.open + 1 : call.close].strip() and not nulls_tok:
            # empty OVER () — whole-input scalar aggregate (round-11
            # second wave): one parallel aggregation + typed literal,
            # instead of Spark's SinglePartition whole-input window
            if fn not in ("sum", "count", "min", "max", "avg"):
                continue  # variance OVER () — native
            if _has_subquery_or_window(arg_m):
                return None
            if len(parts) != 1:
                continue
            _collect(call, "glob", fn, [], arg_src=parts[0].strip())
            continue
        parsed = _over_order(spec, sql)
        if parsed is None:
            continue  # partitioned / exotic frame — native
        keys, frame = parsed
        if _has_subquery_or_window(arg_m):
            return None  # nested window/subquery in the argument
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
        _collect(call, fam, fn, keys, arg_src=arg_src, j=j, n=n, frame=frame,
                 ign=ign, default_src=default_src)
    if not calls:
        return None
    calls.sort(key=lambda c: (_FAMILY_ORDER[c["family"]], c["start"]))
    # (round-11, r10 verdict #4: the one-shared-ranking-order
    # restriction is lifted — the execution loop below already builds
    # one pid assignment per DISTINCT order, so two rank orders in one
    # statement each ride their own partitioning)
    for c in calls:
        if c["start"] < sel_span[0] or c["end"] > sel_span[1]:
            return None  # window call outside the projection
    names = {
        c["start"]: f"_adt_gw{i}"
        for i, c in enumerate(sorted(calls, key=lambda c: c["start"]))
    }

    def _subst_span(a: int, b: int) -> str | None:
        """The text of [a, b) with its window calls replaced by their
        columns; None when two calls overlap (a rank call inside an
        agg argument would double-substitute)."""
        return _splice(sql[a:b], [
            (c["start"] - a, c["end"] - a, names[c["start"]])
            for c in calls
            if a <= c["start"] and c["end"] <= b
        ])

    group_mode = group_src is not None

    # --- GROUP mode: validate items, plan the aggregated inner -------
    # (window keys/args may be aggregate expressions — they must be
    # computed INSIDE the aggregated block, aliased _adt_wk*/_adt_wa*)
    key_alias: dict[str, str] = {}
    arg_alias: dict[str, str] = {}
    if group_mode:
        covered = set()
        out_items = []  # the outer statement's select list
        for a, b, alias in items:
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
                substituted = _subst_span(a, b)
                if alias is None or substituted is None:
                    return None
                covered.add((a, b))
                out_items.append(substituted)
            else:
                src_item = sql[a:b].strip()
                if not src_item:
                    return None
                km = _COL_RE.fullmatch(item_m)
                if km is None and alias is None:
                    return None  # implicit alias or bare expression
                # bare column / explicit AS alias — fine
                out_items.append(km.group("col").split(".")[-1] if km else alias)
        select_text = ", ".join(out_items)
        # each distinct key and argument once, named in first-use order
        key_text: dict[str, str] = {}
        arg_text: dict[str, str] = {}
        for c in calls:
            for k in c["keys"]:
                key_text.setdefault(k["ident"], k["src"])
            for src in (c["arg_src"], c["default_src"]):
                if src is not None and src != "*":
                    arg_text.setdefault(" ".join(src.split()), src)
        key_alias = {ident: f"_adt_wk{i}" for i, ident in enumerate(key_text)}
        arg_alias = {ident: f"_adt_wa{i}" for i, ident in enumerate(arg_text)}
        inner_extra = [f"{key_text[i]} AS {a}" for i, a in key_alias.items()]
        inner_extra += [f"{arg_text[i]} AS {a}" for i, a in arg_alias.items()]

    # --- build the inner statement ------------------------------------
    if group_mode:
        keep_items = [
            sql[a:b].strip() for a, b, _alias in items if (a, b) not in covered
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
        select_text = _subst_span(*sel_span)
        if select_text is None:
            return None
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
    outer = f"SELECT {select_text} FROM {view}"
    source = core.source
    if not group_mode and source.alias and source.kind in ("relation", "path", "derived"):
        outer += f" AS {source.alias}"
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
