"""GROUPS / EXCLUDE window-frame rewrites for raw SQL.

DataFusion 48 parses the full SQL window-frame grammar — ``GROUPS
BETWEEN … AND …`` frames and the ``EXCLUDE CURRENT ROW | GROUP | TIES
| NO OTHERS`` clause — and the reference enables it wholesale for adt
scripts (crates/core/src/context.rs:32-33, reached through the CLI's
raw SQL pass-through, crates/cli/src/main.rs:116).  Spark 4 parses
neither, so `translate_sql` routes both constructs through the
emulations this repo already proves driver-green as DataFrame recipes
(`adt_spark/queries/relational.py` q_window_groups_frame /
q_window_exclude):

- ``GROUPS`` with only UNBOUNDED / CURRENT ROW endpoints is exactly
  ``RANGE`` with the same endpoints (peer-group granularity is
  identical), a pure frame-keyword substitution.
- ``GROUPS n PRECEDING/FOLLOWING`` becomes a RANGE frame over the
  peer-group index ``dense_rank() OVER (same partition ORDER BY same
  keys)`` — the statement is wrapped once so the rank is computed in a
  subquery (you cannot nest window functions in one expression).
- ``EXCLUDE NO OTHERS`` is the default: the clause is dropped.
- ``EXCLUDE CURRENT ROW / GROUP / TIES`` on sum / count / avg becomes
  subtract-the-excluded arithmetic over the unmodified frame plus (for
  GROUP/TIES) the peer frame ``RANGE BETWEEN CURRENT ROW AND CURRENT
  ROW``; NULL-emptied frames are reproduced with a COUNT guard.  The
  variance family (var / variance / var_samp / var_pop / stddev /
  stddev_samp / stddev_pop) extends the same algebra to second
  moments: n, Σx, Σx² of the surviving rows give
  ``(Σx² − (Σx)²/n) / (n | n−1)`` clamped at 0 (neither engine's
  native can go negative), sqrt for the stddev forms, NULL below the
  minimum count — so DataFusion scripts using ANY of the common
  moment aggregates under EXCLUDE run here (``var`` itself is not a
  Spark name, but the rewrite emits only sum/count arithmetic, so
  the name never reaches Spark).  This
  subtraction is only SOUND when every excluded row is inside the
  frame, so it is guarded: the frame must straddle the current row
  (lo ≤ 0 ≤ hi), and GROUP/TIES additionally require a RANGE (or
  rewritten-GROUPS) frame — a ROWS frame need not contain all peers.
- ``EXCLUDE GROUP / TIES`` on min / max / first_value / last_value
  has no subtraction inverse; it becomes the SPLIT-FRAME form: the
  surviving rows are exactly the two half-frames on either side of
  the current peer group, which in peer-group-index space (the same
  injected dense_rank the GROUPS rewrite uses) are integer RANGE
  frames ``[lo, 1 PRECEDING]`` and ``[1 FOLLOWING, hi]``.  min/max
  combine the halves with least/greatest (NULL-skipping, exact for
  any orderable type — no arithmetic); first/last_value take the
  half nearer the partition edge, count-guarded so an empty frame is
  not conflated with a NULL value, falling back to the far half
  (GROUP) or the current row (TIES).  Frame endpoints are UNBOUNDED /
  CURRENT ROW (or GROUPS-numeric, already in peer space) — and, since
  round 7, numeric VALUE offsets too: the non-peer rows of a
  straddling value-offset RANGE frame are exactly the VALUE
  half-frames ``[lo, ε PRECEDING]`` / ``[ε FOLLOWING, hi]`` whenever
  ε is at most the key's unit step (key < k ⇔ key ≤ k−ε); round 10
  runs the half-frames in DECIMAL(38,18) key space with ε = 10⁻¹⁸ —
  exact for integer keys (step 1), DECIMAL(p,s≤18) keys (step 10⁻ˢ —
  the r9-verdict DECIMAL residue, closed), and integral-valued
  doubles; fractional doubles stay loudly gated (distinct doubles can
  sit closer than any fixed decimal step).  Spark casts RANGE bounds
  to the order-key type, so key and bounds are BOTH cast to
  DECIMAL(38,18) — a bare 1E-18 bound against a DECIMAL(10,2) key
  would round to 0.00 and silently un-exclude.  Since round 8 the
  split also covers ``INTERVAL '<n>' DAY`` offsets: 1 DAY is the unit
  step of DATE-key space (key < k ⇔ key ≤ k − 1 DAY for DATE keys and
  midnight-aligned TIMESTAMP keys), so the same half-frames apply with
  ``INTERVAL '1' DAY`` steps.  Since round 9, ``HOUR``/``MINUTE``/
  ``SECOND`` offsets split in TIMESTAMP µs space: 1 microsecond is the
  unit step of the TIMESTAMP type itself (key < k ⇔ key ≤ k − 1 µs for
  ANY timestamp value — no alignment or DST condition, and the lo/hi
  offsets keep Spark's native fixed-duration arithmetic), so those
  frames need no runtime guard at all — a non-timestamp key dies
  loudly in Spark's own analysis of the sub-day bound.  MONTH/YEAR
  offsets (round-11, r10 verdict #5): the SUBTRACTION and
  non-straddling / no-op paths cover them (they emit the user's
  frame unchanged, and Spark accepts YearMonthIntervalType RANGE
  bounds on DATE/TIMESTAMP keys — measured); the SPLIT cannot — its
  inner bound is the key's DayTime unit step and Spark rejects mixed
  YearMonth/DayTime frame bounds (DATATYPE_MISMATCH.
  SPECIFIED_WINDOW_FRAME_DIFF_TYPES), and no year-month unit step
  exists — so min/max/first/last over straddling MONTH/YEAR frames
  keep a loud gate citing exactly that.  Integrality (or
  day-alignment) is a runtime property a textual rewrite cannot see,
  so the emitted SQL carries a whole-partition guard that
  ``raise_error()``s loudly on
  fractional, huge-double (k±1 == k), NaN or infinite keys — or, for
  the day split, on sub-day TIMESTAMP keys — instead of
  silently mis-framing; NULL-keyed rows take the measured-behavior
  arms (frame = null peer group under two numeric bounds; partition-
  spanning when an UNBOUNDED bound points away from the null
  placement — first/last_value refuse that case, as in the
  non-straddling path).
- ``EXCLUDE`` over a frame that CANNOT contain the current row
  (non-straddling: both bounds strictly preceding, or both strictly
  following, in the frame's own offset space — e.g. ``ROWS BETWEEN 3
  PRECEDING AND 1 PRECEDING``) is a pure NO-OP — base frame emitted
  unchanged, ANY window function — exactly where the absence is
  guaranteed for EVERY row: ``EXCLUDE CURRENT ROW`` over ROWS frames
  (positional offsets) and ``EXCLUDE CURRENT ROW / GROUP`` over
  GROUPS frames (even a NULL-keyed row's peer group sits at offset
  0, which the frame excludes).  Over RANGE frames with VALUE
  offsets it is NOT a no-op: a NULL-keyed row's frame (measured on
  both engines) is its null peer group when both bounds are numeric,
  and extends to the partition edge when a bound is UNBOUNDED — the
  WHOLE partition when the unbounded side points away from the null
  placement.  Either way the frame CONTAINS the current row and all
  its peers, so the rewrite gates on key nullness: excluded
  quantities in the subtraction algebra are multiplied into a
  ``CASE WHEN key IS NULL`` arm (sum/count/avg/variance — sound for
  every bound shape, since subtraction only needs excluded ⊆ frame),
  and min/max under ``EXCLUDE GROUP`` become ``CASE WHEN key IS NULL
  THEN <arm> ELSE base END`` where the arm is NULL when the
  NULL-row's frame is exactly its peer group (surviving frame empty)
  and a NULL-skipping whole-partition aggregate of the key-nulled
  argument when an away-pointing UNBOUNDED bound widens it to the
  partition (surviving = the non-NULL-key rows exactly).  Still
  refused: GROUP over non-straddling ROWS frames (key-sharing peers
  can occupy any row offset inside the frame), first/last_value
  under GROUP with an away-pointing UNBOUNDED bound (the surviving
  edge row is position-, not value-, defined), min/max/first/last
  under CURRENT ROW over non-straddling RANGE frames
  (peer-group-minus-self has no closed form), and ``EXCLUDE TIES``
  over ANY non-straddling frame —
  SQL:2011's "the current row together with the non-peer frame rows"
  wording ADDS the current row to a frame that never contained it
  (DuckDB implements that reading) while PostgreSQL's peers-only
  removal does not, so no single rewrite is right for both dialects.
  ``0 PRECEDING`` / ``0 FOLLOWING`` bounds are normalized to
  ``CURRENT ROW`` first, so such frames correctly take the
  straddling (subtraction / split) paths.
- ``EXCLUDE CURRENT ROW`` on min / max / first_value / last_value
  over a **ROWS** frame splits in ROW space — ``ROWS BETWEEN lo AND
  1 PRECEDING`` / ``ROWS BETWEEN 1 FOLLOWING AND hi`` — where numeric
  offsets are already row offsets (no dense_rank needed); the same
  least/greatest and count-guarded near-half combines apply.  Over a
  RANGE/GROUPS (peer-space) frame it raises: peers sharing the
  current row's key survive the exclusion but no frame bound can
  separate one row from them.

A SECOND pass (`_rewrite_moving_start_ubf`, run FIRST on the raw
text — see `rewrite_window_frames` for why the order matters) rewrites
``sum / count / avg / min / max / first_value / last_value`` and the
variance family ``OVER (… ORDER BY o ROWS BETWEEN <moving start> AND
UNBOUNDED FOLLOWING)`` into O(n) complements — whole-partition minus
running prefix for sum/count/avg, the same aggregate over the
REVERSED order for min/max AND the variance family (set-determined
aggregates keep Spark's numerically stable native evaluation over the
complementary running frame; a moment-algebra complement was measured
catastrophically cancelling on large-magnitude integers),
lead()/edge-value forms for first/last —
because Spark executes every moving-start UNBOUNDED FOLLOWING frame
through UnboundedFollowingWindowFunctionFrame, re-aggregating from
scratch per row: O(n²) per partition, measured 469.7 s vs 3.1 s at
sf0.1 (DataFusion evaluates the same frame incrementally, so ported
scripts hit the cliff only on Spark).  Unlike the EXCLUDE pass this
one NEVER raises: the original is slow-but-correct on Spark, so any
unrecognized shape (RANGE mode, DISTINCT, IGNORE NULLS, named
windows, other aggregates) passes through with its semantics intact.

Anything outside the sound cases raises ``NotImplementedError`` with
the DataFrame recipe to use instead — a loud error, never a silently
different result.  All scanning is literal-masked so quoted strings
are never touched, and comments (other than ``/*+ … */`` hints) are
blanked before any rewrite splices the statement's pieces together.

Numeric-exactness boundary (a textual rewrite cannot see column
types, so this is documented rather than guarded): the subtraction
algebra is EXACT for integer/bigint/decimal-sum arguments — the
corpus's pinned style (queries/__init__.py rules 1-2) and everything
the tests cover.  For FLOATING-POINT arguments the rewrite computes
``frame_sum − excluded`` where the reference sums the surviving rows
directly; float subtraction is not the inverse of addition, so
results can differ in low-order bits (worst case under catastrophic
cancellation, e.g. frame values [1e16, 1, −1e16]).  DECIMAL ``avg``
EXCLUDE returns Spark's sum/count division scale rather than the
native avg scale.  Bit-exact float EXCLUDE needs the DataFrame
recipe (q_window_exclude over an exact-typed column).
"""

from __future__ import annotations

import re
import warnings
from dataclasses import dataclass

from adt_spark.dialect.overspec import Frame, OrderKey, OverSpec
from adt_spark.dialect.sqltext import _mask_literals, _splice, _strip_comments
from adt_spark.dialect.statement import Statement, WindowCall, parse_statement

#: variance-family rewrite targets: name → (is_sample, is_stddev).
#: ``var`` is DataFusion's sample-variance spelling — the rewrite
#: emits only sum/count arithmetic, so the unsupported-by-Spark name
#: never survives into the output.
_VAR_FNS = {
    "var": (True, False),
    "variance": (True, False),
    "var_samp": (True, False),
    "var_pop": (False, False),
    "stddev": (True, True),
    "stddev_samp": (True, True),
    "stddev_pop": (False, True),
}

_subtraction_warned = False


def _warn_subtraction_once(fn: str) -> None:
    """One-time heads-up that a subtraction EXCLUDE rewrite fired (a
    textual rewrite cannot see column types): exact for integer /
    bigint / decimal-sum arguments, but FLOATING-POINT arguments can
    differ from a native EXCLUDE in low-order bits (frame_sum −
    excluded is not the inverse of summing the survivors), DECIMAL
    sum widens the declared precision by the subtraction (values
    exact), and DECIMAL avg is re-derived as sum/count at Spark's
    DIVISION scale and rounding — not native avg's (p+4, s+4)
    HALF_UP — so both its declared type and low-order digits can
    differ.  Emitted so a hash-gate divergence is traceable to the
    rewrite rather than the engine (the EXCLUDE pass only: it has no
    working native baseline to silently change)."""
    global _subtraction_warned
    if _subtraction_warned or fn == "count":
        return
    _subtraction_warned = True
    warnings.warn(
        "window-frame rewrite: using frame-aggregate subtraction for "
        f"{fn}(); sum/count results are exact for integer/decimal "
        "arguments but may differ in low-order bits for floating-point "
        "ones; DECIMAL sum widens its declared precision, and DECIMAL "
        "avg takes Spark's sum/count DIVISION scale and rounding "
        "instead of native avg's (p+4, s+4) HALF_UP; the variance "
        "forms square values in DOUBLE and can lose precision when "
        "|mean| is large relative to the spread (see "
        "adt_spark/dialect/window_frames.py docstring)",
        RuntimeWarning,
        stacklevel=4,
    )


#: a normalized (lowercased, whitespace-collapsed) INTERVAL DAY bound
_DAY_BOUND_RE = re.compile(r"^interval\s+(?:'\d+'|\d+)\s+days?\s+(?:preceding|following)$")

#: sub-day units — TIMESTAMP-key space (µs step); a DATE key with
#: such a bound fails Spark's own analysis, loudly
_SUBDAY_BOUND_RE = re.compile(
    r"^interval\s+(?:'\d+'|\d+)\s+(?:hours?|minutes?|seconds?)\s+"
    r"(?:preceding|following)$"
)

#: YearMonthIntervalType bounds — variable length, NO key-space unit
#: step exists; admitted for the subtraction / non-straddling / no-op
#: paths only
_YM_BOUND_RE = re.compile(
    r"^interval\s+(?:'\d+'|\d+)\s+(?:months?|years?)\s+"
    r"(?:preceding|following)$"
)


def _bound_kind(b: str) -> str | None:
    """'num' / 'day' / 'subday' / 'ym' / None for a normalized frame
    bound — routes the value-space split between integer-key,
    date-key and timestamp-key variants ('ym' never splits)."""
    if _DAY_BOUND_RE.match(b):
        return "day"
    if _SUBDAY_BOUND_RE.match(b):
        return "subday"
    if _YM_BOUND_RE.match(b):
        return "ym"
    if b[0].isdigit():
        return "num"
    return None

#: alias prefix for injected peer-group-index columns
_DR = "__adt_dr"


def _pin(key: OrderKey) -> str:
    """``key`` with the SOURCE dialect's default null placement spelled
    out when it has no NULLS modifier.  DataFusion (and
    PostgreSQL/DuckDB) default to NULLS LAST for ASC and NULLS FIRST
    for DESC; Spark defaults the opposite way — without pinning, a
    rewritten frame would put NULL keys at the other end of the
    partition and every frame near them would differ."""
    if key.nulls:
        return key.text
    return f"{key.text} NULLS {'FIRST' if key.desc else 'LAST'}"


def _pin_null_order(keys: tuple[OrderKey, ...]) -> str:
    """The ORDER BY text with every key pinned (``_pin``)."""
    return ", ".join(_pin(k) for k in keys)


_IV_SECONDS = {"day": 86400, "hour": 3600, "minute": 60, "second": 1}


def _to_day_to_second(b: str) -> str:
    """A normalized interval bound → the same offset as an
    ``INTERVAL 'd hh:mm:ss' DAY TO SECOND`` bound (Spark requires
    both bounds of one frame to share an interval type; on TIMESTAMP
    keys every unit here is fixed-duration, so this is pure unit
    arithmetic).  UNBOUNDED/CURRENT pass through."""
    m = re.match(
        r"^interval\s+(?:'(\d+)'|(\d+))\s+(days?|hours?|minutes?|seconds?)"
        r"\s+(preceding|following)$",
        b,
    )
    if not m:
        return b.upper()
    n = int(m.group(1) or m.group(2))
    secs = n * _IV_SECONDS[m.group(3).rstrip("s")]
    d, rem = divmod(secs, 86400)
    h, rem = divmod(rem, 3600)
    mi, s = divmod(rem, 60)
    return (
        f"INTERVAL '{d} {h:02d}:{mi:02d}:{s:02d}' DAY TO SECOND "
        f"{m.group(4).upper()}"
    )


#: the numeric value-split's step and key space (round-10): half-frames
#: run over the order key CAST to DECIMAL(38,18), where 10^-18 is the
#: exact unit step — ≤ the true unit step of every admitted key type
#: (integers: 1; DECIMAL(p,s≤18): 10^-s; integral doubles: 1), so
#: `key < k ⇔ key ≤ k − ε` holds and nothing rounds (Spark casts RANGE
#: bounds to the order-key type, which is why the bounds are cast to
#: the same DECIMAL(38,18) — a bare 1E-18 literal against a
#: DECIMAL(10,2) key would round to 0.00 and silently un-exclude).
_DEC_STEP = "CAST(0.000000000000000001 AS DECIMAL(38,18))"


def _to_dec38(b: str) -> str:
    """Numeric frame bound → the same DECIMAL(38,18) space as the cast
    order key (exact, no rounding; a bound too large for the type dies
    loudly in Spark's own cast).  Non-numeric bounds pass through."""
    m = re.match(r"^([\d.eE+]+)\s+(preceding|following)$", b)
    if not m:
        return b.upper()
    return f"CAST({m.group(1)} AS DECIMAL(38,18)) {m.group(2).upper()}"


def _bound_sign(b: str) -> int:
    """-1 / 0 / +1 for preceding / current / following (UNBOUNDED maps
    with its direction); used only for the lo<=0<=hi soundness check."""
    b = " ".join(b.lower().split())
    if b == "current row":
        return 0
    return -1 if b.endswith("preceding") else 1


class _Unsupported(NotImplementedError):
    pass


def _bare_order_key(spec: OverSpec) -> str:
    """The ORDER BY key expression stripped of direction / null-order
    modifiers — used by the non-straddling-RANGE rewrites to test key
    nullness.  Numeric RANGE offsets require a single sort key in
    every dialect; a multi-key ORDER BY refuses loudly."""
    if len(spec.keys) > 1:
        raise _Unsupported(
            "EXCLUDE over a RANGE frame with numeric offsets requires "
            "a single ORDER BY key"
        )
    return spec.keys[0].expr


def _straddles(frame: Frame | None) -> bool:
    """True when the frame is guaranteed to contain the current row
    (lo <= 0 <= hi).  No frame clause means the default frame, which
    always contains the current row."""
    if frame is None:
        return True
    return _bound_sign(frame.lo) <= 0 <= _bound_sign(frame.hi)


def _call_args(stmt: Statement, call: WindowCall) -> str:
    """The argument text of the call before OVER."""
    return stmt.sql[call.arg_span[0] : call.arg_span[1]].strip()


def _survivors(exclude: str, total: str, peers: str, row: str, gate) -> str:
    """A frame quantity (a count, Σx or Σx²) over the rows EXCLUDE
    keeps: ``total`` over the frame minus the excluded share, ``row``
    for the current row, ``peers`` for its peer group, and the peers
    but the current row under TIES.  ``gate`` wraps an excluded share
    that bites only for NULL-keyed rows (``_gx``)."""
    if exclude == "current row":
        return f"{total} - {gate(row)}"
    if exclude == "group":
        return f"{total} - {gate(peers)}"
    return f"{total} - {peers} + {row}"


def _null_key_case(
    fn: str, e: str, korder: str, key: OrderKey, lo: str, hi: str,
    wfull: str, exclude: str, split: bool, other: str,
) -> str:
    """min / max of ``e`` under EXCLUDE GROUP / TIES over a value-offset
    RANGE frame: ``other`` for a non-NULL key.  A NULL key's frame
    (measured on both engines) is its null peer group when both bounds
    are numeric, so only the current row survives TIES and nothing
    GROUP; an UNBOUNDED bound pointing AWAY from the null placement
    widens it to the whole partition, whose survivors are the
    non-NULL-key rows, which a NULL-skipping aggregate of the
    key-nulled argument reads exactly.  first/last_value cannot
    null-skip without changing semantics, so that case refuses.
    ``split``: the frame straddles the current row (the value split),
    else it lies wholly before or after it."""
    nulls_first = key.nulls == "first" or (key.nulls is None and key.desc)
    if (lo == "unbounded preceding" and not nulls_first) or (
        hi == "unbounded following" and nulls_first
    ):
        if fn in ("first_value", "last_value"):
            raise _Unsupported(
                f"EXCLUDE {exclude.upper()} on {fn} over "
                f"{'a value-offset' if split else 'a non-straddling'} "
                "RANGE frame with an UNBOUNDED bound has no sound rewrite "
                "for NULL-keyed rows (their frame spans the partition and "
                "the surviving edge row is position-, not value-, defined) "
                f"— use {'a GROUPS frame or ' if split else ''}the DataFrame "
                "API (see q_window_exclude)"
            )
        arm = f"{fn}(CASE WHEN ({korder}) IS NULL THEN NULL ELSE {e} END) OVER ({wfull})"
        if exclude == "ties":
            arm = f"{'least' if fn == 'min' else 'greatest'}({arm}, ({e}))"
    else:
        arm = f"({e})" if exclude == "ties" else "NULL"
    return f"(CASE WHEN ({korder}) IS NULL THEN {arm} ELSE {other} END)"


def _combine_halves(fn: str, e: str, head: str, lo: str, hi: str, bounds, ties: bool) -> str:
    """min / max / first_value / last_value of ``e`` over the frame
    minus the current row (ROWS) or its peer group (peer or value
    space), from the two half-frames on either side of it: ``head`` is
    the halves' ``PARTITION BY … ORDER BY … ROWS|RANGE`` text, ``lo`` /
    ``hi`` the frame's normalized bounds, ``bounds`` the emitted (lo,
    step before, step after, hi).  A lo of CURRENT ROW / 0 PRECEDING
    starts AT the current row or peer group, so its lower half is
    empty (likewise the upper).  ``ties`` keeps the current row: it
    always survives EXCLUDE TIES and sits between the halves."""
    lo_emit, step_pre, step_fol, hi_emit = bounds
    has_lower = lo not in ("current row", "0 preceding")
    has_upper = hi not in ("current row", "0 following")
    wl = f"{head} BETWEEN {lo_emit} AND {step_pre}"
    wu = f"{head} BETWEEN {step_fol} AND {hi_emit}"
    if fn in ("min", "max"):
        # least/greatest skip NULLs, and an empty half-frame's
        # aggregate IS NULL — the combine is exact for any orderable
        # type, no arithmetic involved
        pick = "least" if fn == "min" else "greatest"
        low = f"{fn}({e}) OVER ({wl})" if has_lower else "NULL"
        up = f"{fn}({e}) OVER ({wu})" if has_upper else "NULL"
        return f"{pick}({low}, {up}, ({e}))" if ties else f"{pick}({low}, {up})"
    # first/last_value: the half nearer the partition edge wins when
    # nonempty, count-guarded so an EMPTY near half and a genuinely
    # NULL first value are not conflated; else the far half
    if fn == "first_value":
        near, has_near, far, has_far = wl, has_lower, wu, has_upper
    else:
        near, has_near, far, has_far = wu, has_upper, wl, has_lower
    cnt_near = f"count(*) OVER ({near})" if has_near else "0"
    v_near = f"{fn}({e}) OVER ({near})" if has_near else "NULL"
    if ties:
        fallback = f"({e})"
    else:
        fallback = f"{fn}({e}) OVER ({far})" if has_far else "NULL"
    return f"(CASE WHEN {cnt_near} > 0 THEN {v_near} ELSE {fallback} END)"


def rewrite_window_frames(sql: str, wraps: list[DenseRankWrap] | None = None) -> str:
    """Rewrite moving-start ``ROWS … AND UNBOUNDED FOLLOWING``
    aggregates into O(n) complements, then GROUPS frames and EXCLUDE
    clauses into Spark-parseable SQL (see module docstring for the
    mappings and their guards).

    Pass order matters: the UBF pass runs FIRST, on the user's text
    only — specs carrying an EXCLUDE clause are skipped, and the
    split halves the EXCLUDE machinery itself emits (``ROWS BETWEEN 1
    FOLLOWING AND UNBOUNDED FOLLOWING``) are deliberately NOT fed back
    through it.  Reason: the min/max reversal realizes its own sort,
    and over TIED order keys that sort's tie order is independent of
    the ASC sort the statement's other window columns share — each
    column alone would still be "a valid execution" of a
    nondeterministic ROWS frame, but the COMBINATION across columns of
    one row could correspond to no single execution (measured: the
    ROWS EXCLUDE matrices catch exactly this).  EXCLUDE split queries
    always share one sort among all their emitted columns, so their
    rare UNBOUNDED FOLLOWING halves keep Spark's slow-but-consistent
    evaluation; plain user UBF frames (where every rewritten column's
    consistency caveat is the pre-existing tied-ROWS nondeterminism,
    documented on `_rewrite_moving_start_ubf`) get the O(n) forms.

    When ``wraps`` is a list, the ``DenseRankWrap`` of a GROUPS rewrite
    over a bare relation is appended to it (``keyed_windows.
    rewrite_windows`` hands it to the compression)."""
    return _rewrite_groups_exclude(
        _rewrite_moving_start_ubf(_strip_comments(sql)), wraps
    )


def _rewrite_groups_exclude(sql: str, wraps: list[DenseRankWrap] | None) -> str:
    """The GROUPS / EXCLUDE pass (module docstring bullets 1-7)."""
    low = sql.lower()
    if "groups" not in low and "exclude" not in low:
        return sql
    stmt = parse_statement(sql)
    if stmt is None:
        return sql  # unbalanced: Spark's parser reports it
    sql = stmt.sql

    edits: list[tuple[int, int, str]] = []  # (start, end, replacement)
    # (partition, order keys) -> alias
    dr_aliases: dict[tuple[str, tuple[OrderKey, ...]], str] = {}

    for call in stmt.calls:
        open_pos = call.open
        spec = call.spec
        if spec is None:
            continue  # a named window: Spark reports what it cannot run
        frame = spec.frame
        if spec.exclude is None and (frame is None or frame.mode != "groups"):
            continue
        if frame is None and spec.exclude == "no others":
            continue
        close_pos = spec.close
        spec_src = sql[open_pos + 1 : close_pos]
        if frame is not None and frame.lo is None:
            # frame text the grammar cannot read must refuse LOUDLY:
            # rewriting around it would emit corrupted SQL that dies
            # far downstream
            raise _Unsupported(
                f"unsupported window-frame bounds (fractional / compound "
                f"INTERVAL offsets are not rewritable; supported units are "
                f"DAY / HOUR / MINUTE / SECOND / MONTH / YEAR with integer "
                f"magnitudes): {spec_src!r}"
            )

        # --- GROUPS → RANGE ---------------------------------------------
        new_frame_text = sql[frame.span[0] : frame.span[1]] if frame else ""
        order_text = spec.order
        dr_order = None  # set when order_text IS a peer-group index
        if frame is not None and frame.mode == "groups":
            if order_text is None:
                raise _Unsupported("GROUPS frame requires ORDER BY")
            # GROUPS offsets must be non-negative INTEGERS (SQL:2016
            # 7.15 <window frame units>); the bound grammar's INTERVAL
            # and fractional offsets are RANGE-frame syntax, so they
            # refuse loudly rather than become a RANGE frame or round
            for b in (frame.lo, frame.hi):
                interval = _bound_kind(b) not in (None, "num")
                if interval or (b[0].isdigit() and "." in b):
                    raise _Unsupported(
                        f"GROUPS frame offsets must be integers, got {b!r}"
                        + (" (INTERVAL bounds are RANGE-frame syntax)" if interval else "")
                    )
            numeric = any(b[0].isdigit() for b in (frame.lo, frame.hi))
            if numeric:
                key = (spec.partition or "", spec.keys)
                alias = dr_aliases.setdefault(key, f"{_DR}{len(dr_aliases)}")
                order_text = alias  # rank values are never NULL: no pinning
                dr_order = alias
            else:
                order_text = _pin_null_order(spec.keys)
            new_frame_text = f"RANGE BETWEEN {frame.lo} AND {frame.hi}"
        elif order_text is not None and spec.exclude not in (None, "no others"):
            # the EXCLUDE arithmetic reconstructs the spec — keep the
            # source dialect's null placement while we're at it
            order_text = _pin_null_order(spec.keys)

        if (
            frame is not None
            and frame.mode == "range"
            and "subday" in {
                _bound_kind(frame.lo), _bound_kind(frame.hi)
            }
        ):
            # Spark requires one interval type across both frame
            # bounds, so mixed-unit interval frames (HOUR + MINUTE,
            # DAY + HOUR …) are normalized to DAY TO SECOND in EVERY
            # emitted window, including the subtraction family's base
            # frame — pure unit arithmetic on timestamps
            new_frame_text = (
                f"RANGE BETWEEN {_to_day_to_second(frame.lo)} "
                f"AND {_to_day_to_second(frame.hi)}"
            )
        part_clause = f"PARTITION BY {spec.partition} " if spec.partition else ""
        order_clause = f"ORDER BY {order_text} " if order_text else ""
        base_w = (part_clause + order_clause + new_frame_text).strip()

        # --- EXCLUDE ----------------------------------------------------
        exclude = spec.exclude
        if exclude in (None, "no others"):
            edits.append((open_pos + 1, close_pos, base_w))
            continue

        ns_range = False  # non-straddling RANGE: key-gated, not a no-op
        if not _straddles(frame):
            # The frame cannot contain the current row (offset 0 is
            # outside [lo, hi] in its own coordinate space): a no-op in
            # row and peer-group space, key-gated over value-offset
            # RANGE frames, refused otherwise (module docstring, the
            # non-straddling bullet, gives the reasons).
            if exclude == "current row" and frame.mode == "rows":
                edits.append((open_pos + 1, close_pos, base_w))
                continue
            if (
                exclude in ("current row", "group")
                and frame.mode == "groups"
                and order_text is not None
            ):
                edits.append((open_pos + 1, close_pos, base_w))
                continue
            if (
                exclude in ("current row", "group")
                and frame.mode == "range"
                and spec.order is not None
            ):
                if "ym" in {
                    _bound_kind(frame.lo), _bound_kind(frame.hi)
                }:
                    # Measured (round-11): on a NON-straddling
                    # MONTH/YEAR frame DuckDB's native EXCLUDE
                    # evaluates the frame from the candidate row's
                    # side (other + 1 MONTH <= cur), which month-end
                    # clamping makes INEQUIVALENT to the standard
                    # bound arithmetic (other <= cur - 1 MONTH) that
                    # DuckDB's own no-EXCLUDE path, Spark, and
                    # PostgreSQL use — e.g. 2020-01-31 enters
                    # 2020-02-29's [6M PRECEDING, 1M PRECEDING] frame
                    # under EXCLUDE but not without it.  No single
                    # rewrite is right for both readings (the EXCLUDE
                    # TIES precedent), so refuse loudly.
                    raise _Unsupported(
                        f"EXCLUDE {exclude.upper()} on a non-straddling "
                        "MONTH/YEAR-interval RANGE frame has no "
                        "dialect-stable rewrite: month-end clamping "
                        "makes 'other + offset <= current' (DuckDB's "
                        "native EXCLUDE evaluation) inequivalent to "
                        "'other <= current - offset' (the standard "
                        "frame arithmetic Spark and DuckDB's own "
                        "no-EXCLUDE path use) — spell the offsets in "
                        "DAY units or use the DataFrame API (see "
                        "q_window_exclude)"
                    )
                ns_range = True
            else:
                raise _Unsupported(
                    f"EXCLUDE {exclude.upper()} on a frame not containing "
                    "the current row is not a sound no-op here (ROWS "
                    "frames can still contain key-sharing peers; EXCLUDE "
                    "TIES re-adds the current row under SQL:2011's wording "
                    "but not under PostgreSQL's) — use the DataFrame API "
                    "(see q_window_exclude)"
                )
        eff_mode = "range" if frame is None else (
            "range" if frame.mode == "groups" else frame.mode
        )
        if exclude in ("group", "ties") and eff_mode != "range":
            raise _Unsupported(
                f"EXCLUDE {exclude.upper()} on a {eff_mode.upper()} frame may "
                "exclude peers outside the frame — only RANGE/GROUPS frames "
                "have a sound subtraction rewrite (see q_window_exclude)"
            )
        if exclude in ("group", "ties") and order_text is None:
            raise _Unsupported(
                f"EXCLUDE {exclude.upper()} without ORDER BY (all rows are "
                "peers) is not supported — use the DataFrame API"
            )

        # the aggregate call directly before OVER (FILTER clauses and
        # IGNORE NULLS suffixes are unsupported here)
        if not call.plain:
            raise _Unsupported(
                f"EXCLUDE {exclude.upper()} requires a plain aggregate call "
                "directly before OVER (named windows / FILTER clauses are "
                "not supported)"
            )
        fn_start, fn, args = call.start, call.fn, _call_args(stmt, call)
        if re.match(r"(?i)^\s*distinct\b", args):
            raise _Unsupported("EXCLUDE with DISTINCT aggregates is not supported")

        korder = _bare_order_key(spec) if ns_range else None

        def _gx(term: str) -> str:
            """Excluded-quantity gate: on a non-straddling RANGE frame
            the exclusion bites only for NULL-keyed rows (whose
            numeric-RANGE frame is the null peer group, containing the
            current row and all peers); every other row's frame never
            held the excluded rows, so it loses nothing."""
            if not ns_range:
                return term
            return f"(CASE WHEN ({korder}) IS NULL THEN {term} ELSE 0 END)"

        if fn in ("min", "max", "first_value", "last_value"):
            # Split-frame rewrite: no subtraction inverse exists for
            # these, but the surviving rows of EXCLUDE GROUP/TIES are
            # exactly the two half-frames on either side of the
            # current peer group.  In peer-group-index space (the
            # dense_rank the GROUPS machinery already injects) those
            # halves are RANGE frames with integer offsets:
            # [lo, 1 PRECEDING] and [1 FOLLOWING, hi].
            if args == "*":
                raise _Unsupported(f"{fn}(*) is not valid SQL")
            if exclude == "current row":
                # Over a ROWS frame the split IS sound in row space:
                # excluding the current row leaves exactly the two
                # half-frames ROWS [lo, 1 PRECEDING] and
                # ROWS [1 FOLLOWING, hi] — row offsets, so numeric
                # bounds need no peer-group mapping and no injected
                # dense_rank.  RANGE/GROUPS frames stay unsound: peers
                # sharing the current row's key survive the exclusion
                # but no frame bound can separate one row from them.
                if frame is None or frame.mode != "rows":
                    raise _Unsupported(
                        f"EXCLUDE CURRENT ROW on {fn} over a "
                        "RANGE/GROUPS (peer-space) frame has no sound "
                        "rewrite (peers sharing the current row's key "
                        "stay in the frame and no frame bound can "
                        "separate one row from its peers) — use a ROWS "
                        "frame or the DataFrame API (see "
                        "q_window_exclude)"
                    )
                if order_text is None:
                    raise _Unsupported(
                        "EXCLUDE CURRENT ROW on a ROWS frame without "
                        "ORDER BY is not supported (Spark requires an "
                        "ordered window for ROWS frames)"
                    )
                lo, hi = frame.lo, frame.hi
                repl = _combine_halves(
                    fn, args, f"{part_clause}ORDER BY {order_text} ROWS", lo, hi,
                    (lo.upper(), "1 PRECEDING", "1 FOLLOWING", hi.upper()),
                    ties=False,
                )
                edits.append((fn_start, close_pos + 1, repl))
                continue
            if ns_range:
                # exclude == "group" here (CURRENT ROW raised above):
                # a non-NULL key's frame already misses its peer group
                # (offset 0 is outside it), so it keeps the base frame
                repl = _null_key_case(
                    fn, args, korder, spec.keys[0], frame.lo, frame.hi,
                    part_clause.strip(), exclude, False,
                    f"{fn}({args}) OVER ({base_w})",
                )
                edits.append((fn_start, close_pos + 1, repl))
                continue
            # the GROUP/TIES guards above already enforced a RANGE (or
            # rewritten-GROUPS) frame and an ORDER BY
            lo = frame.lo if frame is not None else "unbounded preceding"
            hi = frame.hi if frame is not None else "current row"
            vs_range = False  # value-space split (integer-key RANGE)
            vs_day = False    # … in DATE space (INTERVAL DAY offsets)
            vs_ts = False     # … in TIMESTAMP µs space (sub-day units)
            if dr_order is None:
                kinds = {k for k in (_bound_kind(lo), _bound_kind(hi)) if k}
                if "num" in kinds and kinds & {"day", "subday", "ym"}:
                    raise _Unsupported(
                        "RANGE frame mixing a numeric and an INTERVAL "
                        f"offset is not valid SQL: {spec_src!r}"
                    )
                if "ym" in kinds:
                    # Round-11 adjudication (r10 verdict #5), measured
                    # on Spark 4: YearMonthIntervalType RANGE bounds
                    # ARE accepted on DATE/TIMESTAMP keys, but the
                    # split's inner bound must be the KEY's unit step
                    # (INTERVAL '1' DAY for DATE, 1 µs for TIMESTAMP)
                    # — a DayTimeIntervalType — and Spark rejects
                    # mixed YearMonth/DayTime bounds in one frame:
                    # DATATYPE_MISMATCH.SPECIFIED_WINDOW_FRAME_DIFF_
                    # TYPES ("INTERVAL MONTH" <> "INTERVAL DAY").  No
                    # year-month unit step exists (months vary in
                    # length), so the half-frames are structurally
                    # inexpressible; the subtraction family
                    # (sum/count/avg/variance) and the non-straddling
                    # paths DO cover MONTH/YEAR frames — they emit the
                    # user's frame unchanged.
                    raise _Unsupported(
                        f"EXCLUDE {exclude.upper()} on {fn} over a "
                        "MONTH/YEAR-interval RANGE frame has no sound "
                        "split: the half-frames need the key's unit "
                        "step (INTERVAL '1' DAY / 1 microsecond) as a "
                        "DayTime bound beside the YearMonth offset, "
                        "and Spark rejects mixed YearMonth/DayTime "
                        "frame bounds (DATATYPE_MISMATCH."
                        "SPECIFIED_WINDOW_FRAME_DIFF_TYPES); no "
                        "year-month unit step exists in key space — "
                        "use sum/count/avg/variance (subtraction "
                        "rewrite), spell the offset in DAY units, use "
                        "a GROUPS frame, or the DataFrame API (see "
                        "q_window_exclude)"
                    )
                # any sub-day bound ⇒ the key must be a TIMESTAMP
                # (Spark's own analysis rejects sub-day intervals on
                # DATE keys, loudly) ⇒ split on the type's 1 µs unit
                # step — exact for ANY timestamp value, no alignment
                # or DST condition (round-9: the lo/hi offsets keep
                # Spark's native fixed-duration timestamp arithmetic,
                # identical to the unrewritten frame's own boundaries)
                vs_ts = bool(kinds & {"subday"})
                vs_day = kinds == {"day"}
                if kinds:
                    # Straddling RANGE frame with VALUE offsets: the
                    # non-peer frame rows are the two value half-frames
                    # one key-space unit step either side of the peer
                    # group, exact when every key is a whole number of
                    # steps — a runtime guard below raise_error()s on
                    # any key that is not (module docstring, the split
                    # bullet); NULL-keyed rows take ``_null_key_case``.
                    vs_range = True
                else:
                    key = (spec.partition or "", spec.keys)
                    dr_order = dr_aliases.setdefault(
                        key, f"{_DR}{len(dr_aliases)}"
                    )
            half_ord = order_text if vs_range else dr_order
            lo_emit, hi_emit = lo.upper(), hi.upper()
            if vs_range and not vs_day and not vs_ts:
                # numeric value split (round-10): run the half-frames
                # in DECIMAL(38,18) key space — the cast preserves
                # order and peers for every admitted key type, and the
                # 10^-18 step is ≤ the unit step of integers AND of
                # DECIMAL(p,s≤18) keys, which closes the DECIMAL-key
                # residue (r9 verdict #5; DOUBLE keys stay gated to
                # integral values by the runtime guard below — distinct
                # doubles can sit closer than any fixed decimal step)
                bare = _bare_order_key(spec)
                # the pinned key's ASC/DESC and NULLS suffix
                suffix = _pin(spec.keys[0])[len(bare):]
                half_ord = f"CAST(({bare}) AS DECIMAL(38,18)){suffix}"
                lo_emit = _to_dec38(lo)
                hi_emit = _to_dec38(hi)
                step_pre = f"{_DEC_STEP} PRECEDING"
                step_fol = f"{_DEC_STEP} FOLLOWING"
            elif vs_ts:
                # Spark requires BOTH frame bounds to share one
                # interval type, so the user's HOUR/MINUTE/SECOND/DAY
                # offsets are normalized to DAY TO SECOND alongside
                # the 1 µs step (pure unit conversion — fixed-duration
                # either way on timestamps)
                step_pre = "INTERVAL '0 00:00:00.000001' DAY TO SECOND PRECEDING"
                step_fol = "INTERVAL '0 00:00:00.000001' DAY TO SECOND FOLLOWING"
                lo_emit = _to_day_to_second(lo)
                hi_emit = _to_day_to_second(hi)
            elif vs_day:
                step_pre = "INTERVAL '1' DAY PRECEDING"
                step_fol = "INTERVAL '1' DAY FOLLOWING"
            else:
                step_pre = "1 PRECEDING"
                step_fol = "1 FOLLOWING"
            e = args
            repl = _combine_halves(
                fn, e, f"{part_clause}ORDER BY {half_ord} RANGE", lo, hi,
                (lo_emit, step_pre, step_fol, hi_emit), ties=exclude == "ties",
            )
            if vs_range:
                korder = _bare_order_key(spec)
                wfull = part_clause.strip()
                repl = _null_key_case(
                    fn, e, korder, spec.keys[0], lo, hi, wfull, exclude, True, repl,
                )
                if vs_ts:
                    # TIMESTAMP µs split needs NO runtime guard: 1 µs
                    # is the unit step of Spark's TimestampType
                    # itself, so `key < k ⇔ key ≤ k − 1 µs` is a TYPE
                    # property (any value, any alignment, any session
                    # timezone), and a non-timestamp key dies loudly
                    # in Spark's own analysis of the sub-day interval
                    # bound
                    guard = None
                elif vs_day:
                    # day-step guard: `key < k ⇔ key ≤ k − 1 DAY` holds
                    # when every key value is a whole day — trivially
                    # true for DATE keys, and checked at runtime for
                    # TIMESTAMP keys (a sub-day component would make
                    # the split silently mis-frame, so it errors
                    # loudly — the date analog of the integrality
                    # guard below).  Under a DST-observing session
                    # timezone, Spark's INTERVAL DAY on timestamps is
                    # a fixed 24 h while local midnights sit 23/25 h
                    # apart near transitions — midnight alignment
                    # alone would pass while the split mis-frames
                    # (round-8 review finding 3).  So the guard also
                    # requires every ±j-day 24 h step (j = 1 and each
                    # frame-bound magnitude) to LAND midnight-aligned:
                    # that makes every comparison boundary a midnight,
                    # and any key inside a short-day gap fails its own
                    # ±1-day landing.  UTC / fixed-offset sessions
                    # never fire these; near DST transitions the
                    # refusal is conservative (loud, never silent).
                    t = f"CAST(({korder}) AS TIMESTAMP)"
                    mags = {1}
                    for b in (lo, hi):
                        if b.startswith("interval"):
                            mm = re.search(r"(\d+)", b)
                            if mm:
                                mags.add(int(mm.group(1)))
                    mis = [f"CAST(CAST(({korder}) AS DATE) AS TIMESTAMP) <> {t}"]
                    for j in sorted(mags):
                        for sgn in ("-", "+"):
                            stepped = f"({t} {sgn} INTERVAL '{j}' DAY)"
                            mis.append(
                                f"CAST(CAST({stepped} AS DATE) AS TIMESTAMP) "
                                f"<> {stepped}"
                            )
                    guard = (
                        f"max(CASE WHEN ({korder}) IS NOT NULL AND "
                        f"({' OR '.join(mis)}) "
                        f"THEN 1 ELSE 0 END) OVER ({wfull})"
                    )
                    guard_msg = (
                        f"EXCLUDE {exclude.upper()} over an INTERVAL-DAY "
                        f"RANGE frame is exact only for DATE or midnight-"
                        f"aligned TIMESTAMP order keys under a DST-free "
                        f"session timezone; found a sub-day key or a "
                        f"DST-length day — for TIMESTAMP keys spell the "
                        f"offsets in HOUR units (INTERVAL 24 HOUR equals "
                        f"the fixed 24 h INTERVAL 1 DAY on timestamps; "
                        f"the microsecond split then handles any key), "
                        f"or use a GROUPS frame, a UTC session, or the "
                        f"DataFrame API"
                    )
                else:
                    # key-space guard for the DECIMAL(38,18) split
                    # (round-10, replacing the pure integrality guard):
                    # the split is exact for integer-family keys, for
                    # DECIMAL keys of scale ≤ 18 (unit step 10^-s ≥ ε),
                    # and for INTEGRAL-valued double/float keys (the
                    # round-9 contract, preserved).  It errors loudly
                    # for: fractional/degenerate doubles (distinct
                    # doubles can differ by less than any fixed decimal
                    # step; k±1 = k also catches NaN under Spark's
                    # NaN = NaN), DECIMAL scale > 18 (unit step below
                    # ε), non-numeric keys (numeric-looking strings
                    # would reorder under the cast — native Spark
                    # rejects the frame, so must we), and keys whose
                    # DECIMAL(38,18) cast overflows (|k| ≥ 1e20 → NULL
                    # cast would silently join the null peer group).
                    tko = f"typeof({korder})"
                    cst = f"CAST(({korder}) AS DECIMAL(38,18))"
                    bad = (
                        f"({tko} NOT IN ('tinyint','smallint','int',"
                        f"'bigint','double','float') "
                        f"AND {tko} NOT LIKE 'decimal%') "
                        f"OR ({tko} IN ('double','float') AND "
                        f"(floor({korder}) <> ({korder}) "
                        f"OR ({korder}) - 1 = ({korder}) "
                        f"OR ({korder}) + 1 = ({korder}))) "
                        f"OR TRY_CAST(regexp_extract({tko}, "
                        + r"',(\\d+)\\)$'"
                        + f", 1) AS INT) > 18 "
                        f"OR {cst} IS NULL"
                    )
                    guard = (
                        f"max(CASE WHEN ({korder}) IS NOT NULL AND "
                        f"({bad}) THEN 1 ELSE 0 END) "
                        f"OVER ({wfull})"
                    )
                    guard_msg = (
                        f"EXCLUDE {exclude.upper()} over a value-offset "
                        f"RANGE frame is exact for integer keys, DECIMAL "
                        f"keys of scale <= 18, and integral double keys; "
                        f"found a fractional/degenerate double, a DECIMAL "
                        f"beyond scale 18, a non-numeric key, or a key "
                        f"past 1e20 — use a GROUPS frame or the DataFrame "
                        f"API"
                    )
                if guard is not None:
                    repl = (
                        f"(CASE WHEN {guard} = 1 THEN raise_error("
                        f"'{guard_msg}') "
                        f"ELSE {repl} END)"
                    )
            edits.append((fn_start, close_pos + 1, repl))
            continue

        if fn not in ("sum", "count", "avg") and fn not in _VAR_FNS:
            raise _Unsupported(
                f"EXCLUDE {exclude.upper()} is only rewritable for "
                f"sum/count/avg/variance/stddev (subtraction) and "
                f"min/max/first_value/last_value (split-frame) — got {fn}; "
                "use the DataFrame API (see q_window_exclude)"
            )
        _warn_subtraction_once(fn)
        peer_w = f"{part_clause}{order_clause}RANGE BETWEEN CURRENT ROW AND CURRENT ROW"

        if fn in _VAR_FNS:
            # Two-pass moment algebra over the SURVIVING rows: with
            # n = count, S1 = Σx, S2 = Σx² after subtracting the
            # excluded rows, var = (S2 − S1²/n) / (n | n−1), clamped
            # at 0 against cancellation (both engines' natives cannot
            # go negative), stddev = sqrt(var).  sqrt is correctly
            # rounded (the rule that bans log/exp allows it); the
            # float-subtraction caveat in the module docstring applies
            # with squared magnitudes.
            sample, is_std = _VAR_FNS[fn]
            if args == "*":
                raise _Unsupported(f"{fn}(*) is not valid SQL")
            e = args
            # moments are computed in DOUBLE, like both engines'
            # natives: sum((e)*(e)) / s1² in the input's own type
            # would ANSI-overflow int/bigint and blow the decimal
            # precision cap for values the native handles fine
            ed = f"CAST(({e}) AS DOUBLE)"
            cw = f"count({e}) OVER ({base_w})"
            cwp = f"count({e}) OVER ({peer_w})"
            nn = f"(CASE WHEN ({e}) IS NULL THEN 0 ELSE 1 END)"
            sw = f"sum({ed}) OVER ({base_w})"
            swp = f"sum({ed}) OVER ({peer_w})"
            sq = f"sum({ed} * {ed}) OVER ({base_w})"
            sqp = f"sum({ed} * {ed}) OVER ({peer_w})"
            n_excl = _survivors(exclude, cw, cwp, nn, _gx)
            s_excl = _survivors(exclude, sw, f"COALESCE({swp}, 0)", f"COALESCE({ed}, 0)", _gx)
            s2_excl = _survivors(
                exclude, sq, f"COALESCE({sqp}, 0)", f"COALESCE({ed} * {ed}, 0)", _gx
            )
            ssq = (
                f"greatest(({s2_excl}) - (({s_excl}) * ({s_excl}))"
                f" / ({n_excl}), 0)"
            )
            denom = f"(({n_excl}) - 1)" if sample else f"({n_excl})"
            min_n = 2 if sample else 1
            var_txt = f"({ssq}) / {denom}"
            if is_std:
                var_txt = f"sqrt({var_txt})"
            repl = (
                f"(CASE WHEN {n_excl} < {min_n} THEN NULL "
                f"ELSE {var_txt} END)"
            )
            edits.append((fn_start, close_pos + 1, repl))
            continue

        star = args == "*"
        e = args
        cnt_arg = "*" if star else e
        cw = f"count({cnt_arg}) OVER ({base_w})"
        cwp = f"count({cnt_arg}) OVER ({peer_w})"
        nn = "1" if star else f"(CASE WHEN ({e}) IS NULL THEN 0 ELSE 1 END)"
        n_excl = _survivors(exclude, cw, cwp, nn, _gx)
        if fn == "count":
            repl = f"({n_excl})"
        else:
            if star:
                raise _Unsupported(f"{fn}(*) is not valid SQL")
            sw = f"sum({e}) OVER ({base_w})"
            swp = f"sum({e}) OVER ({peer_w})"
            s_excl = _survivors(exclude, sw, f"COALESCE({swp}, 0)", f"COALESCE({e}, 0)", _gx)
            if fn == "sum":
                repl = f"(CASE WHEN {n_excl} = 0 THEN NULL ELSE {s_excl} END)"
            else:  # avg
                repl = (
                    f"(CASE WHEN {n_excl} = 0 THEN NULL "
                    f"ELSE ({s_excl}) / ({n_excl}) END)"
                )
        edits.append((fn_start, close_pos + 1, repl))

    if not edits:
        return sql

    out = _splice(sql, edits)
    if out is None:  # a nested OVER inside a window spec
        raise _Unsupported("overlapping window rewrites (nested OVER?)")

    if dr_aliases:
        out, wrap = _wrap_with_dense_rank(out, dr_aliases)
        if wrap is not None and wraps is not None:
            wraps.append(wrap)
    return out


#: clauses the dense-rank wrap cannot carry into its subquery, and
#: the ones that stay outside it
_FORBIDDEN = ("group by", "having", "qualify", "window")
_TRAILERS = ("order by", "limit", "offset")


@dataclass(frozen=True)
class DenseRankWrap:
    """The peer-index wrap ``_wrap_with_dense_rank`` emits over one bare
    relation, with nothing after it: ``FROM (SELECT *, dense_rank() OVER
    (PARTITION BY <partition> ORDER BY <keys, pinned>) AS <alias> FROM
    <base>) <base>``.  The keyed compression reads these parts instead
    of parsing the emitted text."""

    partition: str
    keys: tuple[OrderKey, ...]
    alias: str
    base: str


def _wrap_with_dense_rank(
    sql: str, dr_aliases: dict[tuple[str, tuple[OrderKey, ...]], str]
) -> tuple[str, DenseRankWrap | None]:
    """Wrap the statement's final SELECT so each needed peer-group
    index (dense_rank over the frame's partition+order) is computed in
    a subquery the rewritten RANGE frame can ORDER BY.  Guarded to the
    simple shape ``[WITH …] SELECT <list> FROM <relations> [WHERE …]
    [ORDER BY/LIMIT …]`` — anything else raises.  Returns the wrapped
    statement and, when it wraps one index over a bare relation and
    nothing follows, the wrap's parts."""
    stmt = parse_statement(sql)
    if not stmt.cores:
        raise _Unsupported("GROUPS frame: no top-level SELECT to wrap")
    core = stmt.cores[-1]
    sel = core.start
    if any(sql.find(a, 0, sel) != -1 for a in dr_aliases.values()):
        raise _Unsupported(
            "numeric GROUPS frame inside a CTE/subquery is not supported — "
            "hoist it to the outer SELECT or use the DataFrame API "
            "(see q_window_groups_frame)"
        )
    if core.from_ is None:
        raise _Unsupported("GROUPS frame: SELECT without FROM")
    frm = core.from_[0]
    select_list = sql[core.body[0] : frm]
    if core.distinct:
        raise _Unsupported("GROUPS frame with SELECT DISTINCT is not supported")
    # reject bare `*` / `t.*` ITEMS (they would leak the injected rank
    # column into the output); `count(*)` inside an expression is fine
    if any(item.star for item in core.items):
        raise _Unsupported(
            "GROUPS frame with SELECT * is not supported (the "
            "injected rank column would change the output schema) "
            "— list columns explicitly"
        )
    bad = [(c.start, c.kw_end) for c in core.clauses if c.kind in _FORBIDDEN] + [
        op for op in stmt.set_ops if op[0] > sel
    ]
    if bad:
        a, b = min(bad)
        kw = sql[a:b]
        raise _Unsupported(
            f"numeric GROUPS frame with {kw.upper()} in the same SELECT is "
            "not supported — use the DataFrame API (see q_window_groups_frame)"
        )
    cut = min([c.start for c in core.clauses if c.kind in _TRAILERS], default=len(sql))
    core_text, trailer = sql[frm:cut], sql[cut:]
    # The wrap hides the FROM relations inside a subquery, so
    # qualified references (t.col) in the outer select list / trailer
    # would stop resolving.  When the core is a single plain relation
    # (`FROM t [AS a] [WHERE …]`), name the wrapper with that
    # relation's alias so qualifications keep working; otherwise any
    # outer qualified reference is refused loudly (a confusing
    # AnalysisException at execution is not an acceptable failure).
    wrapper = "__adt_w"
    wrap = None
    src = core.source
    if src.kind == "relation":
        wrapper = src.alias or src.name.rsplit(".", 1)[-1]
        # the wrap is the whole main query's source: one SELECT, one
        # index, a bare relation and nothing after it
        if len(stmt.cores) == 1 and len(dr_aliases) == 1 and not (
            src.alias or core.clauses
        ):
            (p, keys), a = next(iter(dr_aliases.items()))
            wrap = DenseRankWrap(p, keys, a, src.name)
    else:
        # identifier.identifier only — a numeric literal like 0.5 is
        # not a qualification (nor is 1.e2); struct-field access is
        # indistinguishable textually and refused conservatively
        qual = re.findall(
            r"\b([A-Za-z_]\w*)\s*\.\s*[A-Za-z_]",
            _mask_literals(select_list + trailer),
        )
        if qual:
            raise _Unsupported(
                "numeric GROUPS frame with a multi-relation FROM and "
                f"qualified outer references ({sorted(set(qual))}) is not "
                "supported — the dense_rank wrap hides those aliases; "
                "unqualify the columns or use the DataFrame API"
            )
    defs = ", ".join(
        f"dense_rank() OVER ({'PARTITION BY ' + p + ' ' if p else ''}"
        f"ORDER BY {_pin_null_order(keys)}) AS {a}"
        for (p, keys), a in dr_aliases.items()
    )
    wrapped = (
        f"{sql[:sel]}SELECT {select_list.strip()} FROM "
        f"(SELECT *, {defs} {core_text.strip()}) {wrapper} {trailer.strip()}"
    ).strip()
    return wrapped, wrap


# ---------------------------------------------------------------------------
# Moving-start UNBOUNDED FOLLOWING rewrite (round-6 verdict item 2)
# ---------------------------------------------------------------------------

#: fast gate for the second pass
_UBF_RE = re.compile(r"\bunbounded\s+following\b", re.IGNORECASE)

#: the aggregate families with an O(n) complement / reversal image
_UBF_FNS = frozenset(
    {"sum", "count", "avg", "min", "max", "first_value", "last_value"}
)


def _row_bound(k: int) -> str:
    """A signed row offset as ROWS-frame bound text."""
    if k > 0:
        return f"{k} FOLLOWING"
    if k == 0:
        return "CURRENT ROW"
    return f"{-k} PRECEDING"


def _reverse_order(keys: tuple[OrderKey, ...]) -> str:
    """The exact inverse of Spark's row ordering for ``keys``: every
    key's direction AND null placement flipped, with Spark's defaults
    (ASC → NULLS FIRST, DESC → NULLS LAST) expanded first so the flip
    is explicit.  Used by the min/max reversal rewrite — a ROWS
    frame's membership is pure row-sequence, so running the same
    frame over the reversed sequence visits exactly the complementary
    suffix."""
    out = []
    for k in keys:
        # SPARK defaults — this SQL executes on Spark
        nulls_first = k.nulls == "first" if k.nulls else not k.desc
        rdir = "ASC" if k.desc else "DESC"
        out.append(f"{k.expr} {rdir} NULLS {'LAST' if nulls_first else 'FIRST'}")
    return ", ".join(out)


def _rewrite_moving_start_ubf(sql: str) -> str:
    """Rewrite ``agg(e) OVER (… ORDER BY o ROWS BETWEEN <moving start>
    AND UNBOUNDED FOLLOWING)`` into O(n) forms.

    Why: Spark executes any frame whose upper bound is UNBOUNDED
    FOLLOWING and whose lower bound moves through
    ``UnboundedFollowingWindowFunctionFrame``, which re-aggregates the
    remaining rows from scratch for EVERY row — O(n²) per partition.
    Measured on this corpus: 469.7 s vs 3.1 s at sf0.1 for one such
    aggregate (queries/relational.py q_window_exclude_noop history).
    DataFusion evaluates the same frame incrementally, so ported adt
    scripts hit the cliff only here — this pass removes it.

    Mappings (δ = signed start offset in rows; suffix S = rows
    [i+δ, partition end]; prefix P = rows [start, i+δ−1], its exact
    complement):

    - ``sum/avg``: the NATIVE aggregate over the REVERSED order with
      frame [UNBOUNDED PRECEDING, −δ], which visits exactly S — the
      same complementary-frame trick as min/max and the variance
      family below.  Keeping Spark's own evaluation preserves the
      argument's result type and rounding exactly: DECIMAL sum keeps
      its declared precision and DECIMAL avg keeps native avg's
      (p+4, s+4) scale with HALF_UP rounding, where the earlier
      whole-partition-minus-prefix complement silently widened the
      sum type and re-derived avg at Spark's division scale
      (round-7 ADVICE item 1).  Empty and all-NULL suffixes stay
      NULL natively, no count guard needed.  FLOAT arguments can
      differ from the un-rewritten form in low-order bits only
      because the reversed frame folds the suffix in the opposite
      order — the same set-determined-but-fold-order-sensitive
      caveat as the variance family.
    - ``count``: total − prefix, unguarded (count of empty is 0) —
      integer subtraction, exact, and it shares the forward-order
      sort with any sibling running aggregates.
    - ``min/max``: the same aggregate over the REVERSED order with
      frame [UNBOUNDED PRECEDING, −δ], which visits exactly S —
      Spark's moving-end frames aggregate incrementally, O(n).  No
      arithmetic, so exact for any orderable type.
    - ``first_value``: row i+δ = ``lead(e, δ)`` for δ>0, ``e`` for
      δ=0, and for δ<0 (frame clipped at the partition start)
      ``last_value`` over the reversed frame, whose clipping
      reproduces the clamp exactly.
    - ``last_value``: the partition's last row when S is nonempty
      (count-guarded), NULL otherwise.

    Guards (all passthrough, never a raise — the original is SLOW but
    correct on Spark, so an unrecognized shape keeps its semantics):
    ROWS mode only (a RANGE analog needs value-space complements —
    integer keys only, see the EXCLUDE integer-key path), no EXCLUDE
    clause, no DISTINCT / IGNORE NULLS, an ORDER BY present, a simple
    ``fn(args)`` call directly before OVER.  Determinism caveat: ROWS
    frames over tied order keys are nondeterministic on EVERY engine
    (which peer lands in the frame depends on the sort's tie order);
    the reversal can realize a different valid tie order than the
    original would have — total-order keys (the corpus convention)
    are deterministic both ways.
    """
    if not _UBF_RE.search(sql):
        return sql
    stmt = parse_statement(sql)
    if stmt is None:
        return sql  # unbalanced: Spark's parser reports it
    masked = stmt.masked
    if not _UBF_RE.search(masked):
        return sql

    edits: list[tuple[int, int, str]] = []
    for call in stmt.calls:
        spec = call.spec
        if spec is None or not _UBF_RE.search(masked, call.open, spec.close):
            continue
        frame = spec.frame
        # signed row offsets: None for an UNBOUNDED side, and None
        # overall for an INTERVAL / fractional / misplaced-UNBOUNDED
        # bound — invalid ROWS syntax the engine's own parser reports
        # (this pass never raises)
        offsets = frame.row_offsets() if frame and frame.mode == "rows" else None
        if (
            offsets is None
            or offsets[0] is None
            or offsets[1] is not None
            # EXCLUDE NO OTHERS is the explicit spelling of the
            # default — a ported script using it must still get the
            # O(n) rewrite (the replacement drops the no-op clause)
            or spec.exclude not in (None, "no others")
            or spec.order is None
        ):
            continue
        close_pos = spec.close
        if not call.plain:
            continue
        fn_start, fn, args = call.start, call.fn, _call_args(stmt, call)
        if fn not in _UBF_FNS and fn not in _VAR_FNS:
            continue
        if re.match(r"(?i)^\s*distinct\b", args) or re.search(
            r"(?i)\bignore\s+nulls\b", args
        ):
            continue
        # a top-level comma means a multi-argument call — Spark's
        # two-argument ignore-nulls spelling first_value(x, true) /
        # last_value(x, true) most importantly: its NULL semantics
        # have no complement/reversal image here, so pass through
        # (every rewritable aggregate in _UBF_FNS is single-argument)
        if len(call.args) > 1:
            continue
        if args == "*" and fn != "count":
            continue

        delta = offsets[0]

        part_clause = f"PARTITION BY {spec.partition} " if spec.partition else ""
        w_off = f"{part_clause}ORDER BY {spec.order}"
        prefix = "ROWS BETWEEN UNBOUNDED PRECEDING AND"
        w_unb = f"{w_off} {prefix} UNBOUNDED FOLLOWING"
        w_pre = f"{w_off} {prefix} {_row_bound(delta - 1)}"
        # the same frame over the REVERSED order visits exactly the
        # suffix rows (see the mapping docstring)
        rev = _reverse_order(spec.keys)
        w_rev = f"{part_clause}ORDER BY {rev} {prefix} {_row_bound(-delta)}"
        e = args
        if fn == "count":
            repl = f"(count({e}) OVER ({w_unb}) - count({e}) OVER ({w_pre}))"
        elif fn == "first_value":
            if delta == 0:
                repl = f"({e})"
            elif delta > 0:
                repl = f"lead({e}, {delta}) OVER ({w_off})"
            else:
                repl = f"last_value({e}) OVER ({w_rev})"
        elif fn == "last_value":
            ncnt = f"(count(*) OVER ({w_unb}) - count(*) OVER ({w_pre}))"
            repl = (
                f"(CASE WHEN {ncnt} > 0 THEN last_value({e}) OVER ({w_unb}) "
                "ELSE NULL END)"
            )
        else:
            # min / max, sum / avg and the variance family: the native
            # aggregate over the reversed complementary frame, which
            # keeps Spark's own result type and rounding (a textual
            # rewrite cannot see column types) and its numerically
            # stable moment evaluation.  The moment-algebra complement
            # (n/Σx/Σx² as total − prefix, the EXCLUDE pass's recipe)
            # was MEASURED catastrophically wrong here: on BIGINT
            # values ~1e8 with true variance ~0.7 it returned 0.0 for
            # every row.  ``var`` is DataFusion's sample-variance
            # spelling; Spark lacks the name, so it maps to var_samp.
            spark_fn = "var_samp" if fn == "var" else fn
            repl = f"{spark_fn}({e}) OVER ({w_rev})"
        edits.append((fn_start, close_pos + 1, repl))

    out = _splice(stmt.sql, edits)
    # overlapping edits: a nested OVER — the original is slow but sound
    return sql if out is None else out
