"""How SQL text is lexed: the one scanner every textual pass shares.

The dialect passes (``translate``, ``window_frames``, ``keyed_windows``,
``global_rank``), the DML and COPY statement parsers and the DDL parser
all splice pieces of a statement, so each needs to know which
characters sit inside a single-quoted literal, inside a ``--`` or
``/* */`` comment, or inside parentheses.  They all ask this module:

- ``_mask_literals`` returns a same-length copy with literal bodies and
  comments blanked, so offsets found by scanning the mask are offsets
  in the original text; the other helpers take that mask.
- ``_strip_comments`` blanks comments (not ``/*+ … */`` hints) before a
  pass splices text; ``_literal_segments`` is the (chunk, is_literal)
  view the regex-operator and name rewrites walk.
- ``_blank_parens``, ``_balanced``, ``_match_paren`` /
  ``_match_paren_back``, ``_comma_spans`` and ``_top_level_matches``
  read paren depth; ``_star_item`` recognizes a ``*`` / ``t.*`` select
  item; ``_splice`` applies (start, end, replacement) edits.
- The statement's shape (WITH prefix, SELECT items, FROM source,
  clauses, window calls) is read by ``statement.parse_statement`` on
  top of these helpers.

A quote inside a comment opens no literal, ``--`` inside a literal is no
comment, and ``''`` inside a literal is an escaped quote.
"""

from __future__ import annotations

import re

#: what opens a literal or a comment
_LIT_OR_COMMENT_RE = re.compile(r"'|--|/\*")


def _literal_and_comment_spans(sql: str) -> list[tuple[int, int, bool]]:
    """(start, end, is_comment) of every single-quoted literal body
    and every ``--`` / ``/* */`` comment, in order.  A quote inside a
    comment opens no literal, and ``--`` inside a literal is no
    comment."""
    spans = []
    n = len(sql)
    i = 0
    while m := _LIT_OR_COMMENT_RE.search(sql, i):
        i, tok = m.start(), m.group()
        if tok == "'":
            j = sql.find("'", i + 1)
            while j >= 0 and sql.startswith("''", j):
                j = sql.find("'", j + 2)
            j = n if j < 0 else j
            spans.append((i + 1, j, False))
            i = j + 1
        else:
            end = sql.find("\n" if tok == "--" else "*/", i + 2)
            end = n if end < 0 else end + (0 if tok == "--" else 2)
            spans.append((i, end, True))
            i = end
    return spans


def _blank_spans(sql: str, spans) -> str:
    """``sql`` with each (start, end) span replaced by as many blanks."""
    out, last = [], 0
    for start, end in spans:
        out += [sql[last:start], " " * (end - start)]
        last = end
    out.append(sql[last:])
    return "".join(out)


def _mask_literals(sql: str) -> str:
    """Same-length copy with single-quoted literal bodies and whole
    comments blanked, so keyword/paren scanning can't be fooled by
    quoted or commented text.  Offsets in the mask are offsets in the
    original."""
    return _blank_spans(
        sql, [(a, b) for a, b, _ in _literal_and_comment_spans(sql)]
    )


def _strip_comments(sql: str) -> str:
    """``sql`` with every comment but a ``/*+ … */`` hint blanked.
    The passes splice pieces of the statement into new text, and a
    ``--`` comment spliced before text that was on its next line would
    swallow that text; the rows a statement returns never depend on
    its comments.  A comment-free statement comes back unchanged."""
    if "--" not in sql and "/*" not in sql:
        return sql
    return _blank_spans(sql, [
        (a, b) for a, b, is_comment in _literal_and_comment_spans(sql)
        if is_comment and not sql.startswith("/*+", a)
    ])


def _literal_segments(sql: str) -> list[tuple[str, bool]]:
    """``sql`` cut into (chunk, is_literal) segments that join back to
    it: a code chunk ends with the opening quote of the literal after
    it, and a literal chunk is the body plus its closing quote (none
    when the literal is unterminated).  Comments stay in code chunks,
    and a quote inside one opens no literal."""
    out, last = [], 0
    for start, end, is_comment in _literal_and_comment_spans(sql):
        if is_comment:
            continue
        close = min(end + 1, len(sql))
        out += [(sql[last:start], False), (sql[start:close], True)]
        last = close
    if last < len(sql):
        out.append((sql[last:], False))
    return out


_PAREN_RE = re.compile(r"[()]")


def _blank_parens(s: str) -> str:
    """Blank everything inside parentheses (positions preserved) so
    depth-0 keyword scans cannot see subquery / CTE-body innards.  The
    parens stay; text after an unmatched ``)`` counts as nested."""
    out, depth, last = [], 0, 0
    for m in _PAREN_RE.finditer(s):
        i = m.start()
        out += [s[last:i] if depth == 0 else " " * (i - last), s[i]]
        depth += 1 if s[i] == "(" else -1
        last = i + 1
    out.append(s[last:] if depth == 0 else " " * (len(s) - last))
    return "".join(out)


def _comma_spans(masked: str) -> list[tuple[int, int]]:
    """(start, end) of each comma-separated part at paren depth 0 of a
    literal-MASKED string, so a quoted or nested comma never splits
    (``concat(a, ',')`` is one part).  The parts and the commas
    between them join back to the input."""
    cuts = [i for i, ch in enumerate(_blank_parens(masked)) if ch == ","]
    return list(zip([0] + [c + 1 for c in cuts], cuts + [len(masked)]))


def _top_level_matches(masked: str, word_re: re.Pattern) -> list[re.Match]:
    """The matches of ``word_re`` at paren depth 0 of a literal-MASKED
    string (offsets are offsets in the input)."""
    return list(word_re.finditer(_blank_parens(masked)))


_IDENT = r"(?:[A-Za-z_]\w*|`[^`]*`)"
_STAR_ITEM_RE = re.compile(
    rf"\s*(?:(?P<qualifier>{_IDENT}(?:\s*\.\s*{_IDENT})*)\s*\.\s*)?\*\s*"
)


def _star_item(masked_item: str) -> re.Match | None:
    """The match when a masked select item is ``*`` or ``t.*`` (its
    ``qualifier`` group is None for a bare ``*``), else None.
    ``count(*)`` and other expressions around a star are no star item."""
    return _STAR_ITEM_RE.fullmatch(masked_item)


def _balanced(masked: str) -> bool:
    """Whether every paren of a literal-MASKED string is matched."""
    depth = 0
    for m in _PAREN_RE.finditer(masked):
        depth += 1 if m.group() == "(" else -1
        if depth < 0:
            return False
    return depth == 0


def _splice(text: str, edits) -> str | None:
    """``text`` with each (start, end, replacement) edit applied, or
    None when two edits overlap (each caller decides what an overlap
    means for it)."""
    edits = sorted(edits)
    for (_s1, e1, _r1), (s2, _e2, _r2) in zip(edits, edits[1:]):
        if s2 < e1:
            return None
    out, last = [], 0
    for start, end, repl in edits:
        out += [text[last:start], repl]
        last = end
    out.append(text[last:])
    return "".join(out)


def _match_paren(s: str, open_pos: int) -> int:
    """Index of the ')' matching s[open_pos] == '(' (masked input)."""
    depth = 0
    for i in range(open_pos, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    raise NotImplementedError(f"unbalanced parentheses after offset {open_pos}")


def _match_paren_back(s: str, close_pos: int) -> int:
    depth = 0
    for i in range(close_pos, -1, -1):
        if s[i] == ")":
            depth += 1
        elif s[i] == "(":
            depth -= 1
            if depth == 0:
                return i
    raise NotImplementedError(f"unbalanced parentheses before offset {close_pos}")
