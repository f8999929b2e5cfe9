"""One SQL text scanner, one OVER-spec grammar.

``adt_spark/dialect/sqltext.py`` is the one module that decides what a
SQL literal, comment and parenthesis are.  Hand-rolled character loops
elsewhere had already diverged (a quote inside a comment flipped one
scanner's literal state but not another's), so this guard fails on any
loop outside ``sqltext.py`` that counts paren depth or toggles quote
state over characters.

Likewise ``adt_spark/dialect/overspec.py`` is the one module that reads
a window's ``OVER (…)`` body: three passes once kept their own regex
grammars for it.  The second guard fails on a regex literal outside
``overspec.py`` that spells a frame mode (``rows|range|groups``) or an
order key's ``NULLS FIRST | LAST`` suffix.

And ``adt_spark/dialect/statement.py`` is the one module that splits a
statement into its SELECTs, select list, FROM source and clauses: the
three window passes once kept a splitter each.  The third guard fails on
a regex literal outside ``statement.py`` that spells a statement-clause
keyword (``select``, ``from``, ``group by``, ``order by``, ``having``,
``limit``).
"""

from __future__ import annotations

import ast
import pathlib
import re

_PKG = pathlib.Path(__file__).resolve().parent.parent / "adt_spark"

#: the characters a SQL text scanner tests for
_SCANNED = {"(", ")", "'"}

#: (module, function) loops allowed to test those characters, with the
#: reason; the scanner itself is the only one today
_ALLOWED: dict[tuple[str, str | None], str] = {}


def _is_char(node: ast.AST) -> bool:
    """A name or an index (``ch``, ``s[i]``): what a loop over
    characters compares."""
    return isinstance(node, (ast.Name, ast.Subscript))


def _scans_chars(loop: ast.AST) -> bool:
    """True when the loop compares a character to a paren or a quote
    (``ch == "("``, ``s[i] == "'"``, ``ch in "()"``)."""
    for node in ast.walk(loop):
        if not isinstance(node, ast.Compare):
            continue
        operands = [node.left, *node.comparators]
        for a, b in zip(operands, operands[1:]):
            for char, const in ((a, b), (b, a)):
                if (
                    _is_char(char)
                    and isinstance(const, ast.Constant)
                    and isinstance(const.value, str)
                    and set(const.value) & _SCANNED
                ):
                    return True
    return False


_LOOPS = (ast.For, ast.While, ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)


def _scanner_loops(tree: ast.AST) -> list[tuple[int, str | None]]:
    """(line, innermost enclosing function name or None) of every loop
    that scans characters for parens or quotes."""
    out: list = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, _LOOPS) and _scans_chars(node):
            out.append((node.lineno, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return out


def test_guard_sees_hand_rolled_scanners():
    """The guard flags the shapes it exists to keep out: a paren-depth
    loop and a quote toggle."""
    depth_loop = (
        "def f(s):\n"
        "    d = 0\n"
        "    for ch in s:\n"
        "        if ch == '(':\n"
        "            d += 1\n"
    )
    quote_toggle = (
        "def g(s):\n"
        "    q = False\n"
        "    i = 0\n"
        "    while i < len(s):\n"
        "        if s[i] == \"'\":\n"
        "            q = not q\n"
        "        i += 1\n"
    )
    assert _scanner_loops(ast.parse(depth_loop)) == [(3, "f")]
    assert _scanner_loops(ast.parse(quote_toggle)) == [(4, "g")]
    # comparing a call's result (not a character) is no scan
    not_a_scan = "def h(t):\n    for p in t:\n        p.strip() == \"'\"\n"
    assert _scanner_loops(ast.parse(not_a_scan)) == []


def test_sqltext_is_the_only_sql_text_scanner():
    """No module in ``adt_spark/`` but ``dialect/sqltext.py`` has a
    loop that counts paren depth or toggles quote state; such code
    calls the shared scanner instead."""
    found = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        if rel == "dialect/sqltext.py":
            continue
        tree = ast.parse(path.read_text(), filename=rel)
        for line, fn in _scanner_loops(tree):
            if (rel, fn) not in _ALLOWED:
                found.append(f"adt_spark/{rel}:{line} in {fn}")
    assert not found, found
    assert _scanner_loops(ast.parse((_PKG / "dialect/sqltext.py").read_text()))


#: a regex literal: a string holding a regex escape (``\s``, ``\b``, …)
_REGEX_ESCAPE = re.compile(r"\\[sbdw]")
#: what only the OVER-spec grammar spells
_SPEC_GRAMMAR = (
    re.compile(r"(?i)(?<![a-z_])(?:rows|range|groups)(?![a-z_])"),
    re.compile(r"(?i)nulls\\s\+[^)]*?(?:first|last)"),
)


def _spec_grammar_literals(tree: ast.AST) -> list[int]:
    """Lines of regex literals that spell frame modes or a NULLS
    FIRST | LAST key suffix."""
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and _REGEX_ESCAPE.search(node.value)
        and any(p.search(node.value) for p in _SPEC_GRAMMAR)
    ]


#: the OVER-spec regexes three passes kept before they shared one
#: grammar (window_frames, global_rank, keyed_windows)
_FORMER_COPIES = {
    "window_frames frame-ish check": (
        're.search(r"(?i)\\b(rows|range|groups)\\s+(between|unbounded|current|\\d)", s)'
    ),
    "window_frames._NULLS_RE": (
        '_NULLS_RE = re.compile(r"\\bnulls\\s+(first|last)\\b", re.IGNORECASE)'
    ),
    "global_rank._KEY_TAIL_RE": (
        "_KEY_TAIL_RE = re.compile(\n"
        '    r"(?:\\s+(?P<dir>asc|desc))?"\n'
        '    r"(?:\\s+nulls\\s+(?P<nulls>first|last))?\\s*$",\n'
        "    re.IGNORECASE,\n)"
    ),
    "global_rank._BOUNDED_ROWS_FRAMES": (
        're.compile(r"^rows between (\\d+) preceding and current row$")'
    ),
    "keyed_windows._MODE_RE": (
        '_MODE_RE = re.compile(r"\\b(rows|range|groups)\\b", re.IGNORECASE)'
    ),
    "keyed_windows._ORD_TAIL_NULLS": (
        '_ORD_TAIL_NULLS = re.compile(r"\\bnulls\\s+(first|last)\\s*$", re.IGNORECASE)'
    ),
}


def test_guard_sees_former_spec_grammars():
    """The guard flags each OVER-spec regex the passes used to keep,
    and not a regex that merely mentions NULLS or GROUP BY."""
    for label, src in _FORMER_COPIES.items():
        assert _spec_grammar_literals(ast.parse(src)), label
    not_spec = (
        're.compile(r"\\b(group\\s+by|having)\\b")\n'
        're.match(r"\\s+(?:(?P<nulls>ignore|respect)\\s+nulls\\s+)?over\\s*\\(", s)\n'
        '"rows of a frame are kept"\n'
    )
    assert _spec_grammar_literals(ast.parse(not_spec)) == []


def test_overspec_is_the_only_over_spec_grammar():
    """No module in ``adt_spark/`` but ``dialect/overspec.py`` has a
    regex literal spelling frame modes or a NULLS FIRST | LAST key
    suffix; such code reads ``overspec.parse_over``'s model instead."""
    found = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        if rel == "dialect/overspec.py":
            continue
        tree = ast.parse(path.read_text(), filename=rel)
        found += [f"adt_spark/{rel}:{line}" for line in _spec_grammar_literals(tree)]
    assert not found, found
    assert _spec_grammar_literals(ast.parse((_PKG / "dialect/overspec.py").read_text()))


#: what only the statement grammar spells: a clause keyword as a word
#: (a ``\b`` escape right before it counts as a word boundary)
_CLAUSE_GRAMMAR = (
    re.compile(r"(?i)(?:(?<=\\b)|(?<![a-z_]))(?:select|from|having|limit)(?![a-z_])"),
    re.compile(r"(?i)(?:(?<=\\b)|(?<![a-z_]))(?:group|order)\\s[+*]?by(?![a-z_])"),
)

#: modules allowed to spell clause keywords in a regex, with the reason
_CLAUSE_ALLOWED = {
    "dialect/overspec.py": "an OVER body's own PARTITION BY / ORDER BY",
    "sources/delta_dml.py": "the DELETE FROM grammar",
}


def _clause_grammar_literals(tree: ast.AST) -> list[int]:
    """Lines of regex literals that spell a statement-clause keyword."""
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and _REGEX_ESCAPE.search(node.value)
        and any(p.search(node.value) for p in _CLAUSE_GRAMMAR)
    ]


#: the statement splitters the three window passes kept before they
#: shared one model
_FORMER_SPLITTERS = {
    "window_frames._SELECT_RE": '_SELECT_RE = re.compile(r"\\bselect\\b", re.IGNORECASE)',
    "window_frames._FROM_RE": '_FROM_RE = re.compile(r"\\bfrom\\b", re.IGNORECASE)',
    "window_frames._FORBID_RE": (
        "_FORBID_RE = re.compile(\n"
        '    r"\\b(group\\s+by|having|qualify|union|intersect|except|window|distinct)\\b",\n'
        "    re.IGNORECASE,\n)"
    ),
    "window_frames._TRAILER_RE": (
        '_TRAILER_RE = re.compile(r"\\b(order\\s+by|limit|offset)\\b", re.IGNORECASE)'
    ),
    "global_rank clause loop": (
        'for kw, pat in (("group", r"\\bgroup\\s+by\\b"), ("limit", r"\\blimit\\b")):\n'
        "    pass"
    ),
    "global_rank select split": 'sm = re.match(r"\\s*select\\s", body, re.IGNORECASE)',
}


def test_guard_sees_former_statement_splitters():
    """The guard flags each statement splitter the passes used to keep,
    and not a regex that merely holds a word containing a keyword or an
    unrelated SQL word."""
    for label, src in _FORMER_SPLITTERS.items():
        assert _clause_grammar_literals(ast.parse(src)), label
    not_clause = (
        're.compile(r"\\bover\\s*\\(", re.IGNORECASE)\n'
        're.compile(r"\\s*distinct\\b")\n'
        're.compile(r"ZORDER\\s+BY\\s*\\(")\n'
        're.compile(r"\\bselected_\\w+")\n'
        '"select the rows from a table"\n'
    )
    assert _clause_grammar_literals(ast.parse(not_clause)) == []


def test_statement_is_the_only_statement_splitter():
    """No module in ``adt_spark/`` but ``dialect/statement.py`` (and the
    listed exceptions) has a regex literal spelling a statement-clause
    keyword; such code reads ``statement.parse_statement``'s model."""
    found = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        if rel == "dialect/statement.py" or rel in _CLAUSE_ALLOWED:
            continue
        tree = ast.parse(path.read_text(), filename=rel)
        found += [f"adt_spark/{rel}:{line}" for line in _clause_grammar_literals(tree)]
    assert not found, found
    assert _clause_grammar_literals(ast.parse((_PKG / "dialect/statement.py").read_text()))


#: the splitter and call-extractor names the model replaced
_FORMER_NAMES = {
    "_call_before_over", "_SELECT_RE", "_FROM_RE", "_FORBID_RE", "_TRAILER_RE",
    "_IDENT_ONLY", "_REL_RE", "_DERIVED_RE", "_RANK_CALL_RE", "_AGG_CALL_RE",
    "_OFF_CALL_RE", "_FLN_CALL_RE",
}
_WINDOW_PASSES = ("dialect/window_frames.py", "dialect/keyed_windows.py", "dialect/global_rank.py")


def _names(tree: ast.AST) -> set[str]:
    """Every identifier a module binds, reads or imports."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            out.add(node.name)
        elif isinstance(node, ast.alias):
            out.add(node.asname or node.name)
    return out


def test_former_splitter_names_are_gone():
    """The replaced splitters stay gone: none of their names outside
    ``statement.py``, and no window pass matches parens itself."""
    found = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        if rel == "dialect/statement.py":
            continue
        names = _names(ast.parse(path.read_text(), filename=rel))
        banned = set(_FORMER_NAMES)
        if rel in _WINDOW_PASSES:
            banned |= {"_match_paren", "_match_paren_back"}
        found += [f"adt_spark/{rel}: {n}" for n in sorted(names & banned)]
    assert not found, found
