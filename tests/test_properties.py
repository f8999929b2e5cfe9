"""Property-based tests (hypothesis) for the pure-Python layers:
the roaring-bitmap codec, the Z85 codec, the dialect translator's
literal preservation, and the script statement splitter."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from adt_spark.dialect.sqltext import (
    _blank_parens,
    _comma_spans,
    _literal_segments,
    _mask_literals,
)
from adt_spark.dialect.translate import translate_sql
from adt_spark.script import split_statements
from adt_spark.sources._roaring import (
    decode_bitmap_array,
    encode_bitmap_array,
    z85_decode,
    z85_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=1 << 22), unique=True))
@settings(max_examples=200, deadline=None)
def test_roaring_roundtrip(positions):
    """encode → decode is the identity on sorted position sets (covers
    array and bitmap container encodings across 2^16 chunk borders)."""
    assert decode_bitmap_array(encode_bitmap_array(sorted(positions))) == sorted(positions)


@given(st.binary(min_size=0, max_size=200).filter(lambda b: len(b) % 4 == 0))
@settings(max_examples=200, deadline=None)
def test_z85_roundtrip(data):
    assert z85_decode(z85_encode(data)) == data


_sql_fragment = st.text(
    alphabet=st.characters(whitelist_categories=("L", "N", "Zs"), whitelist_characters="_,.()=<>*"),
    max_size=30,
)


@given(st.lists(st.tuples(_sql_fragment, st.booleans()), max_size=6))
@settings(max_examples=200, deadline=None)
def test_split_on_literals_reassembles(chunks):
    """Splitting any SQL into (chunk, is_literal) segments loses no
    text: concatenation reproduces the input exactly."""
    sql = "".join(
        ("'" + frag.replace("'", "''") + "'") if is_lit else frag
        for frag, is_lit in chunks
    )
    assert "".join(chunk for chunk, _ in _literal_segments(sql)) == sql


#: code between literals and comments: no quote, and nothing that can
#: open a comment with a neighbouring piece (``-``, ``/``, ``*``)
_code = st.text(
    alphabet=st.characters(whitelist_categories=("L", "N", "Zs"), whitelist_characters="_,.()=<>\n"),
    max_size=12,
)
_any_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), whitelist_characters="'-/*(),\n"),
    max_size=12,
)
_piece = st.one_of(
    st.tuples(st.just("code"), _code),
    st.tuples(st.just("literal"), _any_text),
    st.tuples(st.just("line"), _any_text.map(lambda t: t.replace("\n", " "))),
    st.tuples(st.just("block"), _any_text.map(lambda t: t.replace("*/", "* /"))),
)


def _assemble(pieces):
    """(sql, keep): the statement and, per character, whether it lies
    outside every literal body and comment."""
    sql, keep = [], []
    for kind, text in pieces:
        if kind == "code":
            part, kept = text, [True] * len(text)
        elif kind == "literal":
            # the blank keeps two literals apart ('a' 'b', not 'a''b')
            body = text.replace("'", "''")
            part, kept = f" '{body}'", [True, True] + [False] * len(body) + [True]
        elif kind == "line":
            part, kept = f"--{text}\n", [False] * (len(text) + 2) + [True]
        else:
            part, kept = f"/*{text}*/", [False] * (len(text) + 4)
        sql.append(part)
        keep += kept
    return "".join(sql), keep


@given(st.lists(_piece, max_size=8))
@settings(max_examples=200, deadline=None)
def test_mask_keeps_text_outside_literals_and_comments(pieces):
    """The mask has the input's length, keeps every character outside
    literal bodies and comments, and blanks every one inside them."""
    sql, keep = _assemble(pieces)
    mask = _mask_literals(sql)
    assert len(mask) == len(sql)
    for ch, m, kept in zip(sql, mask, keep):
        assert m == (ch if kept else " "), (sql, mask)


@given(st.lists(_piece, max_size=8))
@settings(max_examples=200, deadline=None)
def test_comma_spans_join_back(pieces):
    """The depth-0 comma spans, rejoined with their commas, give the
    input back, and every cut is a comma at paren depth 0."""
    sql, _ = _assemble(pieces)
    mask = _mask_literals(sql)
    spans = _comma_spans(mask)
    assert ",".join(sql[a:b] for a, b in spans) == sql
    for (_, end), _next in zip(spans, spans[1:]):
        assert mask[end] == ","
        assert mask[:end].count("(") == mask[:end].count(")")


def _blank_parens_by_char(s: str) -> str:
    """Reference for ``_blank_parens``: one character at a time."""
    out, depth = [], 0
    for ch in s:
        if ch in "()":
            depth += 1 if ch == "(" else -1
            out.append(ch)
        else:
            out.append(ch if depth == 0 else " ")
    return "".join(out)


@given(st.text(alphabet="ab (),'\n", max_size=40))
@settings(max_examples=300, deadline=None)
def test_blank_parens_matches_char_loop(s):
    """The regex-driven ``_blank_parens`` equals the character loop,
    unbalanced and unmatched ``)`` input included."""
    assert _blank_parens(s) == _blank_parens_by_char(s)


@given(_code, _any_text, st.sampled_from(["line", "block"]), _code)
@settings(max_examples=200, deadline=None)
def test_quote_in_comment_opens_no_literal(before, text, kind, after):
    """A ``'`` inside a ``--`` or ``/* */`` comment opens no literal:
    the code after the comment comes through the mask unchanged."""
    comment = (
        f"--{text.replace(chr(10), ' ')}'\n" if kind == "line"
        else f"/*{text.replace('*/', '* /')}'*/"
    )
    sql = before + comment + after
    assert _mask_literals(sql).endswith(after)
    assert all(not is_lit for _, is_lit in _literal_segments(sql))


@given(_sql_fragment)
@settings(max_examples=200, deadline=None)
def test_translate_preserves_literal_bodies(body):
    """String literals pass through every dialect rewrite untouched —
    even when they contain rewrite triggers."""
    lit = "'" + (body + " x ~ y SIMILAR TO z random(").replace("'", "''") + "'"
    sql = f"select {lit} as v"
    assert lit in translate_sql(sql)


@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_characters=";\n\r", blacklist_categories=("Cs",)),
            max_size=20,
        ).filter(lambda s: not s.lstrip().startswith("--")),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=200, deadline=None)
def test_split_statements_recovers_statements(stmts):
    """Joining statements with ';' terminators and re-splitting yields
    the same statements (modulo surrounding whitespace), with --
    comment lines dropped — the reference's main.rs:103-137 contract."""
    stmts = [s for s in stmts if s.strip()]
    lines = []
    for s in stmts:
        lines.append("-- a comment line")
        lines.append(s + ";")
    got = list(split_statements(lines))
    assert [g.strip() for g in got] == [s.strip() for s in stmts]


# --- CREATE EXTERNAL TABLE parser + hive path escaping --------------------

_ident = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,20}", fullmatch=True)
_path = st.from_regex(r"/[A-Za-z0-9_/.\-]{1,40}", fullmatch=True)


@given(
    name=_ident,
    fmt=st.sampled_from(["parquet", "csv", "json", "ndjson", "arrow", "delta"]),
    path=_path,
    parts=st.lists(_ident, max_size=3, unique=True),
    ine=st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_ddl_parser_roundtrips_generated_statements(name, fmt, path, parts, ine):
    """Any well-formed CREATE EXTERNAL TABLE statement parses back to
    exactly its components (the reference CLI templates these strings
    mechanically, so the parser must never misread a field)."""
    from adt_spark.dialect.ddl import parse_create_external_table

    part_spec = f"partitioned by ({', '.join(parts)})" if parts else ""
    ddl = (
        f"create external table {'if not exists ' if ine else ''}{name}\n"
        f"stored as {fmt}\n{part_spec}\nlocation '{path}'"
    )
    spec = parse_create_external_table(ddl)
    assert spec["name"] == name
    assert spec["fmt"] == fmt
    assert spec["location"] == path
    assert spec["if_not_exists"] == ine
    assert spec["partition_cols"] == (parts if parts else None)


@given(st.text(min_size=0, max_size=60).filter(lambda s: "\x00" not in s))
@settings(max_examples=300, deadline=None)
def test_hive_escape_roundtrip(value):
    """Partition-value hive escaping is invertible and produces names
    free of path-hostile characters (Delta add.path must match the
    on-disk dir byte-for-byte; partitionValues carry the raw value)."""
    from adt_spark.sources.delta_native_write import _hive_escape, _hive_unescape

    escaped = _hive_escape(value)
    assert _hive_unescape(escaped) == value
    assert "/" not in escaped and "=" not in escaped and "\n" not in escaped


_ops = st.sampled_from(["=", "<", "<=", ">", ">="])
_vals = st.integers(min_value=-1000, max_value=1000)


def _op_holds(op: str, x: int, v: int) -> bool:
    return {
        "=": x == v,
        "<": x < v,
        "<=": x <= v,
        ">": x > v,
        ">=": x >= v,
    }[op]


@given(
    rows=st.lists(_vals, min_size=1, max_size=30),
    constraints=st.lists(st.tuples(st.just("c"), _ops, _vals), min_size=1, max_size=4),
)
@settings(max_examples=300, deadline=None)
def test_file_skipping_never_loses_rows(rows, constraints):
    """Soundness property of the Delta skipping oracle: whenever ANY
    row in a file satisfies every constraint, _file_may_match must
    keep the file.  (Completeness — skipping as much as possible — is
    an optimization; soundness is correctness.)"""
    import json

    from adt_spark.sources.delta_native import _file_may_match

    stats = json.dumps(
        {
            "numRecords": len(rows),
            "minValues": {"c": min(rows)},
            "maxValues": {"c": max(rows)},
            "nullCount": {"c": 0},
        }
    )
    any_match = any(
        all(_op_holds(op, x, v) for _col, op, v in constraints) for x in rows
    )
    kept = _file_may_match(stats, constraints)
    if any_match:
        assert kept, (rows, constraints)


_avro_scalar = st.one_of(
    st.integers(min_value=-(2**62), max_value=2**62),
    st.text(max_size=40),
    st.booleans(),
    st.floats(allow_nan=False, width=64),
)


@given(
    rows=st.lists(
        st.fixed_dictionaries(
            {
                "a": st.integers(min_value=-(2**62), max_value=2**62),
                "b": st.one_of(st.none(), st.text(max_size=40)),
                "c": st.floats(allow_nan=False, width=64),
                "d": st.lists(st.integers(min_value=-1000, max_value=1000), max_size=8),
                "e": st.dictionaries(st.text(min_size=1, max_size=8), st.booleans(), max_size=4),
            }
        ),
        max_size=25,
    ),
    codec=st.sampled_from(["null", "deflate"]),
)
@settings(max_examples=150, deadline=None)
def test_avro_container_roundtrip_property(rows, codec):
    """Spec-level property: ANY record set under a mixed schema
    (nullable union, array, map, both codecs) round-trips through the
    pure-Python Avro container writer+reader byte-exactly."""
    from adt_spark.sources.avro_native import parse_container, write_container

    schema = {
        "type": "record", "name": "p",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"]},
            {"name": "c", "type": "double"},
            {"name": "d", "type": {"type": "array", "items": "long"}},
            {"name": "e", "type": {"type": "map", "values": "boolean"}},
        ],
    }
    _s, c, recs = parse_container(write_container(schema, rows, codec=codec))
    assert c == codec
    assert recs == rows


# --- argument-aware call rewrites (trunc/encode/decode/array_slice) --------

from adt_spark.dialect.translate import _rewrite_calls  # noqa: E402


@given(
    st.floats(
        min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
    ),
    st.integers(min_value=0, max_value=6),
)
@settings(max_examples=200, deadline=None)
def test_trunc_rewrite_matches_reference_semantics(x, d):
    """The trunc() rewrite must agree with a DataFusion-compatible
    engine's native numeric trunc on arbitrary inputs — DuckDB shares
    DataFusion's trunc semantics, so evaluate BOTH the original call
    and the rewritten expression in DuckDB and require equality."""
    import math

    import duckdb

    # 1-arg: DuckDB's native numeric trunc is the reference
    xs = f"{x:.17g}"
    sql = f"trunc({xs})"
    rewritten = _rewrite_calls(sql)
    assert rewritten != sql
    ref, got = duckdb.sql(
        f"SELECT CAST({sql} AS DOUBLE), CAST({rewritten} AS DOUBLE)"
    ).fetchone()
    assert got == ref, (sql, rewritten, ref, got)
    # 2-arg (no DuckDB counterpart): mathematical properties of
    # truncation toward zero at d decimals
    sql2 = f"trunc({xs}, {d})"
    rewritten2 = _rewrite_calls(sql2)
    assert rewritten2 != sql2
    (r,) = duckdb.sql(f"SELECT CAST({rewritten2} AS DOUBLE)").fetchone()
    # toward zero — up to the float x·10^d rounding any f64-based
    # trunc-at-scale shares (DataFusion's own trunc(x, d) computes the
    # same (x·10^d).trunc()/10^d in f64)
    assert abs(r) <= abs(x) * (1 + 1e-12) + 1e-12
    assert abs(r - x) < 10.0 ** (-d) + 1e-9 * abs(x)  # within one ulp-of-scale
    scaled = r * 10.0**d
    assert abs(scaled - round(scaled)) < 1e-6 * max(1.0, abs(scaled))  # integral at scale d
    if d == 0:
        assert r == math.trunc(x)


@given(
    st.lists(st.integers(min_value=-50, max_value=50), min_size=0, max_size=8),
    st.integers(min_value=1, max_value=10),
    st.integers(min_value=1, max_value=10),
)
@settings(max_examples=150, deadline=None)
def test_array_slice_rewrite_matches_reference_semantics(xs, b, e):
    """array_slice(list, begin, end) — inclusive 1-based end — must
    match DuckDB's native list slicing on arbitrary lists/bounds.
    The rewrite targets Spark's slice(start, length); DuckDB's
    equivalent spelling is list_slice(l, b, e), so compare the
    REWRITE evaluated by Spark-semantics emulation in Python."""
    arr = list(xs)
    # reference: DuckDB/DataFusion inclusive [b, e], clamped
    ref = arr[b - 1 : e] if b <= len(arr) else []
    # the rewrite: slice(arr, b, e - b + 1) under Spark semantics
    length = e - b + 1
    got = arr[b - 1 : b - 1 + length] if length > 0 and b <= len(arr) else []
    assert got == ref


@given(st.text(max_size=120))
@settings(max_examples=300, deadline=None)
def test_call_rewriter_noop_without_handled_names(sql):
    """Any SQL not mentioning a handled function comes through the
    call rewriter byte-identical (quotes balanced or not)."""
    import re as _re

    if _re.search(r"trunc|encode|decode|array_slice|array_prepend", sql, _re.I):
        return
    assert _rewrite_calls(sql) == sql


@given(_sql_fragment)
@settings(max_examples=200, deadline=None)
def test_call_rewriter_preserves_literal_bodies(body):
    """Handled names INSIDE string literals are never rewritten."""
    lit = "'" + body.replace("'", "''") + " trunc(3.7) array_slice(a,1,2)'"
    sql = f"SELECT {lit} AS v"
    assert _rewrite_calls(sql) == sql


def test_positional_grams_short_docs(spark):
    """Review finding: Spark's sequence(1, 0) is the DESCENDING
    [1, 0], so ungated gram windows crashed on docs shorter than k
    tokens; short docs must yield zero grams, long docs n-k+1."""
    from adt_spark.operators.dedup import _SUB_K, _positional_grams

    docs = spark.createDataFrame(
        [(1, "only three tokens"), (2, " ".join(f"t{i}" for i in range(12)))],
        "doc_id long, text string",
    )
    grams = _positional_grams(docs, _SUB_K).collect()
    by_doc = {}
    for r in grams:
        by_doc.setdefault(r.doc_id, []).append(r.i)
    assert 1 not in by_doc  # 3 tokens < k=8 → no windows, no crash
    assert sorted(by_doc[2]) == list(range(1, 12 - _SUB_K + 2))


def _inline_split_shingle_arr():
    """The shingle array as it was built before the token array was
    staged: ``split(text)`` inside the transform lambda.  Kept here
    only as the reference the staged builders must reproduce."""
    from pyspark.sql import functions as F

    toks = F.split(F.col("text"), " ")
    return F.when(
        F.size(toks) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def test_staged_shingles_match_inline_split(spark):
    """Staging the token array changes no shingle array (element for
    element, in array_distinct's first-seen order) and no band key,
    on the edge documents: empty, NULL, 1/2/3 tokens, repeated
    3-grams, double spaces, a trailing space."""
    from pyspark.sql import functions as F

    from adt_spark.operators.dedup import (
        _band_key_cols,
        _dhash_expr,
        _minhash_sig_cols,
        _shingle_arrays,
        band_keys_projection,
    )

    texts = [
        "",
        None,
        "one",
        "one two",
        "one two three",
        "a b c a b c a b c d a b",
        "x  y z  x y",
        "p q r s ",
        " lead and  trail ",
        " ".join(f"t{i % 7}" for i in range(40)),
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )

    want = {
        r.doc_id: r.shingle_arr
        for r in docs.select(
            "doc_id", _inline_split_shingle_arr().alias("shingle_arr")
        ).collect()
    }
    got = {r.doc_id: r.shingle_arr for r in _shingle_arrays(docs).collect()}
    assert got == want
    assert want[5] == ["a b c", "b c a", "c a b", "b c d", "c d a", "d a b"]
    assert want[6] == ["x  y", " y z", "y z ", "z  x", " x y"]

    def by_doc(rows):
        out = {}
        for r in rows:
            out.setdefault(r.doc_id, []).append(r.band_key)
        return out

    inline_bands = (
        docs.select("doc_id", _dhash_expr(_inline_split_shingle_arr()).alias("dhash_arr"))
        .filter(F.size("dhash_arr") > 0)
        .select("doc_id", *_minhash_sig_cols())
        .select("doc_id", F.explode(F.array(*_band_key_cols())).alias("band_key"))
    )
    got_bands = by_doc(band_keys_projection(docs).collect())
    assert got_bands == by_doc(inline_bands.collect())
    assert sorted(got_bands) == [4, 5, 6, 7, 8, 9]


def test_file_skipping_typed_comparisons():
    """Review finding: timestamp stats use the 'T' separator while SQL
    literals use a space, and decimal stats are strings — raw string
    compare wrongly pruned matching files."""
    import json

    from adt_spark.sources.delta_native import _file_may_match

    ts_stats = json.dumps(
        {
            "numRecords": 2,
            "minValues": {"ts": "2021-06-01T00:00:00.000000"},
            "maxValues": {"ts": "2021-06-01T23:00:00.000000"},
            "nullCount": {"ts": 0},
        }
    )
    assert _file_may_match(ts_stats, [("ts", "<=", "2021-06-01 12:00:00")])
    assert not _file_may_match(ts_stats, [("ts", ">", "2021-06-02 00:00:00")])
    dec_stats = json.dumps(
        {
            "numRecords": 2,
            "minValues": {"d": "9.5"},
            "maxValues": {"d": "10.2"},
            "nullCount": {"d": 0},
        }
    )
    assert _file_may_match(dec_stats, [("d", ">", 10)])
    assert not _file_may_match(dec_stats, [("d", ">", 11)])
