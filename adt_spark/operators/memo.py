"""The session memo registry: every materialized intermediate the
operators reuse across queries (shingle arrays, LM count tables, PQ
codebooks, ...) lives in ONE store, keyed by

    (applicationId, stem, corpus identity)

where the corpus identity is what the value was computed from:

- an ``sf_dir``: the directory's file signature (path, mtime and size
  per table — ``context._sf_dir_signature``, the key
  ``register_sf_tables`` already uses);
- a DataFrame: its plan hash plus the (mtime, size) of every file
  ``df.inputFiles()`` names.  A frame with no input files (a
  checkpoint, a local relation) is identified by its plan hash alone.

A plan hash or a path alone does not change when a corpus is rewritten
in place, so such keys served the old corpus's answer; the file
signature does change, so the next lookup misses and refills.  That
fill releases every entry held under the same path with an older
signature: a rewritten corpus replaces its memos instead of adding to
them.  (DataFusion's listing-table statistics cache validates its
entries against file size and mtime the same way.)  A non-local file
(``s3://``) has no cheap stat and is identified by its path only.

Entries of a stopped application are never hit again (its
applicationId is gone); ``clear()`` releases everything explicitly —
test teardown, and long-lived processes that restart sessions.
Dropping a localCheckpointed DataFrame lets the ContextCleaner reclaim
its blocks; an entry with a ``release`` callable (the streaming
operators' sink views and scratch directories) runs it as well.
"""

from __future__ import annotations

import contextlib
import os
from typing import Any, Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

#: (applicationId, stem, (where, plan hash, file signature)) →
#: (value, release, module of the build function)
_SESSION_MEMO: dict[tuple, tuple[Any, Callable[[], Any] | None, str]] = {}


def _file_stat(uri: str) -> tuple | None:
    parsed = urlparse(uri)
    if parsed.scheme not in ("", "file"):
        return None
    try:
        st = os.stat(parsed.path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _identity(corpus: str | DataFrame | None) -> tuple:
    """(where, plan hash, file signature) of an sf_dir or a DataFrame."""
    if corpus is None:
        return (None, None, ())
    if isinstance(corpus, str):
        from adt_spark.context import _sf_dir_signature

        return (corpus, None, _sf_dir_signature(corpus))
    files = tuple(sorted(corpus.inputFiles()))
    return (files, corpus.semanticHash(), tuple(_file_stat(f) for f in files))


def memoize(
    spark: SparkSession,
    corpus: str | DataFrame | None,
    stem: str | tuple,
    build: Callable[[], Any],
    release: Callable[[], Any] | None = None,
) -> Any:
    """The value of ``stem`` over ``corpus`` in this session: the
    stored one, or ``build()``'s, stored.  ``stem`` is a name, or a
    tuple whose first element is the name and the rest the parameters
    the value depends on besides the corpus; a resource computed from
    no files (a stream's sink table) passes ``corpus=None`` and a
    unique stem.  ``release`` runs when the entry is dropped."""
    app = spark.sparkContext.applicationId
    ident = _identity(corpus)
    key = (app, stem, ident)
    hit = _SESSION_MEMO.get(key)
    if hit is not None:
        return hit[0]
    where, _plan, files = ident
    for old in [k for k in _SESSION_MEMO if k[2][0] == where and k[2][2] != files]:
        _release(_SESSION_MEMO.pop(old))
    value = build()
    _SESSION_MEMO[key] = (value, release, getattr(build, "__module__", ""))
    return value


def _release(entry: tuple) -> None:
    release = entry[1]
    if release is not None:
        # a release whose session has already stopped has nothing to drop
        with contextlib.suppress(Exception):
            release()


def clear() -> None:
    """Drop every entry of every session, running each one's release."""
    while _SESSION_MEMO:
        _release(_SESSION_MEMO.popitem()[1])


def warm_stems(module: str) -> list[str]:
    """Sorted names of the stems that hold an entry built by ``module``."""
    return sorted({
        stem if isinstance(stem, str) else stem[0]
        for (_app, stem, _ident), (_v, _r, mod) in _SESSION_MEMO.items()
        if mod == module
    })
