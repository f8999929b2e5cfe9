"""SQL dialect compatibility layer.

The reference pipes raw user SQL into DataFusion configured with the
PostgreSQL dialect (reference: crates/core/src/context.rs:29, raw
pass-through crates/cli/src/main.rs:17,72,116).  Spark SQL covers
nearly all of that surface natively (SURVEY.md §2.B); this package
closes the flagged gaps:

- ``functions``  — registers Spark SQL functions for DataFusion names
  Spark lacks (``date_bin``, ``strpos``, ``array_has_all`` …).
- ``translate``  — light textual rewrites for PostgreSQL operators
  Spark SQL does not parse (``~`` regex match, ``::`` casts).
- ``sqltext``    — the one SQL text scanner (literals, comments, paren
  depth) every textual pass, the DML/COPY parsers and the DDL share.
- ``overspec``   — the one OVER-spec grammar: ``parse_over`` reads a
  window body into the model ``window_frames``, ``keyed_windows`` and
  ``global_rank`` share.
"""
