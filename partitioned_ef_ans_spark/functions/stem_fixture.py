"""Pinned Porter stem table for the driver's DuckDB oracle.

DuckDB in this sandbox has no ``stem()`` (the fts extension is
unavailable), so the S6 transform oracle cannot stem in SQL.  The
gate corpus has a CLOSED 31-term vocabulary (TESTDATA.md documents
table — identical at every scale factor) and the gate query set adds
one deliberate OOV token, so the full stem domain is finite and tiny:
this module pins ``{term: porter_stem(term)}`` over that domain as a
literal, generated once by functions/stemmer.py.

The DuckDB oracle embeds it as a VALUES join (gate.
sql_transform_queries), which upgrades the ``transform_queries`` gate
entry from rows-only to fully value-hashed.  Two pytest locks keep it
honest (tests/test_transform.py):

- the fixture equals a live ``porter_stem`` recomputation over the
  ACTUAL sf0.01 parquet vocabulary plus every gate query token, so a
  testdata regeneration that changed the vocabulary fails loudly
  instead of silently mis-stemming the oracle;
- ``porter_stem`` itself is checked against worked examples published
  in Porter's 1980 paper (An algorithm for suffix stripping).
"""

from __future__ import annotations

#: term -> Porter stem, covering the closed gate-corpus vocabulary and
#: all GATE_QUERIES tokens (incl. the deliberate OOV probe).
STEM_FIXTURE: dict[str, str] = {
    "a": "a",
    "agg": "agg",
    "batch": "batch",
    "big": "big",
    "column": "column",
    "customer": "custom",
    "data": "data",
    "dup": "dup",
    "fast": "fast",
    "filter": "filter",
    "group": "group",
    "hash": "hash",
    "join": "join",
    "key": "kei",
    "line": "line",
    "merge": "merg",
    "order": "order",
    "part": "part",
    "query": "queri",
    "row": "row",
    "scan": "scan",
    "slow": "slow",
    "small": "small",
    "sort": "sort",
    "spark": "spark",
    "stream": "stream",
    "table": "tabl",
    "the": "the",
    "value": "valu",
    "vector": "vector",
    "window": "window",
    "zzqq_missing": "zzqq_miss",
}


def stem_fixture_values_sql() -> str:
    """The fixture as a DuckDB VALUES relation ``(term, stemmed)``."""
    rows = ", ".join(
        f"('{t}', '{s}')" for t, s in sorted(STEM_FIXTURE.items())
    )
    return f"(VALUES {rows}) AS stemmap(term, stemmed)"
