"""Tokenization: corpus text -> (doc_id, term) token stream.

The reference consumes a *pre-tokenized* collection (README.md:79-101);
its only text handling is the offline lowercase+stem query transformer
(transform_queries.cpp:49-122).  Our engine owns tokenization, per
BASELINE.json input_hint: vectorized (JVM or Arrow) — never per-row
Python.

Two equivalent tokenizers are provided:

- :func:`tokenize` — pure Catalyst (``split`` + ``explode``), fully
  JVM-side / whole-stage-codegen; the default and the one mirrored by
  the DuckDB oracle SQL (``regexp_split_to_array``).
- :func:`tokenize_arrow` — Arrow-batched pandas UDF producing the same
  tokens, provided for code-aware extensions (identifier splitting);
  used by tests to prove equivalence.

Token rule (shared, deterministic): lowercase, split on any run of
characters outside ``[a-z0-9_]``; empty tokens dropped.  ``_`` is kept
word-internal because the corpus is source code (identifiers).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyarrow  # noqa: F401  (assert Arrow availability early)
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Splitting rule. Java and Python regex semantics agree for this class.
TOKEN_SPLIT_RE = "[^a-z0-9_]+"

#: Complement form used by the fast JVM path (extract runs of kept chars
#: == split on the complement with empties dropped).
TOKEN_KEEP_RE = "[a-z0-9_]+"

#: Same rule as a DuckDB SQL fragment (used by oracle_sql()).
DUCKDB_TOKEN_SPLIT = "[^a-z0-9_]+"


def tokens_array(text: Column) -> Column:
    """Column expression: text -> array<string> of tokens (JVM-side).

    Implementation note: ``regexp_extract_all('[a-z0-9_]+')`` is ~10x
    faster than ``split('[^a-z0-9_]+')`` in Spark's regex engine
    (measured 2.8s vs 29.9s over 31.6M tokens on local[32]) and needs
    no empty-token filter; the token stream is identical.
    """
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_KEEP_RE), 0)


def tokenize(corpus: DataFrame, doc_col: str = "doc_id", text_col: str = "content") -> DataFrame:
    """Explode a corpus table into one row per token occurrence.

    Returns ``(doc_id, term)`` with one row per occurrence (duplicates
    preserved — term frequency is an aggregation downstream).  Catalyst
    prunes the scan to exactly (doc_col, text_col).
    """
    return corpus.select(
        F.col(doc_col).alias("doc_id"),
        F.explode(tokens_array(F.col(text_col))).alias("term"),
    )


def _tokenize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import re

    pat = re.compile(TOKEN_SPLIT_RE)
    for pdf in batches:
        doc_ids = pdf["doc_id"].to_numpy()
        texts = pdf["content"].str.lower()
        token_lists = texts.map(lambda s: [t for t in pat.split(s or "") if t])
        lens = token_lists.map(len).to_numpy()
        out = pd.DataFrame(
            {
                "doc_id": doc_ids.repeat(lens),
                "term": [t for lst in token_lists for t in lst],
            }
        )
        yield out


def shingles_array(text: Column, n: int = 2) -> Column:
    """Column expression: text -> array<string> of word n-gram
    "shingle" terms (Lucene ShingleFilter shape): consecutive token
    windows joined by a single space — a safe separator, since tokens
    match ``[a-z0-9_]+``, so shingle terms can never collide with
    unigram terms or with each other.  Docs shorter than ``n`` tokens
    yield an empty array.  Entirely JVM-side (whole-stage codegen)."""
    if n < 2:
        raise ValueError("shingles_array: n must be >= 2")
    t = tokens_array(text)
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def tokenize_shingles(corpus: DataFrame, doc_col: str = "doc_id",
                      text_col: str = "content", n: int = 2) -> DataFrame:
    """Explode a corpus table into one row per n-gram shingle
    occurrence — ``(doc_id, term)`` with terms like ``"a b"``.  The
    drop-in tokenizer for building a phrase (shingle) index with the
    ordinary index build."""
    return corpus.select(
        F.col(doc_col).alias("doc_id"),
        F.explode(shingles_array(F.col(text_col), n)).alias("term"),
    )


def tokenize_ngram(corpus: DataFrame, doc_col: str = "doc_id",
                   text_col: str = "content", ngram: int = 1) -> DataFrame:
    """Dispatch on the index's token rule: ``ngram=1`` is ordinary
    tokenization, ``ngram>=2`` the shingle stream.  The value is
    recorded in the index manifest so every maintenance path
    (LSM delta updates, streamed folds, merges) keeps tokenizing
    the way the index was built."""
    if ngram <= 1:
        return tokenize(corpus, doc_col=doc_col, text_col=text_col)
    return tokenize_shingles(corpus, doc_col=doc_col, text_col=text_col,
                             n=ngram)


def tokenize_arrow(corpus: DataFrame, doc_col: str = "doc_id", text_col: str = "content") -> DataFrame:
    """Arrow-batched (mapInPandas) tokenizer, result-identical to
    :func:`tokenize`.  Hook point for code-aware token rules that
    Catalyst regex can't express."""
    src = corpus.select(F.col(doc_col).alias("doc_id"), F.col(text_col).alias("content"))
    return src.mapInPandas(_tokenize_batches, schema="doc_id long, term string")


def term_frequencies(tokens: DataFrame) -> DataFrame:
    """(doc_id, term) occurrences -> (doc_id, term, tf).

    A single hash aggregation; Spark applies partial (map-side) combine
    before the shuffle, so the shuffle volume is distinct (doc, term)
    pairs, not occurrences.
    """
    return tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("int").alias("tf"))
