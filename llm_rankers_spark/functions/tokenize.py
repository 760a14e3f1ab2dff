"""Tokenization — the one function the engine and every oracle must share.

Rank-identity (BASELINE.json north_rule) is only achievable if the index
build, the query parser, the pure-Python pytest oracle, and (for ``simple``
mode) the DuckDB oracle SQL all tokenize identically. So the tokenizer is a
plain Python function (:func:`tokenize`) wrapped once in a ``pandas_udf``;
tests assert UDF ≡ plain-function parity.

Two modes:

- ``simple``: lowercase, split on ``[^a-z0-9]+``. Exactly expressible in
  ANSI SQL (DuckDB: ``string_split_regex(lower(x), '[^a-z0-9]+')``), which
  is what makes the driver's BM25 oracle check possible.
- ``code``: code-aware — split on non-alphanumerics, then split snake_case
  and camelCase identifiers into sub-tokens, lowercase everything. This is
  the analogue of the Lucene/Anserini analyzer the reference delegates to
  (Rank-R1/bright/index_corpus.sh:3-9); ours is defined here, in the open,
  so the pytest oracle can share it verbatim.
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SIMPLE_SPLIT_RE = re.compile(r"[^a-z0-9]+")
RAW_TOKEN_RE = re.compile(r"[A-Za-z0-9_]+")
# camelCase boundaries: lower|digit → Upper, and ACRONYMWord → ACRONYM Word
CAMEL_RE = re.compile(r"(?<=[a-z0-9])(?=[A-Z])|(?<=[A-Z])(?=[A-Z][a-z])")
MAX_TOKEN_LEN = 64


def tokenize_simple(text: str) -> list[str]:
    """Lowercase + split on non-alphanumeric. SQL-expressible."""
    if not text:
        return []
    return [t for t in SIMPLE_SPLIT_RE.split(text.lower()) if t]


@lru_cache(maxsize=1 << 16)
def _split_identifier(raw: str) -> tuple[str, ...]:
    parts: list[str] = []
    for chunk in raw.split("_"):
        if not chunk:
            continue
        for sub in CAMEL_RE.split(chunk):
            if sub:
                parts.append(sub.lower()[:MAX_TOKEN_LEN])
    return tuple(parts)


def tokenize_code(text: str) -> list[str]:
    """Code-aware: identifier extraction + snake/camel splitting, lowercased."""
    if not text:
        return []
    out: list[str] = []
    for raw in RAW_TOKEN_RE.findall(text):
        out.extend(_split_identifier(raw))
    return out


def tokenize(text: str, mode: str = "code") -> list[str]:
    if mode == "simple":
        return tokenize_simple(text)
    if mode == "code":
        return tokenize_code(text)
    raise ValueError(f"unknown tokenizer mode: {mode}")


def truncate_tokens(text: str, length: int, mode: str = "code") -> str:
    """F1 (setwise.py:315-316 etc.): clamp text to the first ``length``
    tokens. The reference detokenizes through the model tokenizer; ours
    rejoins with single spaces (documented deviation — our tokenizer is
    also the index tokenizer, so clamp semantics stay self-consistent)."""
    toks = tokenize(text, mode)
    return " ".join(toks[:length])


def truncate_col(col: Column | str, length: int, mode: str = "code") -> Column:
    """Vectorized F1 truncate."""

    @F.pandas_udf(T.StringType())
    def _trunc(s: pd.Series) -> pd.Series:
        return s.map(lambda x: truncate_tokens(x, length, mode) if x is not None else None)

    return _trunc(F.col(col) if isinstance(col, str) else col)


def word_clamp_col(col: Column | str, max_words: int = 300) -> Column:
    """F2 (listwise.py:73-77): ``' '.join(content.split()[:N])`` + strip —
    pure built-in expressions (slice + array_join), no UDF."""
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    words = F.filter(F.split(c, r"\s+"), lambda x: x != F.lit(""))
    return F.array_join(F.slice(words, 1, max_words), " ")


def tokens_col(col: Column | str, mode: str = "code") -> Column:
    """Vectorized tokenizer column (pandas_udf; Arrow-batched, no per-row
    Python UDF — BASELINE.json input_hint)."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _tok(s: pd.Series) -> pd.Series:
        if mode == "simple":
            return s.map(lambda x: tokenize_simple(x) if x is not None else [])
        return s.map(lambda x: tokenize_code(x) if x is not None else [])

    # asNondeterministic stops the optimizer pushing a derived filter below
    # the UDF and thereby evaluating it TWICE per row (observed: the explode
    # consumers' implicit size/notnull filter split every tokenize into two
    # stacked ArrowEvalPython nodes — the guide-§4.4 pattern). The function
    # is of course deterministic; the flag only constrains the optimizer.
    return _tok.asNondeterministic()(F.col(col) if isinstance(col, str) else col)


TERM_COUNTS_TYPE = T.ArrayType(
    T.StructType([T.StructField("term", T.StringType()), T.StructField("tf", T.IntegerType())])
)


def term_counts_col(col: Column | str, mode: str = "code") -> Column:
    """Per-document (term, tf) pairs, counted INSIDE the tokenizer UDF.

    Term frequency is a within-row computation — counting in the UDF and
    exploding the result replaces a corpus-sized ``groupBy(term, doc)``
    shuffle (one row per token occurrence) with no shuffle at all. The
    pairs come out sorted by term for deterministic downstream order."""
    from collections import Counter

    def count(x: str | None) -> list[dict]:
        toks = tokenize(x, mode) if x is not None else []
        if not toks:
            # sentinel keeps empty docs visible downstream (dl=0, no terms)
            return [{"term": "", "tf": 0}]
        c = Counter(toks)
        return [{"term": t, "tf": c[t]} for t in sorted(c)]

    @F.pandas_udf(TERM_COUNTS_TYPE)
    def _cnt(s: pd.Series) -> pd.Series:
        return s.map(count)

    # same duplicate-evaluation guard as tokens_col (guide §4.4)
    return _cnt.asNondeterministic()(F.col(col) if isinstance(col, str) else col)


def spread_for_udf(
    docs: DataFrame, n_rows: int | None = None, rows_per_task: int | None = None
) -> DataFrame:
    """Spread ``docs`` before a tokenizer-UDF stage so the stage can use
    every core.

    The UDF runs one task per input split, so an input with fewer splits
    than ``defaultParallelism`` (a single parquet file, a coalesced scan)
    tokenizes on fewer cores than the session has: it is round-robined to
    ``defaultParallelism`` splits. Given ``n_rows`` and ``rows_per_task``,
    the target also bounds the rows one task holds: an input whose splits
    average more than twice ``rows_per_task`` rows spreads to
    ``ceil(n_rows / rows_per_task)`` splits. An input already as fine as
    the target is returned unchanged, so it pays no shuffle."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    try:
        n_parts = docs.rdd.getNumPartitions()
    except Exception:  # a streaming frame has no RDD
        return docs
    target, fat = par, False
    if n_rows is not None and rows_per_task:
        target = min(max(par, -(-n_rows // rows_per_task)), 65536)
        fat = n_rows / max(n_parts, 1) > 2 * rows_per_task
    if n_parts < par or (n_parts < target and fat):
        return docs.repartition(target)
    return docs
