"""Shared DuckDB-SQL fragments for the MinHash/LSH oracle family —
the SQL twins of ``operators/dedup.py``'s shingle/signature/banding
helpers. A leaf module, like ``registry``: it imports only the dedup
operator constants, never ``registry`` or a ``queries*`` module, so
every ``queries_*`` module can compose oracle CTEs from them without
import cycles."""

from __future__ import annotations

from left_join_on_timeout_spark.operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_K,
    minhash_digest_plan,
)

WORDS_SQL = r"regexp_split_to_array(trim(lower(text)), '\s+')"

# The exact SQL twin of ``functions.text.normalize`` (NULL → '') — the
# Spark side tokenizes NULL text to an empty string everywhere, so any
# oracle that must stay shape-robust against NULL-text documents uses
# this variant (ADVICE r13: the capstone's toks/grams CTEs diverged on
# a hypothetical NULL-text doc). The legacy ``WORDS_SQL`` is kept
# verbatim for the established oracle family — flipping it would
# re-adjudicate ~20 green names for a value-identical change on the
# NULL-free testdata.
NULLSAFE_WORDS_SQL = (
    r"regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+')")

# word-3-gram shingles; docs under 3 words contribute one whole-text shingle
SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {WORDS_SQL} AS w FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN w[t.i] || ' ' || w[t.i+1] || ' ' || w[t.i+2]
              ELSE array_to_string(w, ' ') END AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
)"""

# the NULL-robust twin (same text, null-safe tokenizer)
NULLSAFE_SHINGLES_CTE = SHINGLES_CTE.replace(WORDS_SQL, NULLSAFE_WORDS_SQL)
assert NULLSAFE_SHINGLES_CTE != SHINGLES_CTE

_PLAN = minhash_digest_plan(DEFAULT_K)
_N_DIGESTS = max(d for d, _ in _PLAN) + 1
DIGEST_COLS = ",\n       ".join(
    ("md5(shingle)" if d == 0 else f"md5(shingle || '#{d}')") + f" AS h{d}"
    for d in range(_N_DIGESTS))
SIG_COLS = ",\n       ".join(
    f"min(substr(h{d}, {off}, 8)) AS m{j}"
    for j, (d, off) in enumerate(_PLAN))

_ROWS = DEFAULT_K // DEFAULT_BANDS
_PIPE = " || '|' || "
BAND_SELECTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, "
    f"md5({_PIPE.join(f'm{b * _ROWS + r}' for r in range(_ROWS))}) AS h "
    f"FROM sig"
    for b in range(DEFAULT_BANDS))
