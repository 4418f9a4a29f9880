"""Reusable column expressions (all JVM-side, whole-stage-codegen friendly).

Everything here is built from `pyspark.sql.functions` higher-order functions —
no Python UDFs — so the hot path stays inside Tungsten codegen. These are the
building blocks for the dedup / similarity / text operators (SURVEY.md §2.6
north-star rows).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX = "0123456789abcdef"


def words(text: Column | str) -> Column:
    """Lowercased whitespace tokens. Mirrors the reference's line/word-oriented
    text plane (`pkg/test/scenario/test_scenarios.go:77-161`)."""
    return F.split(F.lower(F.col(text) if isinstance(text, str) else text), " ")


def dot_double(a: Column, b: Column) -> Column:
    """Double-precision dot product of two float-array columns.

    zip_with + aggregate keeps the whole computation in the JVM; the
    accumulation is strictly left-to-right, so results are bit-reproducible
    (needed by the verification gate — the Spark analog of the reference's
    replicated-execution comparison, `pkg/controller/controller.go:211-241`).
    """
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity for unit-normalized embeddings (= dot product).
    Fixture embeddings are unit-normalized (FIXTURES.md §2)."""
    return dot_double(a, b)


def shingles(word_arr: Column, n: int) -> Column:
    """Array of n-gram word shingles ('a b c d e' windows) from a token array.

    Guarded so documents shorter than n words yield an empty array (Spark's
    sequence() would otherwise count downward).
    """
    return F.when(
        F.size(word_arr) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(word_arr) - n),
            lambda i: F.array_join(F.slice(word_arr, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def row_fingerprint(cols: list[Column]) -> Column:
    """Canonical per-row hash: sha2 over a null-tagged concat of columns.

    The engine's analog of the reference's content-addressed result CIDs
    (`pkg/verifier/ipfs/verifier.go:37-43`): equal rows ⇒ equal fingerprint,
    independent of partitioning.
    """
    tagged = [F.coalesce(c.cast("string"), F.lit("\x00null")) for c in cols]
    return F.sha2(F.concat_ws("\x1f", *tagged), 256)
