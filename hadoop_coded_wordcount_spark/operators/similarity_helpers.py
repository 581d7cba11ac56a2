"""The one home of the unrolled pair kernels and of the vector front end
that feeds them, shared by the similarity, ML-eval, time-series and ingest
families.

Pair-quadratic hot paths score every candidate pair with a fold over two
packed vectors. ``aggregate(zip_with(...))`` is a nested higher-order
function, which Catalyst evaluates interpreted (measured ~50x slower than
plain arithmetic); ``GetArrayItem`` with a literal ordinal takes part in
whole-stage codegen, so for a known length the fold unrolls into a flat
expression tree. Each unrolled fold is built as ONE ``F.expr`` string,
parsed JVM-side in one py4j round trip, where a Column-object loop costs
about three per term.

Fold order: every sum associates left to right from its seed,
``((seed + t0) + t1) + ...`` — the order of the DuckDB ``list_reduce``
oracles, so results are bit-exact against them with no tolerance.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _unrolled_sum(term: Callable[[int], str], n: int, seed: str | None) -> Column:
    """``seed + term(0) + ... + term(n - 1)`` as one JVM-parsed expression;
    with ``seed=None`` the sum starts at ``term(0)``."""
    terms = [term(i) for i in range(n)]
    return F.expr(" + ".join(terms if seed is None else [seed, *terms]))


def dot_unrolled(a: Column | str, b: Column | str, dim: int) -> Column:
    """Pairwise dot product as an unrolled sum of literal-index products
    from a 0.0 seed.

    The seed matters twice: ``((0.0+p0)+p1)+...`` is exactly the
    ``_fold_sum`` order, so results are bit-identical to the HOF form and
    to the DuckDB oracle's list fold (near-dup thresholds compare these
    values against exact SQL with no tolerance), and it turns an
    all-(-0.0) sum into +0.0.

    String operands (SQL column references) take the one-round-trip
    ``F.expr`` path; Column operands build the same analyzed tree with a
    Column loop (pinned equal in tests).
    """
    if isinstance(a, str) and isinstance(b, str):
        return _unrolled_sum(lambda i: f"{a}[{i}] * {b}[{i}]", dim, "0.0D")
    if isinstance(a, str) or isinstance(b, str):
        # A mixed (str, Column) call would fall into the Column loop where
        # `a[i]` is PYTHON STRING INDEXING and `lit(char) * col` silently
        # nulls via string→double cast. Normalize instead.
        a, b = F.col(a) if isinstance(a, str) else a, (
            F.col(b) if isinstance(b, str) else b
        )
    out = F.lit(0.0)
    for i in range(dim):
        out = out + a[i] * b[i]
    return out


def sqdist_unrolled(a: str, b: str, n: int, seed: str | None) -> Column:
    """Unrolled squared L2 distance ``Σ(a[i] − b[i])²`` over ``n``
    components of two array columns. ``seed=None`` keeps the integer type
    of BIGINT micro-unit arrays (PQ), so sums are exact and order-free;
    ``seed="0.0D"`` is the double fold of the list_reduce oracles."""
    return _unrolled_sum(
        lambda i: f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])", n, seed
    )


def as_double_normed(embeddings: DataFrame) -> DataFrame:
    """(vec_id, emb, nrm): the embedding cast to double, spread over the
    cores by ``ensure_parallelism``, with its L2 norm folded once per row
    so pair scoring never refolds it."""
    from ..sources.catalog import ensure_parallelism

    norm = F.sqrt(_fold_sum(F.transform("emb", lambda x: x * x)))
    return (
        ensure_parallelism(embeddings.select("vec_id", "embedding"), key="vec_id")
        .select("vec_id", _as_double("embedding").alias("emb"))
        .withColumn("nrm", norm)
    )


def as_double_unit(embeddings: DataFrame) -> DataFrame:
    """(vec_id, label, ne): the embedding cast to double and unit-
    normalized once per row, so any later pairwise dot IS the cosine.
    Zero vectors are dropped (no direction, no cosine)."""
    base = embeddings.select(
        "vec_id", "label", _as_double("embedding").alias("emb")
    )
    nrm = F.sqrt(_fold_sum(F.transform("emb", lambda x: x * x)))
    return (
        base.withColumn("nrm", nrm)
        .where(F.col("nrm") > 0)
        .select(
            "vec_id",
            "label",
            F.transform("emb", lambda x: x / F.col("nrm")).alias("ne"),
        )
    )
