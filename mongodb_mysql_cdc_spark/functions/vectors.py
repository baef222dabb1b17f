"""Vector algebra over array<float> embedding columns — pure higher-order
functions (zip_with / aggregate), JVM-side, no UDF.

All math is done in DOUBLE with a sequential left fold so the oracle
(DuckDB list_transform + list_reduce) is bit-identical. DuckDB's native
list_cosine_similarity computes in float32 — do NOT use it as an oracle.

Plan-build cost: building these HOFs through the Column DSL costs ~10 py4j round trips per lambda (zip_with/aggregate each
ship a LambdaFunction + UnresolvedNamedLambdaVariables one call at a
time) — measured as the dominant plan-BUILD cost of the sim_search
family. When the argument is a plain column NAME, the same expression is
built with ONE py4j call via ``F.expr`` over the Spark-SQL spelling
(``spark_dot``/``spark_norm`` below). The parsed tree uses the identical
functions/lambdas, so analyzed semantics — and therefore results — are
unchanged; Column arguments keep the DSL path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = "Column | str"


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


# --- Spark-SQL text spellings (ONE parser call per expression) --------------


def spark_to_double(a: str) -> str:
    return f"transform({a}, x -> CAST(x AS DOUBLE))"


# The dot/norm folds CAST INSIDE the lambda instead of materializing
# transform(...)-casted copies of the input arrays first (measured
# 0.83 s → 0.64 s on a 100k-pair cosine workload): same per-element ops
# (cast, multiply) in the same sequential fold order → bit-identical
# results (hash-verified, incl. NULL → NULL and empty → 0.0 edges), two
# fewer array allocations per evaluation.


def spark_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b},"
        f" (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" 0.0D, (acc, p) -> acc + p)"
    )


def spark_norm(a: str) -> str:
    return (
        f"sqrt(aggregate({a}, 0.0D,"
        f" (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )


def spark_cosine(a: str, b: str) -> str:
    return f"({spark_dot(a, b)} / ({spark_norm(a)} * {spark_norm(b)}))"


# --- Column API (F.expr fast path for plain names) ---------------------------


def to_double(vec: Column | str) -> Column:
    if isinstance(vec, str):
        return F.expr(spark_to_double(_quote(vec)))
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(spark_dot(_quote(a), _quote(b)))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, p: acc + p,
    )


def norm(a: Column | str) -> Column:
    if isinstance(a, str):
        return F.expr(spark_norm(_quote(a)))
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(spark_cosine(_quote(a), _quote(b)))
    return dot(a, b) / (norm(a) * norm(b))


def sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)"
    )


def sql_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform({a},"
        f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))"
    )


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / ({sql_norm(a)} * {sql_norm(b)}))"
