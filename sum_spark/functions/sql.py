"""SQL surface for the vector kernels: register them as SQL-callable
functions so Spark SQL text queries can use the same operators as the
Column API (SURVEY §4 item 4 — no Catalyst extension required).

Two tiers, mirroring the dual backend:

- ``register_sql_functions``: NumPy Arrow UDFs (`vec_dot`, `vec_cosine`,
  `vec_magnitude`) — one registration, callable from any SQL text, Arrow
  batched. This is the pragmatic SQL path.
- the pure-Catalyst expressions remain available through the DataFrame
  API / `selectExpr` composition; they cannot be named SQL functions
  without a catalog function implementation, which is deliberately out of
  scope (the engine's SQL story is views + these UDFs).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from sum_spark.functions.vector_pandas import cosine_np, dot_np, magnitude_np

SQL_FUNCTIONS = {
    "vec_dot": dot_np,
    "vec_cosine": cosine_np,
    "vec_magnitude": magnitude_np,
}


def register_sql_functions(spark: SparkSession) -> None:
    """Make the vector kernels callable from SQL text, e.g.

        SELECT vec_id, vec_cosine(embedding, probe) AS sim FROM ...

    Idempotent per session.
    """
    for name, fn in SQL_FUNCTIONS.items():
        spark.udf.register(name, fn)
