"""SQL surface: register the engine's functions so plain ``spark.sql``
users can call them — a capability the reference lacks entirely (it has
no query language; SURVEY.md §2.6).

* ``<prefix>_srp_sigs(vector)`` — the Arrow-vectorized SRP signature UDF.
* ``<prefix>_cosine(a, b)``, ``<prefix>_dot(a, b)``, ``<prefix>_l2norm(v)``
  — registered as SQL scalar functions (``CREATE TEMPORARY FUNCTION ...
  RETURN <higher-order expression>``), so they stay JVM-side/codegen'd
  even when called from SQL text.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .config import LSHConfig

__all__ = ["register_sql_functions"]


def register_sql_functions(
    spark: SparkSession, cfg: LSHConfig, *, prefix: str = "lshrs"
) -> list[str]:
    """Register engine functions for SQL use; returns the names."""
    # the same pandas_udf the DataFrame path uses (the broadcast
    # projection matrix is cached per config)
    from .hashing import signatures_udf

    srp_sigs = signatures_udf(spark, cfg)

    names = []
    spark.udf.register(f"{prefix}_srp_sigs", srp_sigs)
    names.append(f"{prefix}_srp_sigs")

    sql_udfs = {
        f"{prefix}_dot": (
            "(a ARRAY<FLOAT>, b ARRAY<FLOAT>) RETURNS DOUBLE RETURN "
            "aggregate(zip_with(a, b, (x, y) -> cast(x AS DOUBLE) * cast(y AS DOUBLE)), "
            "cast(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        ),
        f"{prefix}_l2norm": (
            "(v ARRAY<FLOAT>) RETURNS DOUBLE RETURN "
            "sqrt(aggregate(v, cast(0.0 AS DOUBLE), "
            "(acc, x) -> acc + cast(x AS DOUBLE) * cast(x AS DOUBLE)))"
        ),
        f"{prefix}_cosine": (
            # zero-denominator guard mirrors the DataFrame twin
            # cosine_similarity (NULL, not DIVIDE_BY_ZERO under ANSI mode)
            "(a ARRAY<FLOAT>, b ARRAY<FLOAT>) RETURNS DOUBLE RETURN "
            f"CASE WHEN {prefix}_l2norm(a) * {prefix}_l2norm(b) > 0 "
            f"THEN {prefix}_dot(a, b) / ({prefix}_l2norm(a) * {prefix}_l2norm(b)) END"
        ),
    }
    for name, body in sql_udfs.items():
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
        spark.sql(f"CREATE TEMPORARY FUNCTION {name}{body}")
        names.append(name)
    return names
