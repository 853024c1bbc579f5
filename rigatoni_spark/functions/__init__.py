"""Reusable column-expression builders (the engine's scalar-function
layer — JVM-side, codegen-friendly; no Python UDFs).

The reference has no scalar function library (SURVEY.md §2.8); these
are the shared primitives the operators above are composed from, kept
importable for users building their own pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def json_field(col: Column | str, path: str) -> Column:
    """Extract a field from a JSON payload column (the dynamic half of
    the change-event schema): ``json_field("full_document", "k")``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, f"$.{path}")


def dot_product(a: Column, b: Column) -> Column:
    """Elementwise-double dot product as a left-to-right fold —
    deterministic summation order, identical cross-engine."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def namespace_full_name() -> Column:
    """'db.collection' (Namespace::full_name, event.rs:196-200)."""
    return F.concat_ws(".", F.col("database"), F.col("collection"))


def exact_sum(col: Column | str, scale: int = 4) -> Column:
    """Partitioning-independent sum of a double column: cast to
    DECIMAL(18,scale) pre-sum (exact), cast back to double after."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")
