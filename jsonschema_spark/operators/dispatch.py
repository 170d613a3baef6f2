"""Discriminator-routed validation: many schemas, one scan.

Multi-tenant tables carry heterogeneous rows — a ``codec``/``event_type``/
``source`` column decides which contract a row must satisfy. The naive
plan (k filtered validations unioned back) scans the table k times and
re-shuffles to reassemble; this operator compiles EVERY schema against the
DataFrame once on the driver and routes rows with a single codegen'd CASE
over the per-schema violations arrays — one scan, zero shuffles, zero
Python, and the full downstream machinery (violations / summaries /
partition_health / triage / output formats) works unchanged because the
result is an ordinary ValidationResult.

Scale notes:
- Expression size grows as k × checks-per-schema; whole-stage codegen
  handles dozens of branches comfortably (the registry pattern: k is
  schema-registry-sized, not data-sized). For k in the hundreds, split
  the registry across several dispatch passes.
- A row whose discriminator matches no registered schema is REJECTED by
  default with an explicit ``/dispatch`` violation (fail-loud: an
  unregistered tenant must not silently pass); ``on_unregistered="accept"``
  opts into pass-through. NULL discriminators are always unregistered.
"""

from __future__ import annotations

from typing import Mapping, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonschema_spark.operators.validate import ValidationResult, annotate
from jsonschema_spark.plans.compile import CompileOptions, compile_schema
from jsonschema_spark.schema import Schema

_VIOLATIONS_TYPE = (
    "array<struct<keyword_path:string,keyword:string,column:string,message:string>>"
)


def _parse(schema) -> Schema:
    if isinstance(schema, Schema):
        return schema
    if isinstance(schema, str):
        return Schema.from_json(schema)
    return Schema.from_value(schema)


def validate_dispatch(
    df: DataFrame,
    schemas: Mapping[str, object],
    discriminator: str,
    options: Optional[CompileOptions] = None,
    on_unregistered: str = "reject",
    envelope_id: str = "urn:jsonschema-spark:dispatch",
) -> ValidationResult:
    """Validate each row against ``schemas[row[discriminator]]``.

    ``schemas`` maps discriminator values (strings) to schema documents
    (dict / JSON string / Schema). Returns a ValidationResult whose
    ``_violations`` column is the routed per-schema violations array;
    every downstream method (violations, summary_by, partition_health,
    flag/basic output) composes as usual. ``envelope_id`` provides the
    root ``$id`` used by the 2020-12 output formats.
    """
    if on_unregistered not in ("reject", "accept"):
        raise ValueError("on_unregistered must be 'reject' or 'accept'")
    if not schemas:
        raise ValueError("validate_dispatch: empty schema registry")

    compiled = {
        k: compile_schema(_parse(s), df.schema, options) for k, s in schemas.items()
    }

    empty = F.array().cast(_VIOLATIONS_TYPE)
    if on_unregistered == "reject":
        fallback = F.array(
            F.struct(
                F.lit("/dispatch").alias("keyword_path"),
                F.lit("dispatch").alias("keyword"),
                F.lit(discriminator).alias("column"),
                F.lit(
                    f"no schema registered for instance.{discriminator} value"
                ).alias("message"),
            )
        )
    else:
        fallback = empty

    routed = None
    for value, comp in compiled.items():
        cond = F.col(discriminator) == F.lit(value)
        arr = comp.violations_array()
        routed = F.when(cond, arr) if routed is None else routed.when(cond, arr)
    routed = routed.otherwise(fallback)

    envelope = compile_schema(
        _parse({"$id": envelope_id}), df.schema, options
    )
    return ValidationResult(annotated=annotate(df, routed), compiled=envelope)
