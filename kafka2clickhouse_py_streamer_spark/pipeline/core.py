"""The pipeline core: JSON decode → schema-validate split → typed
cast-with-defaults projection.

Reference parity (semantics from /root/reference/main.py, re-expressed
Spark-first — no code is translated):

- P1 decode + tombstone filter (main.py:516-520): empty / whitespace-only
  / malformed-JSON messages are silently dropped.
- P2 validate-split (main.py:200-228): each row either passes the
  sink-schema validation or is routed to the DLQ frame carrying
  ``{'row': <original>, 'error': <message>}`` (:func:`tag_errors`,
  :func:`split_tagged`).
- P3 cast-project (main.py:230-302): :func:`typed_valid`, one fused
  ``select`` casting every surviving row to exactly the sink schema —
  null/missing values replaced by per-type sentinel defaults
  (main.py:116-132), empty-string and unparseable datetimes → 1970-01-01
  (main.py:267-273), string-enum nulls → "DEFAULT" (main.py:275-281),
  missing keys filled from their defaults (main.py:296-298), extra
  fields dropped by projection (main.py:302). The batch API and every
  streaming trigger build the typed frame through it.

Architecture: P1+P2 need per-field JSON *type* checking — "is 5 vs
'5'" — i.e. the raw token's JSON class. That is ONE Arrow-batched
pandas UDF per batch over the raw value; everything downstream is JVM.
(A VariantType CASE-expression validator was tried and removed: same
verdicts, ~3x slower — SCALE.md, "VariantType validator: negative
result".)

P3 is pure Column expressions — whole-stage-codegen, no Python.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StringType, StructField, StructType

from kafka2clickhouse_py_streamer_spark.schema.model import ColumnMeta, TableSchema
from kafka2clickhouse_py_streamer_spark.session import substrate

# Marker distinguishing "drop silently" (reference main.py:516-520) from
# "route to DLQ with an error" inside the single validation UDF.
_DROP = "\x00DROP"


def receiving_schema(schema: TableSchema) -> StructType:
    """All-string receiving schema: from_json extracts raw tokens, P3
    casts. A number arriving as 1.5 parses to "1.5" (Jackson renders
    numeric tokens as their text), so P3 owns ALL casting and sees the
    exact token; explicit JSON null and absent keys both parse to SQL
    NULL — P2 has already split on the present-vs-absent distinction,
    so P3 treats both as "use the sentinel default"."""
    return StructType(
        [StructField(c.name, StringType(), True) for c in schema.columns]
    )


def _make_validator(cols: dict[str, str], required: list[str], drop: str):
    """Row validator returning None (valid), ``drop``, or an error string
    (fastjsonschema-style wording, main.py:227).

    Built as a closure over plain data so cloudpickle serializes it BY
    VALUE — executors need neither this package on sys.path nor any
    import beyond stdlib json (the UDF must survive a cluster where the
    engine is driver-side only)."""
    import json as _json

    def validate_row(raw):
        if raw is None or raw.strip() == "":
            return drop
        try:
            obj = _json.loads(raw)
        except (ValueError, RecursionError):
            return drop  # decode errors silently dropped (main.py:519)
        if not isinstance(obj, dict):
            return drop
        for req in required:
            if req not in obj:
                return f"data must contain ['{req}'] properties"
        for name, jtype in cols.items():
            if name not in obj:
                continue  # absent optional key: valid; P3 fills default
            v = obj[name]
            if v is None:
                continue  # present-null: valid; P3 fills the sentinel
            if jtype == "integer":
                if isinstance(v, bool) or not isinstance(v, int):
                    return f"data.{name} must be integer"
            elif jtype == "number":
                if isinstance(v, bool) or not isinstance(v, (int, float)):
                    return f"data.{name} must be number"
            elif jtype == "enum":
                if isinstance(v, bool) or not isinstance(v, (str, int)):
                    return f"data.{name} must be string or integer"
            else:  # string / permissive fallback (main.py:87-91)
                if not isinstance(v, str):
                    return f"data.{name} must be string"
        return None

    return validate_row


def _zip_finder_evictor():
    """Returns ``evict()``, which drops every ``zipimport.zipimporter``
    from the calling process's ``sys.path_importer_cache``.

    The validator UDF calls it first. Spark puts ``pyspark.zip`` and
    the spark-core jar on each worker's PYTHONPATH, and pyspark's
    worker calls ``importlib.invalidate_caches()`` at the start of
    every task. On Python < 3.12 that makes every cached zip finder (one per package
    directory imported from a zip) eagerly re-read its whole archive
    directory: 1 328 entries for ``pyspark.zip``, 5 359 for the jar,
    about half of a reused worker's CPU per task (SCALE.md, "Python
    worker zip rescans"). Evicting the finders is plain cache eviction:
    ``PathFinder`` rebuilds one through ``sys.path_hooks`` the next time
    an import needs that path, and imported modules keep their loaders.

    Nested so cloudpickle ships it by value (see _make_validator)."""

    def evict() -> None:
        import sys
        import zipimport

        cache = sys.path_importer_cache
        for path in [
            p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)
        ]:
            del cache[path]

    return evict


def _schema_fingerprint(schema: TableSchema) -> tuple:
    """Value-identity key for per-schema plan caches: two TableSchema
    objects with the same columns/required produce identical plan
    fragments, and a drift-refetched schema with different content gets
    a different key (so invalidate_schema naturally misses the cache)."""
    return (
        tuple(
            (c.name, c.ch_type, c.spark_type.simpleString(),
             c.default, c.json_type, c.is_datetime, c.is_string_enum)
            for c in schema.columns
        ),
        tuple(schema.required),
    )


def tag_errors(
    raw_df: DataFrame, schema: TableSchema, value_col: str = "value"
) -> DataFrame:
    """P1+P2 tagging stage: adds an ``_err`` column (NULL = valid, the
    drop marker, or the validation error) from ONE Arrow-batched pandas
    UDF. Callers that consume both splits more than once should persist
    this frame so the UDF runs once per batch.

    The UDF per schema fingerprint is a "validator_udf" session
    substrate. The streaming shell calls tag_errors once per TRIGGER;
    without it every micro-batch re-pickles the validator closure and
    registers a fresh JVM UDF — pure driver-side fixed cost at high
    trigger rates (the parity_1p regime of ``git show
    6969692:THROUGHPUT_r08.json``). The registry's
    applicationId scoping means a restarted session can't see stale
    JVM refs.

    The UDF evicts its worker's zip finders before validating, so the
    next task's ``importlib.invalidate_caches()`` re-reads no zip
    archive (see _zip_finder_evictor)."""
    _validate = substrate(
        raw_df.sparkSession, "validator_udf", _schema_fingerprint(schema),
        lambda: _validator_udf(schema),
    )
    return raw_df.withColumn("_err", _validate(F.col(value_col)))


def _validator_udf(schema: TableSchema):
    """The Arrow-batched validator UDF for ``schema`` (tag_errors'
    substrate build). Its Python function closes over plain data and
    by-value helpers only, so executors import nothing from this
    package."""
    validate_row = _make_validator(
        {c.name: c.json_type for c in schema.columns},
        list(schema.required),
        _DROP,
    )
    evict = _zip_finder_evictor()

    @F.pandas_udf(StringType())
    def _validate(vals: pd.Series) -> pd.Series:
        evict()
        return vals.map(validate_row)

    return _validate


def dlq_condition():
    """The tagged-frame predicate selecting DLQ rows (valid = NULL
    ``_err``; drops carry the marker; everything else is an error)."""
    return F.col("_err").isNotNull() & (F.col("_err") != _DROP)


def split_tagged(
    tagged: DataFrame, value_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """Split a tagged frame into (valid_raw, dlq)."""
    valid = tagged.filter(F.col("_err").isNull()).drop("_err")
    dlq = tagged.filter(dlq_condition()).select(
        F.col(value_col).alias("row"), F.col("_err").alias("error")
    )
    return valid, dlq


# exactly the strings Spark's ANSI string→integral cast accepts:
# optional [\x00-\x20] padding (UTF8String.trimAll), optional sign,
# ASCII digits. try_cast on a NON-matching string raises-and-swallows
# a JVM exception PER ROW (~10 us) — measured 3x the column's cost on
# an all-miss enum column (e.g. 'valid'/'invalid' → smallint code with
# the 127 sentinel, the reference's own telemetry shape). The guard
# short-circuits those rows to NULL without entering the cast; rows
# that match still go through try_cast for the range check. Verified
# equal to the unguarded form on signs/padding/control chars/unicode
# digits/overflow (tests/test_pipeline.py::test_integral_guard_matches_plain_try_cast).
#
# Applied ONLY to enum-class columns: their JSON contract is "string
# name or integer code", so all-name inputs (100% cast misses) are a
# DESIGNED steady state. Plain integer columns can only miss on
# tokens the validator already DLQ'd (wrong JSON class never reaches
# P3), so misses there are rare and the guard's rlike would be a ~10%
# pure tax on the succeed path (measured; SCALE.md, "Micro-batch
# trigger anatomy (round 9)").
_INTEGRAL_TOKEN = r"^[\x00-\x20]*[+-]?[0-9]+[\x00-\x20]*$"
_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def _cast_expr(meta: ColumnMeta, col):
    """P3 for one column (main.py:260-302), as a Column expression over
    ``col``, the column's raw STRING token."""
    t = meta.spark_type
    if meta.is_datetime:
        # ''→default; unparseable→null→default (main.py:267-273)
        parsed = F.try_to_timestamp(F.nullif(col, F.lit("")))
        if isinstance(t, DateType):
            parsed = parsed.cast(DateType())
        expr = F.coalesce(parsed, F.lit(meta.default).cast(t))
    elif meta.is_string_enum:
        # null → "DEFAULT" (main.py:275-281)
        expr = F.coalesce(col.cast(StringType()), F.lit("DEFAULT"))
    elif meta.json_type == "enum" and t.simpleString() in _INTEGRAL_TYPES:
        # fail-soft cast with the exception-free miss path
        expr = F.coalesce(
            F.when(col.rlike(_INTEGRAL_TOKEN), col.try_cast(t)),
            F.lit(meta.default).cast(t),
        )
    else:
        # fail-soft cast, null → sentinel (main.py:283-294)
        expr = F.coalesce(col.try_cast(t), F.lit(meta.default).cast(t))
    return expr.alias(meta.name)


def receiving_transform(spark, schema: TableSchema, value_col: str) -> tuple:
    """Cached (parse Column, cast Columns) for :func:`typed_valid`. The
    cast Columns read their input through ``_parsed.<name>`` field refs
    so the struct is expanded and cast in one projection.

    A "plan_frag" session substrate per (fingerprint, value_col):
    Column objects are unresolved expression trees — reusable across
    DataFrames — but building them crosses py4j dozens of times; the
    streaming shell would otherwise pay that per trigger."""

    def build() -> tuple:
        parse = F.from_json(F.col(value_col), receiving_schema(schema))
        casts = [
            _cast_expr(c, F.col("_parsed").getField(c.name))
            for c in schema.columns
        ]
        return parse, casts

    return substrate(
        spark, "plan_frag", (_schema_fingerprint(schema), value_col), build
    )


def typed_valid(
    tagged: DataFrame, schema: TableSchema, value_col: str = "value"
) -> DataFrame:
    """P3 over a tagged frame: its valid rows cast to exactly the sink
    schema. Three Dataset ops — filter → parse → cast-expand — because
    each op is an EAGER analysis pass and the streaming shell pays this
    per trigger."""
    parse, casts = receiving_transform(tagged.sparkSession, schema, value_col)
    return (
        tagged.filter(F.col("_err").isNull())
        .select(parse.alias("_parsed"))
        .select(*casts)
    )


def process_batch(
    raw_df: DataFrame, schema: TableSchema, value_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """The batch-mode pipeline API (reference `process_packets`,
    main.py:394-466, minus the sink/retry shell — see streaming/job.py):
    raw messages → (typed valid frame, DLQ frame). The DLQ frame carries
    ``row`` (original message text) + ``error``, the Spark shape of the
    reference's ``{'row': …, 'error': …}`` records (main.py:227);
    empty/whitespace/malformed messages appear in neither
    (main.py:516-520)."""
    tagged = tag_errors(raw_df, schema, value_col)
    _, dlq = split_tagged(tagged, value_col)
    return typed_valid(tagged, schema, value_col), dlq
