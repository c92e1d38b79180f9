"""The CDC transform pipeline (SURVEY §2 A3-A8), batch & streaming.

This is the Spark-first rebuild of the reference's Firehose Lambda
(``/root/reference/resources/firehose_transformation.py:5-39``): every
step is a pure function returning JVM-side column expressions — no
Python row loop, no UDF — and the pipeline composes them into one
parse, then one filter and one select per output, so one code path
serves both ``spark.read`` (batch backfill) and ``spark.readStream``
(live CDC), and whole-stage codegen keeps the hot path compiled.

The parse sits behind an optimizer barrier (``_parse_and_route``): the
envelope comes out of a one-element ``explode``, a Generate node, which
filter pushdown does not cross. Parsed into a plain Project instead,
Catalyst inlines ``env`` into the pushed-down ok/error predicate, and
each output's plan evaluates ``from_json`` four times per row (the full
schema twice, plus ``eventName`` and ``dynamodb`` once each); behind
the barrier every output's physical plan holds exactly one.

Observable contract preserved from the reference:

* INSERT/MODIFY take ``NewImage``, REMOVE takes ``OldImage``
  (``firehose_transformation.py:6-10``) — ``select_image``.
* every attribute is flattened to its stringified inner value, type tag
  dropped (``:12-14``) — ``flatten_image``.
* ``Event`` (the op) and ``ingestion_timestamp`` (processing time) are
  appended (``:18-19``) — ``enrich``.

Deliberate divergences (SURVEY §2A quirks, decided not copied):

* an unknown ``eventName`` crashed the Lambda (unbound ``item_json``,
  ``:6-10``); here it is routed to the error output (A8) like Firehose's
  ``errorOutputPrefix`` path
  (``dynamodb-streaming-datalake-stack.ts:221``).
* ``ingestion_timestamp`` ties are broken by a monotonic per-batch
  ``seq`` column so latest-state dedup (B6) is deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dynamodb_streaming_datalake_spark.model import (
    KNOWN_EVENTS,
    cdc_envelope_schema,
)

# ---------------------------------------------------------------------------
# A3 — decode / deserialize
# ---------------------------------------------------------------------------


def parse_envelope(json_col: str = "json") -> Column:
    """``json.loads`` equivalent (``:34``): typed ``from_json`` against
    the declared envelope schema — schema-on-read, no inference pass."""
    return F.from_json(F.col(json_col), cdc_envelope_schema())


# ---------------------------------------------------------------------------
# A4 — CDC image dispatch (conditional projection)
# ---------------------------------------------------------------------------


def select_image(env_col: str = "env") -> Column:
    """INSERT/MODIFY -> NewImage; REMOVE -> OldImage
    (``firehose_transformation.py:6-10``). Unknown events yield a null
    image and are split off by ``route_errors``."""
    e = F.col(f"{env_col}.eventName")
    return (
        F.when(e.isin("INSERT", "MODIFY"), F.col(f"{env_col}.dynamodb.NewImage"))
        .when(e == "REMOVE", F.col(f"{env_col}.dynamodb.OldImage"))
        .otherwise(F.lit(None).cast("map<string,map<string,string>>"))
    )


# ---------------------------------------------------------------------------
# A5 — attribute-map flatten
# ---------------------------------------------------------------------------


def _untag(value: Column) -> Column:
    return F.element_at(F.map_values(value), 1)


def flatten_image(image: Column) -> Column:
    """``{attr: {typeTag: val}} -> {attr: val}`` dropping the type tag —
    the reference's per-record dict loop (``:12-14``) as one
    higher-order-function expression (JVM-side, codegen'd)."""
    return F.transform_values(image, lambda _k, v: _untag(v))


def project_attributes(image: Column, attributes: tuple[str, ...]) -> list[Column]:
    """Pivot declared attributes into string columns (the lake's
    queryable shape; attributes absent in a record become null) — each
    is ``flatten_image``'s value for its key, untagged straight off the
    image without building the whole flattened map."""
    return [_untag(image.getItem(a)).alias(a) for a in attributes]


# ---------------------------------------------------------------------------
# A6 — derived-column addition
# ---------------------------------------------------------------------------


def enrich(env_col: str = "env", ingestion_ts: Column | None = None) -> dict[str, Column]:
    """``Event`` + ``ingestion_timestamp``
    (``firehose_transformation.py:18-19``), plus the change's own
    ``event_time``. Pass a literal/derived ``ingestion_ts`` for
    deterministic tests; default is processing time exactly like the
    reference's ``datetime.now()``."""
    ts = ingestion_ts if ingestion_ts is not None else F.current_timestamp()
    created = F.col(f"{env_col}.dynamodb.ApproximateCreationDateTime")
    return {
        "Event": F.col(f"{env_col}.eventName").alias("Event"),
        "ingestion_timestamp": ts.cast("string").alias("ingestion_timestamp"),
        "event_time": F.timestamp_seconds(created).alias("event_time"),
    }


def add_hour_partitions(df: DataFrame, ts_col: str = "ingestion_timestamp") -> DataFrame:
    """Derive the hourly lake partition columns — the Firehose prefix
    ``yyyy/MM/dd/HH`` (``dynamodb-streaming-datalake-stack.ts:222``) as
    first-class partition columns so Catalyst prunes them (B3)."""
    t = F.col(ts_col).cast("timestamp")
    return df.withColumns(
        {"y": F.year(t), "m": F.month(t), "d": F.dayofmonth(t), "h": F.hour(t)}
    )


# ---------------------------------------------------------------------------
# A8 — per-record status routing
# ---------------------------------------------------------------------------


def route_errors(image: Column, env_col: str = "env") -> tuple[Column, Column]:
    """(is-ok predicate, error ``result`` label). Errors = unparseable
    JSON, unknown eventName (the reference would crash: NameError on
    unbound ``item_json``), or a missing image. Mirrors Firehose's
    ``result=<type>`` error prefix routing
    (``dynamodb-streaming-datalake-stack.ts:221``)."""
    is_parsed = F.col(env_col).isNotNull() & F.col(f"{env_col}.eventName").isNotNull()
    is_known = F.col(f"{env_col}.eventName").isin(*KNOWN_EVENTS)
    result = (
        F.when(~is_parsed, F.lit("MalformedRecord"))
        .when(~is_known, F.lit("UnknownEvent"))
        .otherwise(F.lit("MissingImage"))
    )
    return is_parsed & is_known & image.isNotNull(), result


# ---------------------------------------------------------------------------
# composed pipeline
# ---------------------------------------------------------------------------


def _parse_and_route(raw: DataFrame, json_col: str) -> tuple[DataFrame, Column, DataFrame]:
    """(ok rows still to be projected, their image, error rows). The
    envelope is parsed once into ``env`` next to ``raw``'s own columns,
    which a caller's ``ingestion_ts`` may read. ``explode`` of a
    one-element array yields exactly one row per input row; it is there
    as the Generate node that keeps the routing predicates from being
    pushed below the parse and re-parsing (see the module docstring).
    This is the only parse site: ``scripts/preflight.sh quick`` fails on
    a ``parse_envelope(`` call anywhere else."""
    env = raw.select("*", F.explode(F.array(parse_envelope(json_col))).alias("env"))
    image = select_image()
    is_ok, result = route_errors(image)
    err = env.where(~is_ok).select(
        F.col(json_col).alias("raw"),
        F.col("env.eventID").alias("eventID"),
        F.col("env.eventName").alias("eventName"),
        result.alias("result"),
    )
    return env.where(is_ok), image, err


def cdc_transform(
    raw: DataFrame,
    json_col: str = "json",
    attributes: tuple[str, ...] | None = None,
    ingestion_ts: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full A3-A8 pipeline: raw JSON lines -> (lake rows, error rows).

    Works identically on batch and streaming DataFrames. ``attributes``
    pivots the attrs map into declared columns; None keeps the generic
    ``attrs`` map (schemaless mode, like the reference lake).
    """
    ok, image, err = _parse_and_route(raw, json_col)
    d = enrich(ingestion_ts=ingestion_ts)
    head = [F.col("env.eventID").alias("eventID"), d["event_time"]]
    tail = [d["Event"], d["ingestion_timestamp"]]
    if attributes:
        return ok.select(*head, *tail, *project_attributes(image, attributes)), err
    return ok.select(*head, flatten_image(image).alias("attrs"), *tail), err


# ---------------------------------------------------------------------------
# typed attribute decode (SURVEY §7 risk register)
# ---------------------------------------------------------------------------

#: AttributeValue tag -> decoder. The reference str()-coerces everything
#: (``firehose_transformation.py:12-14``) and that stringly contract is
#: what ``flatten_image`` preserves; this is the OTHER half the risk
#: register demands: a lossless typed decode for queries that need real
#: numerics/booleans/structures. ``N`` becomes decimal(38,18) (DynamoDB
#: numbers are decimal strings with up to 38 digits of precision — a
#: double would corrupt them).
_TAG_DECODERS = {
    "S": lambda v: v,
    "N": lambda v: v.cast("decimal(38,18)"),
    "BOOL": lambda v: v == F.lit("true"),
    "NULL": lambda v: F.lit(None).cast("string"),
    "B": lambda v: F.unbase64(v),
    "L": lambda v: F.from_json(v, "array<string>"),
    "M": lambda v: F.from_json(v, "map<string,string>"),
    "SS": lambda v: F.from_json(v, "array<string>"),
    "NS": lambda v: F.transform(
        F.from_json(v, "array<string>"), lambda x: x.cast("decimal(38,18)")
    ),
    "BS": lambda v: F.transform(F.from_json(v, "array<string>"), F.unbase64),
}


def project_attributes_typed(image: Column, spec: dict[str, str]) -> list[Column]:
    """Typed projection straight off the *tagged* image (not the
    stringly ``attrs``): ``spec`` maps attribute -> AttributeValue tag,
    e.g. ``{"salary": "N", "active": "BOOL", "tags": "L"}``. Each column
    gets the tag's native Spark type; a record carrying a different tag
    for the attribute yields null (tag mismatch = schema drift, visible
    instead of silently coerced).
    """
    cols = []
    for attr, tag in spec.items():
        if tag not in _TAG_DECODERS:
            raise ValueError(f"unknown AttributeValue tag {tag!r} for {attr!r}")
        cols.append(_TAG_DECODERS[tag](image.getItem(attr).getItem(tag)).alias(attr))
    return cols


def cdc_transform_typed(
    raw: DataFrame,
    spec: dict[str, str],
    json_col: str = "json",
    ingestion_ts: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """A3-A8 with the typed decode: same pipeline, but declared
    attributes land with native types instead of the reference's
    string coercion. Use for analytics zones; use ``cdc_transform`` for
    reference-faithful lake parity."""
    ok, image, err = _parse_and_route(raw, json_col)
    base = {
        "eventID": F.col("env.eventID").alias("eventID"),
        **enrich(ingestion_ts=ingestion_ts),
    }
    order = ("eventID", "event_time", "Event", "ingestion_timestamp")
    kept = [base[n] for n in order if n not in spec]
    return ok.select(*kept, *project_attributes_typed(image, spec)), err
