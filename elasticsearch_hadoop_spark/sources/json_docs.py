"""JSON-document ingestion with the ES->Spark type mapping (SURVEY.md §1.2,
§7 step 2): the engine's equivalent of the reference's mapping-discovery +
scroll-deserialization path (A4/A8; upstream
``mr/.../serialization/dto/mapping/FieldParser``/``Mapping.java``,
``spark/sql-20/.../sql/SchemaUtils.scala`` ``convertToStruct``/``convertField``,
value coercion in ``ScrollReader.java``/``ScalaRowValueReader.scala`` — path
citations per SURVEY.md §0).

Two layers:

1. ``mapping_to_struct(mapping)`` — an Elasticsearch ``_mapping`` JSON body
   -> Spark ``StructType`` per the §1.2 table.  Array-ness is not knowable
   from an ES mapping (any field may hold scalar or array), so
   ``array_include`` mirrors ``es.read.field.as.array.include`` (with
   ``field:depth`` nesting syntax); ``map_include`` is the target-engine
   extension from §1.2 for open-keyed objects -> MapType.

2. ``read_json_docs(spark, path, mapping=...)`` — NDJSON files -> typed
   DataFrame.  Error handling mirrors ``es.read.data.error.handlers``:
   ``errors="fail"`` (FAILFAST), ``"skip"`` (DROPMALFORMED), ``"log"``
   (PERMISSIVE + ``_corrupt_record`` column retained).  A malformed line
   is one that is not JSON; a value of the wrong type is read leniently.

Leniency — one table for ``read_json_docs``, ``es_datasource.read_docs``
(both through ``_coerce_sql``) and the ``format("esdocs")`` reader
(``es_datasource._coerce``), matching what ES accepts:

==================  ========================================================
mapped as           wire value -> value read
==================  ========================================================
any scalar          an array: its first element (``[7, 8]`` -> 7; ``[]`` -> NULL)
array               a scalar: wrapped (``"solo"`` -> ``["solo"]``)
integral            a number or numeric string, truncated (``"12.7"`` -> 12);
                    anything else, or out of range -> NULL
float / double      a number or numeric string (``"1.5"`` -> 1.5); else NULL
boolean             ``true``/``false`` or ``"true"``/``"false"``; else NULL
keyword / text      a string; any other value as its JSON text
date                digits (other than a bare 4-digit year) -> epoch millis,
                    NULL outside years 1-9999; else ISO-8601 with a 4-digit
                    year, ``Z`` or an offset converted to UTC and none read
                    as UTC (``"2020"`` -> 2020-01-01)
binary              a base64 string; else NULL
object / map        a JSON object; else NULL
geo_point           ``{"lat", "lon"}``, ``[lon, lat]`` or ``"lat,lon"``; else NULL
==================  ========================================================

A numeric string is a decimal with an optional exponent (``"1e2"``);
Spark's double cast also takes forms such as ``"1.5d"`` that the Python
reader reads as NULL, and the JVM readers take an integral through
DECIMAL(38,18), so a 19th fraction digit can round it up.  Every field
comes off the wire as a VARIANT, so a string stays a string whatever its
text (``"[WIP] fix"`` read for an array field is ``["[WIP] fix"]``).  A
non-string value's JSON text is compact with object keys sorted on all
three readers.  A float is written as a double: the JVM's way by the JVM
readers (``1.0E20``, ``1.0E-5``) and Python's by the esdocs reader
(``1e+20``, ``1e-05``), which agree from 1e-3 to 1e7; inside an object
or array rendered as text, the JVM readers drop a float's trailing zeros
(``{"a":0}`` for ``{"a": 0.0}``).  An object value that repeats a key is
malformed to the VARIANT parser (a FAILFAST read fails, and
``read_docs`` reads an action line whose header repeats a key as a
source line), where the esdocs reader keeps the last value.  Only JSON's
whitespace (space, tab, CR, LF) makes a bulk line blank on both bulk
readers; a line of U+00A0 is malformed.

Scale: schema is fixed up-front (no per-row inference); parsing is Spark's
native JSON reader (JVM, vectorized, parallel by file split; in
``read_docs`` one bulk file is one text row, so a file must fit in one
2 GB string); every coercion is SQL text compiled once per read (whole-
stage codegen outside arrays and objects, which bind each parsed value to
a lambda variable once), never Python.
"""

from __future__ import annotations

import warnings
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from elasticsearch_hadoop_spark.functions.sql import iso_timestamp, quote, timestamp_millis
from elasticsearch_hadoop_spark.functions.sql import string as sql_string

# ES field type -> Spark type (SURVEY.md §1.2 table).  Dates handled apart.
_SCALAR = {
    "null": T.NullType(),
    "boolean": T.BooleanType(),
    "byte": T.ByteType(),
    "short": T.ShortType(),
    "integer": T.IntegerType(),
    "long": T.LongType(),
    "half_float": T.FloatType(),  # widened, §1.2
    "float": T.FloatType(),
    "scaled_float": T.DoubleType(),
    "double": T.DoubleType(),
    "keyword": T.StringType(),
    "text": T.StringType(),
    "string": T.StringType(),  # pre-5.x
    "ip": T.StringType(),
    "date": T.TimestampType(),
    "date_nanos": T.TimestampType(),
    "binary": T.BinaryType(),
}

_UNSUPPORTED = {"join", "completion", "token_count", "percolator", "rank_feature", "alias"}

GEO_POINT_STRUCT = T.StructType(
    [T.StructField("lat", T.DoubleType()), T.StructField("lon", T.DoubleType())]
)
GEO_SHAPE_STRUCT = T.StructType(
    [
        T.StructField("type", T.StringType()),
        # coordinates flattened to a double array — lossy, same as the
        # reference's geo_shape handling (§1.2 "coordinates flattened")
        T.StructField("coordinates", T.ArrayType(T.DoubleType())),
    ]
)


def parse_array_includes(spec: str | list[str] | None) -> dict[str, int]:
    """``"a,b.c:2"`` -> {"a": 1, "b.c": 2} (es.read.field.as.array.include
    syntax: optional ``:depth`` = levels of array nesting)."""
    if not spec:
        return {}
    items = spec.split(",") if isinstance(spec, str) else list(spec)
    out: dict[str, int] = {}
    for item in items:
        item = item.strip()
        if not item:
            continue
        if ":" in item:
            name, depth = item.rsplit(":", 1)
            out[name] = int(depth)
        else:
            out[item] = 1
    return out


def mapping_to_struct(
    mapping: dict[str, Any],
    array_include: str | list[str] | None = None,
    map_include: str | list[str] | None = None,
    rich_dates: bool = True,
) -> T.StructType:
    """ES ``_mapping`` JSON -> StructType (SchemaUtils.convertToStruct parity).

    Accepts the ``GET <index>/_mapping`` response at any wrapping level:
    ``{"index": {"mappings": {...}}}``, ``{"mappings": {...}}``, or the bare
    ``{"properties": {...}}``.  ``rich_dates=False`` maps dates to strings
    (``es.mapping.date.rich=false`` parity)."""
    props = _unwrap_properties(mapping)
    arrays = parse_array_includes(array_include)
    maps = parse_array_includes(map_include)
    return _props_to_struct(props, "", arrays, maps, rich_dates)


def _unwrap_properties(mapping: dict[str, Any]) -> dict[str, Any]:
    if "properties" in mapping:
        return mapping["properties"]
    if "mappings" in mapping:
        return _unwrap_properties(mapping["mappings"])
    if len(mapping) == 1:
        inner = next(iter(mapping.values()))
        if isinstance(inner, dict):
            return _unwrap_properties(inner)
    raise ValueError("not an ES mapping body: no 'properties' found")


def _props_to_struct(
    props: dict[str, Any],
    prefix: str,
    arrays: dict[str, int],
    maps: dict[str, int],
    rich_dates: bool,
) -> T.StructType:
    fields = []
    for name, spec in props.items():
        path = f"{prefix}{name}"
        dt = _field_type(spec, path, arrays, maps, rich_dates)
        if dt is None:
            continue
        depth = arrays.get(path, 0)
        if spec.get("type") == "nested":
            depth = max(depth, 1)  # nested docs are always arrays (§1.2)
        for _ in range(depth):
            dt = T.ArrayType(dt)
        # geo_point is marked on the FIELD (not the type): the wire layer
        # needs to know this struct accepts three JSON shapes (§1.2)
        meta = {"es_type": "geo_point"} if spec.get("type") == "geo_point" else None
        fields.append(T.StructField(name, dt, metadata=meta))
    return T.StructType(fields)


def _field_type(
    spec: dict[str, Any],
    path: str,
    arrays: dict[str, int],
    maps: dict[str, int],
    rich_dates: bool,
) -> T.DataType | None:
    es_type = spec.get("type")
    if es_type in (None, "object", "nested"):
        # object (implicit when only "properties" present) / nested
        sub_props = spec.get("properties", {})
        if path in maps:
            # open-keyed object -> MapType (target-engine extension, §1.2):
            # value type = common type of declared props, else string
            value_types = {
                str(_field_type(s, f"{path}.{k}", arrays, maps, rich_dates))
                for k, s in sub_props.items()
            }
            if len(value_types) == 1 and sub_props:
                vt = _field_type(
                    next(iter(sub_props.values())), path, arrays, maps, rich_dates
                )
            else:
                vt = T.StringType()
            return T.MapType(T.StringType(), vt)
        return _props_to_struct(sub_props, f"{path}.", arrays, maps, rich_dates)
    if es_type in ("date", "date_nanos") and not rich_dates:
        return T.StringType()
    if es_type in _SCALAR:
        return _SCALAR[es_type]
    if es_type == "geo_point":
        return GEO_POINT_STRUCT
    if es_type == "geo_shape":
        return GEO_SHAPE_STRUCT
    if es_type in _UNSUPPORTED:
        warnings.warn(f"skipping unsupported ES field type {es_type!r} at {path!r}")
        return None
    warnings.warn(f"unknown ES field type {es_type!r} at {path!r} -> string")
    return T.StringType()


# --------------------------------------------------------------------- wire
def _is_geo_field(f: T.StructField) -> bool:
    return (f.metadata or {}).get("es_type") == "geo_point"


def _wire_type(dt: T.StructType) -> T.StructType:
    """Schema used for the raw JSON parse: every field comes off the wire
    as a VARIANT, which keeps the token's kind (the string ``"[WIP] fix"``
    stays a string, an array stays an array), and ``_coerce_sql`` types
    it.  A typed parse would turn a numeric string, a scalar where an
    array is mapped or the reverse into NULL (or fail a FAILFAST read);
    ES accepts all of them."""
    return T.StructType([T.StructField(f.name, T.VariantType()) for f in dt.fields])


def wire_ddl(dt: T.StructType) -> str:
    """``_wire_type(dt)`` as a DDL string for ``from_json`` and ``CAST``."""
    return "struct<{}>".format(",".join(f"{quote(n)}:variant" for n in dt.fieldNames()))


# a "lat,lon" geo_point string, escaped for a SQL string literal
_NUM_PAIR = r"^-?\\d+(\\.\\d+)?\\s*,\\s*-?\\d+(\\.\\d+)?$"


def _geo_point_sql(e: str) -> str:
    """A geo_point's wire VARIANT -> struct(lat, lon), per document.

    ES accepts three wire shapes for one geo_point field —
    ``{"lat": 41.12, "lon": -71.34}``, ``[-71.34, 41.12]`` (GeoJSON order:
    LON first), and ``"41.12,-71.34"`` (lat first) — and the reference picks
    a parser by sampling one document (SURVEY.md §1.2).  Deciding per
    document from the value's kind is strictly more lenient (mixed-form
    indices parse too).  Geohash / WKT / malformed text is a NULL point,
    not struct(NULL, NULL), so ``loc IS NOT NULL`` does not count documents
    with no parsed location."""
    t = f"trim(CAST({e} AS STRING))"
    return (
        f"coalesce(try_cast({e} AS STRUCT<lat:DOUBLE,lon:DOUBLE>),"
        f" CASE WHEN size(try_cast({e} AS ARRAY<VARIANT>)) >= 2 THEN named_struct("
        f"'lat', try_variant_get({e}, '$[1]', 'double'),"
        f" 'lon', try_variant_get({e}, '$[0]', 'double')) END,"
        f" CASE WHEN {t} RLIKE '{_NUM_PAIR}' THEN named_struct("
        f"'lat', CAST(trim(split({t}, ',')[0]) AS DOUBLE),"
        f" 'lon', CAST(trim(split({t}, ',')[1]) AS DOUBLE)) END)"
    )


_INTEGRAL_SQL = {
    T.ByteType: "TINYINT", T.ShortType: "SMALLINT", T.IntegerType: "INT", T.LongType: "BIGINT",
}


def _coerce_sql(e: str, target: T.DataType, geo: bool = False, depth: int = 0) -> str:
    """SQL text that turns ``e``, a field's wire VARIANT (SQL NULL when the
    field is missing, a variant null when it is JSON null), into ``target``
    — the leniency table in the module docstring.  ``e`` must be a column,
    field or lambda-variable reference, cheap to repeat: a parsed object or
    array is bound to a lambda variable once and its parts are referenced
    through it, so the text grows linearly with the mapping's depth.
    ``es_datasource._coerce`` is the same table for one parsed Python
    value; the two must agree."""
    if geo and not isinstance(target, T.ArrayType):
        return _geo_point_sql(e)
    if isinstance(target, T.ArrayType):
        x = f"x{depth}"
        elem = _coerce_sql(x, target.elementType, geo, depth + 1)
        return (
            f"transform(coalesce(try_cast({e} AS ARRAY<VARIANT>),"
            f" CASE WHEN {e} IS NOT NULL AND NOT is_variant_null({e}) THEN array({e}) END), {x} -> {elem})"
        )
    # a multi-valued field where the mapping says scalar: the first value
    s = (
        f"(CASE WHEN try_cast({e} AS ARRAY<VARIANT>) IS NULL THEN {e}"
        f" ELSE try_element_at(try_cast({e} AS ARRAY<VARIANT>), 1) END)"
    )
    if isinstance(target, T.StructType):
        p = f"p{depth}"
        fields = ", ".join(
            f"{sql_string(f.name)}, "
            + _coerce_sql(f"{p}.{quote(f.name)}", f.dataType, _is_geo_field(f), depth + 1)
            for f in target.fields
        )
        return (
            f"transform(array(try_cast({s} AS {wire_ddl(target)})),"
            f" {p} -> CASE WHEN {p} IS NOT NULL THEN named_struct({fields}) END)[0]"
        )
    if isinstance(target, T.MapType):
        v = f"v{depth}"
        val = _coerce_sql(v, target.valueType, False, depth + 1)
        return (
            f"transform_values(try_cast({s} AS MAP<STRING,VARIANT>), (k{depth}, {v}) -> {val})"
        )
    # a scalar's text: a string's content, any other value as JSON
    t = f"CAST({s} AS STRING)"
    if isinstance(target, T.TimestampType):
        # digits other than a bare 4-digit year are epoch millis (NULL out
        # of year 1..9999); anything else starting with a 4-digit year is
        # an ISO-8601 date (an offset-less one in the session zone); the
        # year test keeps try_to_timestamp from parsing a longer year
        return (
            rf"CASE WHEN length({t}) != 4 AND {t} RLIKE '^\\s*[+-]?\\d+\\s*$'"
            f" THEN {timestamp_millis(f'try_cast({t} AS BIGINT)')} ELSE {iso_timestamp(t)} END"
        )
    if isinstance(target, T.BinaryType):
        return f"CASE WHEN schema_of_variant({s}) = 'STRING' THEN try_to_binary({t}, 'base64') END"
    if isinstance(target, T.BooleanType):
        return f"CASE {t} WHEN 'true' THEN true WHEN 'false' THEN false END"
    if type(target) in _INTEGRAL_SQL:
        # "12.7" truncates to 12, as ES's coerce does
        return f"try_cast(try_cast({t} AS DECIMAL(38,18)) AS {_INTEGRAL_SQL[type(target)]})"
    if isinstance(target, T.FloatType):
        return f"try_cast({t} AS FLOAT)"
    if isinstance(target, T.DoubleType):
        return f"try_cast({t} AS DOUBLE)"
    if isinstance(target, T.NullType):
        return "NULL"
    # a JSON number with a fraction parses as a decimal whose text drops
    # trailing zeros ("0.0" -> "0"); read it back through a double, as
    # the esdocs reader's json.loads does ("0.0", "12.5")
    return (
        f"CASE WHEN startswith(schema_of_variant({s}), 'DECIMAL')"
        f" THEN CAST(CAST({s} AS DOUBLE) AS STRING) ELSE {t} END"
    )


def coerced_columns(target: T.StructType, prefix: str = "") -> list[tuple[str, str]]:
    """(name, SQL) per field of ``target``: the field's wire VARIANT
    (``prefix`` + name) coerced to its mapped type."""
    return [
        (f.name, _coerce_sql(prefix + quote(f.name), f.dataType, _is_geo_field(f)))
        for f in target.fields
    ]


def read_json_docs(
    spark: SparkSession,
    path: str,
    mapping: dict[str, Any] | T.StructType | None = None,
    array_include: str | list[str] | None = None,
    map_include: str | list[str] | None = None,
    rich_dates: bool = True,
    errors: str = "fail",
    include_fields: list[str] | None = None,
    exclude_fields: list[str] | None = None,
) -> DataFrame:
    """Read NDJSON documents into a typed DataFrame (§1.2 ingestion parity).

    ``mapping`` is an ES ``_mapping`` JSON body (or a ready StructType); when
    omitted the schema is inferred by Spark (sampling pass — fine for ad-hoc,
    fix the mapping for production).  ``errors``: fail|skip|log
    (es.read.data.error.handlers parity)."""
    if errors not in ("fail", "skip", "log"):
        raise ValueError("errors must be fail|skip|log")
    mode = {"fail": "FAILFAST", "skip": "DROPMALFORMED", "log": "PERMISSIVE"}[errors]

    if mapping is None:
        reader = spark.read.option("mode", mode)
        if errors == "log":
            reader = reader.option("columnNameOfCorruptRecord", "_corrupt_record")
        df = reader.json(path)
    else:
        target = (
            mapping
            if isinstance(mapping, T.StructType)
            else mapping_to_struct(mapping, array_include, map_include, rich_dates)
        )
        wire = _wire_type(target)
        parse_schema = wire
        if errors == "log":
            parse_schema = T.StructType(
                list(wire.fields) + [T.StructField("_corrupt_record", T.StringType())]
            )
        reader = spark.read.schema(parse_schema).option("mode", mode)
        if errors == "log":
            reader = reader.option("columnNameOfCorruptRecord", "_corrupt_record")
        cols = [f"{e} AS {quote(n)}" for n, e in coerced_columns(target)]
        if errors == "log":
            cols.append("_corrupt_record")
        df = reader.json(path).selectExpr(*cols)

    if include_fields:
        keep = [c for c in include_fields if c in df.columns]
        if errors == "log" and "_corrupt_record" in df.columns:
            keep.append("_corrupt_record")
        df = df.select(*keep)
    elif exclude_fields:
        df = df.drop(*[c for c in exclude_fields if c in df.columns])
    return df
