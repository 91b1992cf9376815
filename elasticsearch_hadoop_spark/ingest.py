"""ES ingest pipelines — processor chains compiled to Column expressions.

ES ingest nodes run a JSON-declared processor pipeline over every document
before indexing:

    PUT _ingest/pipeline/my-pipeline
    {"processors": [
        {"lowercase": {"field": "source"}},
        {"convert":   {"field": "n", "type": "double"}},
        {"date":      {"field": "raw_ts", "formats": ["yyyy-MM-dd"]}},
        {"drop":      {"if": "ctx.status == 'spam'"}}
    ]}

The reference connector (SURVEY.md §2.A A5: `es.ingest.pipeline`) only
*names* a server-side pipeline on its bulk requests; the server does the
work.  Here there is no server, so the same pipeline JSON compiles to a
``DataFrame -> DataFrame`` transform in which every processor is a
whole-stage-codegen Column expression — documents never leave the JVM, and
the pipeline composes with any downstream operator or sink.

Supported processors (each accepts the standard ``if`` conditional, a
painless-lite predicate over ``ctx.field`` references, except where noted):

- ``set`` — literal ``value`` (with ``{{field}}`` mustache templates),
  ``copy_from`` (dotted paths traverse structs/maps), ``override: false``
  honors existing non-null values
- ``rename`` / ``remove`` (no ``if``: schema edits are unconditional)
- ``convert`` — integer/long/float/double/string/boolean.  DEVIATION
  from ES: with ``ignore_failure``, a value that fails to convert lands
  NULL in the (typed) output column, whereas an ES ingest node leaves
  the document — and therefore the original value — unchanged.  A Spark
  column holds exactly one type, so "keep the original string in an int
  column" cannot be represented; write to a separate ``target_field``
  (the source column then survives intact next to the NULL target) when
  the original value must be preserved.
- ``date`` — first-match-wins ``formats`` list parsed to ``target_field``
  (default ``@timestamp``)
- ``split`` / ``join`` / ``gsub`` / ``lowercase`` / ``uppercase`` /
  ``trim`` / ``append``
- ``dissect`` — ``%{key}`` patterns become one regexp with capture groups
- ``kv`` — ``field_split``/``value_split`` to a ``map<string,string>``
- ``json`` — parse a JSON-string field to ``map<string,string>``
- ``fingerprint`` — md5/sha-1/sha-256 over ``fields`` (NUL-joined, the
  ES concatenation contract)
- ``script`` — ``ctx.target = <painless-lite expr>`` (same whitelist as
  runtime fields)
- ``uri_parts`` — scheme/domain/path/query struct via JVM ``parse_url``
- ``grok`` — ``patterns`` tried in order, first match wins (same
  ``%{SYNTAX:name:type}`` dialect and NULL-on-no-match semantics as the
  ES|QL GROK command; shares its compiler)
- ``html_strip`` — removes tags (documented subset: entities are not
  decoded)
- ``urldecode`` / ``bytes`` (``"1.5kb"`` -> 1536; malformed -> NULL) /
  ``csv`` (plain separator split, no quote-escape handling) /
  ``sort`` (array field, asc|desc)
- ``drop`` — ``if`` predicate removes the document (a filter, so it
  prunes downstream work instead of tombstoning)
- ``fail`` — matching rows raise with the configured message (the batch
  analogue of ES failing the document; unconditional fail rejected)
- ``foreach`` — elementwise inner processor over an array field via a
  higher-order ``transform`` (inner field must be ``_ingest._value``;
  supported inner kinds: lowercase/uppercase/trim/gsub/urldecode/bytes/
  convert/html_strip)
- ``pipeline`` — nested pipeline by name, inline-expanded at compile
  time from the ``pipelines={name: json}`` registry (cycles rejected)
- ``dot_expander`` — a literal dotted column ``a.b`` becomes nested
  struct field ``a.b``, merging into an existing struct via ``withField``
- ``date_index_name`` — emits the ``_index`` metadata column (prefix +
  rounded/formatted event date), composing with dynamic index routing
- ``redact`` — grok-named-capture masking (``%{IP:client}`` ->
  ``<client>``); documented subset: each ref redacts independently
- ``registered_domain`` — eTLD split with a documented built-in
  two-level-suffix subset (no public-suffix database in the sandbox)
- ``community_id`` — Community ID v1 flow hash (seed + ordered
  endpoints + proto, sha1, base64) as pure Column hex/hash math; IPv4
- ``network_direction`` — inbound/outbound/internal/external from CIDR
  membership (strings + ES named ranges like ``private``); IPv4
- ``user_agent`` — uap-core major-family subset (Edge/Opera/Chrome/
  Firefox/Safari/IE/Spider + OS/device classes) as when-chains
- ``geoip`` — caller-provided CIDR database frame
  (``compile_pipeline(..., geoip_db=frame)``); /16-prefix-bucketed
  broadcast equi-join, longest-prefix wins — never a range theta join
- ``reroute`` — ``destination`` (mustache templates allowed) lands in
  the ``_index`` metadata column, consumed by dynamic index routing;
  like ES, the remaining processors are skipped for rerouted documents
- ``circle`` — WKT ``CIRCLE (x y r)`` -> regular-polygon ring
  (array<struct<lon, lat>>, closed) within ``error_distance`` (ES's
  side-count formula); cartesian ``shape_type: shape`` only — geo_shape
  circles need geodesic vertex placement (reject, don't approximate)
- ``geo_grid`` — geotile ``z/x/y`` (closed-form Mercator unproject) or
  geohash cell ids -> the cell's envelope
  struct<min_lon, min_lat, max_lon, max_lat>; geohex rejects (needs H3)
- ``terminate`` — stops the current pipeline for matching documents:
  later processors' ``if`` gains the negated terminate condition at
  compile time (an unconditional terminate truncates the pipeline;
  schema-edit/join processors cannot follow a conditional one)

Anything else raises ``IngestError`` — no silent skips.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elasticsearch_hadoop_spark.functions import sql
from elasticsearch_hadoop_spark.runtime_fields import RuntimeFieldError, compile_script

_CTX_REF = re.compile(r"ctx\.([A-Za-z_][A-Za-z0-9_.]*)")
_MUSTACHE = re.compile(r"\{\{\s*([A-Za-z_][A-Za-z0-9_.]*)\s*\}\}")
_SCRIPT_ASSIGN = re.compile(
    r"^\s*ctx\.([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.*?)\s*;?\s*$", flags=re.S
)
_DISSECT_KEY = re.compile(r"%\{([A-Za-z_][A-Za-z0-9_]*)\}")

_CONVERT_TYPES = {
    "integer": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
}


_DATE_ROUNDING = {
    "y": "year", "M": "month", "w": "week", "d": "day",
    "h": "hour", "m": "minute", "s": "second",
}

# documented subset of the public-suffix list: common two-level TLDs the
# registered_domain processor recognizes without ES's bundled database
_TLD2 = {
    "co.uk", "org.uk", "gov.uk", "ac.uk", "me.uk",
    "com.au", "net.au", "org.au", "co.jp", "ne.jp", "or.jp",
    "co.in", "com.cn", "com.br", "com.mx", "co.nz", "co.za",
    "com.sg", "com.hk", "com.tw", "co.kr", "com.ar", "com.tr",
}


class IngestError(ValueError):
    pass


def _bytes_col(c: Column) -> Column:
    """``"1.5kb"`` -> 1536; case-insensitive b/kb/mb/gb/tb/pb units,
    optional fraction; malformed values yield NULL (shared by the
    ``bytes`` processor and its ``foreach`` elementwise form)."""
    c = F.trim(c.cast("string"))
    rx = r"^(\d+(?:\.\d+)?)\s*([kKmMgGtTpP]?[bB])$"
    num = F.regexp_extract(c, rx, 1).try_cast("double")
    unit = F.lower(F.regexp_extract(c, rx, 2))
    factor = (
        F.when(unit == "b", F.lit(1))
        .when(unit == "kb", F.lit(1024))
        .when(unit == "mb", F.lit(1024**2))
        .when(unit == "gb", F.lit(1024**3))
        .when(unit == "tb", F.lit(1024**4))
        .when(unit == "pb", F.lit(1024**5))
    )
    total = num * factor
    # a value past Long.MAX would silently SATURATE under the double ->
    # bigint cast (ES throws); NULL is this processor's failure value
    return F.when(
        total < F.lit(float(2**63)), F.floor(total).cast("bigint")
    )


def _ipv4_num(c: Column) -> Column:
    """Dotted-quad string -> uint32 as bigint (NULL on malformed input)."""
    ok = c.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    o = F.split(c, r"\.")
    octs = [F.get(o, i).cast("bigint") for i in range(4)]
    in_range = F.lit(True)
    for x in octs:
        in_range = in_range & (x <= 255)
    num = octs[0] * 16777216 + octs[1] * 65536 + octs[2] * 256 + octs[3]
    return F.when(ok & in_range, num)


def _ipv4_hex(num: Column) -> Column:
    return F.lpad(F.hex(num), 8, "0")


def _cidr_match(ipnum: Column, cidr: str) -> Column:
    """Membership of an IPv4 address (as uint32) in a CIDR block, as pure
    integer math (floor-divide both sides by the host-part size)."""
    base, _, plen = cidr.partition("/")
    prefix = int(plen) if plen else 32
    if not 0 <= prefix <= 32:
        raise IngestError(f"bad CIDR prefix in {cidr!r}")
    parts = base.split(".")
    if len(parts) != 4 or any(not p.isdigit() or int(p) > 255 for p in parts):
        raise IngestError(f"bad CIDR base address in {cidr!r}")
    net = (
        int(parts[0]) * 16777216
        + int(parts[1]) * 65536
        + int(parts[2]) * 256
        + int(parts[3])
    )
    host = 2 ** (32 - prefix)
    return F.floor(ipnum / F.lit(host)) == net // host


# ES network_direction named ranges (IPv4 members of each; the IPv6
# halves need IPv6 parsing, out of scope for the documented subset)
_NAMED_RANGES = {
    "private": ["10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16"],
    "loopback": ["127.0.0.0/8"],
    "link_local_unicast": ["169.254.0.0/16"],
    "link_local_multicast": ["224.0.0.0/24"],
    "multicast": ["224.0.0.0/4"],
    "broadcast": ["255.255.255.255/32"],
    "unspecified": ["0.0.0.0/32"],
}

_TRANSPORT_PROTO = {"icmp": 1, "igmp": 2, "tcp": 6, "udp": 17, "gre": 47, "sctp": 132}


def _user_agent(df: DataFrame, cfg: dict, cond) -> DataFrame:
    """ES user_agent processor — a documented subset of the public
    uap-core regex set (ES bundles the full regexes.yaml): the major
    browser families in uap priority order (Edge before Chrome before
    Safari, since Chrome UAs contain "Safari" and Edge UAs contain
    both), OS families, and device classes.  One when-chain per output
    field, all codegen."""
    field = cfg["field"]
    ua = F.col(field)
    # regexp_extract returns '' (never null) on no-match — nullif makes
    # the IE rv: fallback in the coalesce below actually reachable
    ver = lambda rx: F.nullif(F.regexp_extract(ua, rx, 1), F.lit(""))  # noqa: E731
    name = (
        F.when(ua.rlike(r"(?i)(bot|crawler|spider|slurp)"), F.lit("Spider"))
        .when(ua.rlike(r"Edge?[A-Za-z]*/\d"), F.lit("Edge"))
        .when(ua.rlike(r"OPR/\d"), F.lit("Opera"))
        .when(ua.rlike(r"Chrome/\d"), F.lit("Chrome"))
        .when(ua.rlike(r"Firefox/\d"), F.lit("Firefox"))
        .when(ua.rlike(r"Version/[\d.]+.*Safari"), F.lit("Safari"))
        .when(ua.rlike(r"MSIE |Trident/"), F.lit("IE"))
        .otherwise(F.lit("Other"))
    )
    version = (
        F.when(name == "Edge", ver(r"Edge?[A-Za-z]*/([\d.]+)"))
        .when(name == "Opera", ver(r"OPR/([\d.]+)"))
        .when(name == "Chrome", ver(r"Chrome/([\d.]+)"))
        .when(name == "Firefox", ver(r"Firefox/([\d.]+)"))
        .when(name == "Safari", ver(r"Version/([\d.]+)"))
        .when(name == "IE", F.coalesce(ver(r"MSIE ([\d.]+)"), ver(r"rv:([\d.]+)")))
    )

    os_name = (
        F.when(ua.rlike(r"Windows NT"), F.lit("Windows"))
        .when(ua.rlike(r"iPhone OS|iPad|iOS"), F.lit("iOS"))
        .when(ua.rlike(r"Mac OS X"), F.lit("Mac OS X"))
        .when(ua.rlike(r"Android"), F.lit("Android"))
        .when(ua.rlike(r"Linux"), F.lit("Linux"))
        .otherwise(F.lit("Other"))
    )
    device = (
        F.when(name == "Spider", F.lit("Spider"))
        .when(ua.rlike(r"iPhone"), F.lit("iPhone"))
        .when(ua.rlike(r"iPad"), F.lit("iPad"))
        .when(ua.rlike(r"Android.*Mobile"), F.lit("Generic Smartphone"))
        .when(ua.rlike(r"Macintosh"), F.lit("Mac"))
        .otherwise(F.lit("Other"))
    )
    out = F.struct(
        name.alias("name"),
        version.alias("version"),
        os_name.alias("os"),
        device.alias("device"),
    )
    tgt = cfg.get("target_field", "user_agent")
    return _guarded(df, tgt, F.when(ua.isNotNull(), out), cond)


def _geoip(df: DataFrame, cfg: dict, geoip_db: DataFrame | None) -> DataFrame:
    """ES geoip processor.  ES bundles a GeoLite database; here the
    caller provides it as a DataFrame (``compile_pipeline(...,
    geoip_db=frame)``) with a ``network`` CIDR column plus any attribute
    columns (country_iso_code, city_name, ...).

    Scale shape: the database parses once to (start, end, prefix) int
    ranges, explodes each range to its covering /16 prefixes (a /8 block
    covers 256, typical /16+ blocks cover 1), and BROADCASTS; documents
    equi-join on their address's /16 prefix — never a full range theta
    join — then longest-prefix wins per row via one max_by aggregation.
    IPv4 subset."""
    if geoip_db is None:
        raise IngestError(
            "geoip needs a database frame — pass compile_pipeline(..., "
            "geoip_db=frame) with a 'network' CIDR column"
        )
    if "network" not in geoip_db.columns:
        raise IngestError("geoip_db needs a 'network' CIDR column")
    field = cfg["field"]
    tgt = cfg.get("target_field", "geoip")
    attrs = [c for c in geoip_db.columns if c != "network"]
    props = cfg.get("properties")
    if props:
        missing = [p for p in props if p not in attrs]
        if missing:
            raise IngestError(f"geoip_db has no columns {missing!r}")
        attrs = [c for c in attrs if c in props]
    base = F.split(F.col("network"), "/")
    prefix = F.get(base, 1).cast("int")
    addr = _ipv4_num(F.get(base, 0))
    host = F.pow(F.lit(2.0), 32 - prefix).cast("bigint")
    start = (addr - addr % host).alias("__start")
    db = (
        geoip_db.select(
            start,
            (addr - addr % host + host - 1).alias("__end"),
            prefix.alias("__prefix"),
            *attrs,
        )
        .withColumn(
            "__p16",
            F.explode(
                F.sequence(
                    (F.col("__start") / 65536).cast("bigint"),
                    (F.col("__end") / 65536).cast("bigint"),
                )
            ),
        )
    )
    ip = _ipv4_num(F.col(field))
    src = df.withColumn("__ip", ip).withColumn(
        "__p16", (F.col("__ip") / 65536).cast("bigint")
    )
    rid = F.monotonically_increasing_id().alias("__rid")
    src = src.select(rid, "*")
    joined = src.join(
        F.broadcast(db),
        (src["__p16"] == db["__p16"])
        & (src["__ip"] >= db["__start"])
        & (src["__ip"] <= db["__end"]),
        "left",
    )
    doc_cols = [c for c in df.columns]
    # db-qualified refs: an attribute sharing a doc column's name would
    # otherwise be AMBIGUOUS_REFERENCE after the join
    hit = F.struct(*[db[c].alias(c) for c in attrs])
    agg = joined.groupBy("__rid").agg(
        *[F.first(src[c]).alias(c) for c in doc_cols],
        F.max_by(hit, F.col("__prefix")).alias("__geo"),
        F.max(F.col("__prefix")).alias("__matched"),
    )
    return agg.select(
        *doc_cols,
        F.when(F.col("__matched").isNotNull(), F.col("__geo")).alias(tgt),
    )


# inner processors `foreach` can apply elementwise (each compiles to a
# Column->Column fn usable inside F.transform); the inner processor's
# `field` must be the ES element sentinel `_ingest._value`
_FOREACH_INNER = {
    "lowercase", "uppercase", "trim", "gsub", "urldecode", "bytes",
    "convert", "html_strip",
}


def _element_fn(kind: str, cfg: dict):
    if kind not in _FOREACH_INNER:
        raise IngestError(
            f"foreach: unsupported inner processor {kind!r} "
            f"(supported: {sorted(_FOREACH_INNER)})"
        )
    inner_field = cfg.get("field", "_ingest._value")
    if inner_field != "_ingest._value":
        raise IngestError(
            "foreach inner processor must address the element as "
            f"_ingest._value, got {inner_field!r}"
        )
    # NOTE: every fn below must be strictly single-arg — F.transform
    # dispatches on callable ARITY, so a bare F.trim (which takes an
    # optional trim-string second arg) would be called as (element, index)
    if kind == "lowercase":
        return lambda c: F.lower(c)
    if kind == "uppercase":
        return lambda c: F.upper(c)
    if kind == "trim":
        return lambda c: F.trim(c)
    if kind == "gsub":
        pat, rep = cfg["pattern"], cfg["replacement"]
        return lambda c: F.regexp_replace(c, pat, rep)
    if kind == "urldecode":
        return lambda c: F.url_decode(c)
    if kind == "bytes":
        return lambda c: _bytes_col(c)
    if kind == "html_strip":
        return lambda c: F.regexp_replace(c, r"<[^>]*>", "")
    # convert
    t = _CONVERT_TYPES.get(cfg.get("type"))
    if t is None:
        raise IngestError(f"convert: unsupported type {cfg.get('type')!r}")
    if cfg.get("ignore_failure"):
        return lambda c: c.try_cast(t)
    return lambda c: c.cast(t)


def _ctx_to_doc(expr: str) -> str:
    """Rewrite ingest-script ``ctx.field`` refs to the runtime-field
    ``doc['field'].value`` form so one painless-lite compiler serves both."""
    return _CTX_REF.sub(lambda m: f"doc['{m.group(1)}'].value", expr)


def compile_condition(cond: str) -> Column:
    """An ingest-processor ``if`` predicate -> boolean Column."""
    try:
        return compile_script(f"emit({_ctx_to_doc(cond)})")
    except RuntimeFieldError as e:
        raise IngestError(f"unsupported if condition {cond!r}: {e}") from e


def _path_col(path: str) -> Column:
    """Dotted path -> Column, traversing struct fields / map keys."""
    parts = path.split(".")
    col = F.col(parts[0])
    for p in parts[1:]:
        col = col.getItem(p)
    return col


def _template_value(value) -> Column:
    """A ``set`` value: ``{{field}}`` mustache templates interpolate
    column values (ES's template snippets); plain scalars stay literal."""
    if not isinstance(value, str) or not _MUSTACHE.search(value):
        return F.lit(value)
    pieces: list[Column] = []
    pos = 0
    for m in _MUSTACHE.finditer(value):
        if m.start() > pos:
            pieces.append(F.lit(value[pos : m.start()]))
        pieces.append(_path_col(m.group(1)).cast("string"))
        pos = m.end()
    if pos < len(value):
        pieces.append(F.lit(value[pos:]))
    return F.concat(*pieces)


def _date_attempts(field: str, formats: list) -> Column:
    """The first of ``formats`` that parses ``field`` (the ``date`` and
    ``date_index_name`` processors).  Every attempt is NON-THROWING: under
    ANSI a strict parse on attempt 1 would crash the job instead of
    falling through to the next format, and an epoch or a year outside
    1-9999 gives NULL instead of failing the whole pipeline."""
    col = sql.ident(field)
    text = f"CAST({col} AS STRING)"
    attempts = []
    for fmt in formats:
        if fmt == "ISO8601":
            attempts.append(sql.iso_timestamp(text))
        elif fmt == "UNIX":
            attempts.append(sql.timestamp_seconds(f"try_cast({col} AS DOUBLE)"))
        elif fmt == "UNIX_MS":
            attempts.append(sql.timestamp_millis(f"try_cast({col} AS BIGINT)"))
        else:
            attempts.append(f"try_to_timestamp({text}, {sql.string(fmt)})")
    return F.expr(f"coalesce({', '.join(attempts)})")


def _guarded(df: DataFrame, field: str, new: Column, cond: str | None) -> DataFrame:
    """Apply a column edit, honoring the processor's ``if`` (rows failing
    the predicate keep their old value — or null for a brand-new field)."""
    if cond is None:
        return df.withColumn(field, new)
    c = compile_condition(cond)
    old = F.col(field) if field in df.columns else F.lit(None)
    return df.withColumn(field, F.when(c, new).otherwise(old))


def _dissect_regex(pattern: str) -> tuple[str, list[str]]:
    """``%{a}-%{b}`` -> anchored regex with one capture group per key; the
    literal separators between keys are regex-escaped."""
    keys = _DISSECT_KEY.findall(pattern)
    if not keys:
        raise IngestError(f"dissect pattern has no %{{key}} captures: {pattern!r}")
    if len(set(keys)) != len(keys):
        raise IngestError(f"duplicate dissect keys in {pattern!r}")
    parts = _DISSECT_KEY.split(pattern)
    # parts = [lit0, key1, lit1, key2, lit2, ...]
    rx = "^" + re.escape(parts[0])
    for i, lit in zip(range(1, len(parts), 2), parts[2::2]):
        # non-greedy unless this is the trailing key with no separator after
        rx += "(.*)" if lit == "" and i == len(parts) - 2 else "(.*?)"
        rx += re.escape(lit)
    return rx + "$", keys


def _apply_one(
    df: DataFrame,
    kind: str,
    cfg: dict,
    enrich_policies: dict | None = None,
    geoip_db: DataFrame | None = None,
) -> DataFrame:
    cond = cfg.get("if")
    field = cfg.get("field")
    target = cfg.get("target_field", field)

    if kind == "attachment":
        # ES attachment processor (ingest-attachment plugin): base64 file
        # content -> extracted {content, content_type, content_length}
        # under target_field (default "attachment").  ES runs Apache Tika;
        # no document-parsing library ships in this engine, so the HONEST
        # subset is: text payloads extract for real (decode + truncate at
        # indexed_chars), while recognizable binary formats get their
        # content_type sniffed from magic bytes (%PDF -> application/pdf,
        # PK\x03\x04 -> application/zip) with a NULL content — never a
        # garbage extraction.  Binary detection = magic match, a NUL, or
        # an invalid-UTF-8 replacement char after decode.  All Column
        # math; `properties` picks the emitted subset like ES, and
        # remove_binary drops the base64 source field.
        tgt = cfg.get("target_field", "attachment")
        props = cfg.get("properties", ["content", "content_type", "content_length"])
        limit = int(cfg.get("indexed_chars", 100000))
        s = F.unbase64(_path_col(field).cast("string")).cast("string")
        is_pdf = s.startswith("%PDF")
        is_zip = s.startswith("PK\x03\x04")
        is_binary = is_pdf | is_zip | s.contains("\x00") | s.contains("�")
        content = F.when(~is_binary, F.substring(s, 1, limit) if limit >= 0 else s)
        available = {
            "content": content.alias("content"),
            "content_type": (
                F.when(is_pdf, "application/pdf")
                .when(is_zip, "application/zip")
                .when(~is_binary, "text/plain")
                .otherwise("application/octet-stream")
                .alias("content_type")
            ),
            "content_length": F.length(content).cast("long").alias("content_length"),
        }
        out = F.when(
            _path_col(field).isNotNull(),
            F.struct(*[available[p] for p in props]),
        )
        df = _guarded(df, tgt, out, cond)
        if cfg.get("remove_binary"):
            # _precheck rejected per-row `if` and dotted fields for this
            # combination, so the schema-level drop is safe here
            df = df.drop(field)
        return df

    if kind == "geoip":
        return _geoip(df, cfg, geoip_db)

    if kind == "user_agent":
        return _user_agent(df, cfg, cond)

    if kind == "enrich":
        # ES enrich processor: look the document's match value up in an
        # enrich POLICY's source frame and attach the matched doc(s)
        # under target_field.  The policy frame is the small side (ES
        # materializes it as a system .enrich-* index) — broadcast it;
        # max_matches=1 dedupes deterministically (min struct per key),
        # >1 attaches a sorted, sliced array exactly like ES's
        # max_matches list.
        frame = (enrich_policies or {}).get(cfg["policy_name"])
        if frame is None:
            raise IngestError(
                f"enrich: unknown policy {cfg['policy_name']!r} — pass it in "
                "compile_pipeline(..., enrich_policies={name: frame})"
            )
        match_field = cfg.get("match_field", field)
        max_matches = int(cfg.get("max_matches", 1))
        doc = F.struct(*[F.col(c) for c in frame.columns])
        key = F.col(match_field).alias("__enrich_key")
        if max_matches == 1:
            lookup = frame.groupBy(key).agg(F.min(doc).alias(str(target)))
        else:
            lookup = frame.groupBy(key).agg(
                F.slice(F.array_sort(F.collect_list(doc)), 1, max_matches).alias(
                    str(target)
                )
            )
        # ES overwrites an existing target field — a same-named doc
        # column must go, or the join emits duplicate column names
        if str(target) in df.columns and str(target) != field:
            df = df.drop(str(target))
        joined = df.join(
            F.broadcast(lookup),
            df[field] == lookup["__enrich_key"],
            "left",
        ).drop("__enrich_key")
        return joined

    if kind == "set":
        tgt = cfg["field"]
        if "copy_from" in cfg:
            new = _path_col(cfg["copy_from"])
        elif "value" in cfg:
            new = _template_value(cfg["value"])
        else:
            raise IngestError("set needs value or copy_from")
        if not cfg.get("override", True) and tgt in df.columns:
            new = F.coalesce(F.col(tgt), new)
        return _guarded(df, tgt, new, cond)

    if kind == "rename":
        if cond is not None:
            raise IngestError("rename is a schema edit; per-row if unsupported")
        if field not in df.columns:
            raise IngestError(f"rename: no column {field!r}")
        return df.withColumnRenamed(field, cfg["target_field"])

    if kind == "remove":
        if cond is not None:
            raise IngestError("remove is a schema edit; per-row if unsupported")
        fields = field if isinstance(field, list) else [field]
        return df.drop(*fields)

    if kind == "convert":
        t = _CONVERT_TYPES.get(cfg.get("type"))
        if t is None:
            raise IngestError(f"convert: unsupported type {cfg.get('type')!r}")
        # ES: a failed conversion fails the DOCUMENT; a strict cast here
        # would fail the whole Spark job on one malformed value (ANSI).
        # ES's per-processor ignore_failure maps to try_cast: the bad
        # value lands null and the batch proceeds — without it the ANSI
        # error surfaces the offending value, the batch-engine analogue
        # of an unhandled per-doc failure.
        new = (
            F.col(field).try_cast(t)
            if cfg.get("ignore_failure")
            else F.col(field).cast(t)
        )
        return _guarded(df, target, new, cond)

    if kind == "date":
        formats = cfg.get("formats") or ["ISO8601"]
        tgt = cfg.get("target_field", "@timestamp")
        return _guarded(df, tgt, _date_attempts(field, formats), cond)

    if kind == "split":
        return _guarded(df, target, F.split(F.col(field), cfg["separator"]), cond)

    if kind == "join":
        return _guarded(
            df, target, F.array_join(F.col(field), cfg["separator"]), cond
        )

    if kind == "gsub":
        new = F.regexp_replace(F.col(field), cfg["pattern"], cfg["replacement"])
        return _guarded(df, target, new, cond)

    if kind in ("lowercase", "uppercase", "trim"):
        fn = {"lowercase": F.lower, "uppercase": F.upper, "trim": F.trim}[kind]
        return _guarded(df, target, fn(F.col(field)), cond)

    if kind == "append":
        base = (
            F.col(field)
            if field in df.columns
            else F.lit(None).cast(T.ArrayType(T.StringType()))
        )
        addition = F.array(_template_value(cfg["value"]))
        new = F.when(base.isNull(), addition).otherwise(F.concat(base, addition))
        return _guarded(df, field, new, cond)

    if kind == "dissect":
        rx, keys = _dissect_regex(cfg["pattern"])
        out = df
        # a non-matching value extracts NULL for every key, never "" —
        # regexp_extract's empty-string sentinel would both misreport
        # text fields and crash a downstream ANSI cast (ES fails the doc
        # instead; null + the caller's error handling is the engine's
        # documented batch-friendly analogue)
        matched = F.coalesce(F.col(field).rlike(rx), F.lit(False))
        for i, k in enumerate(keys, start=1):
            out = _guarded(
                out, k, F.when(matched, F.regexp_extract(F.col(field), rx, i)), cond
            )
        return out

    if kind == "kv":
        new = F.str_to_map(
            F.col(field), F.lit(cfg["field_split"]), F.lit(cfg["value_split"])
        )
        return _guarded(df, target, new, cond)

    if kind == "json":
        new = F.from_json(F.col(field), "map<string,string>")
        return _guarded(df, target, new, cond)

    if kind == "fingerprint":
        fields = cfg["fields"]
        tgt = cfg.get("target_field", "fingerprint")
        # ES joins field values with NUL separators before hashing
        joined = F.concat_ws("\x00", *[F.col(f).cast("string") for f in fields])
        method = cfg.get("method", "SHA-1").lower()
        if method == "md5":
            new = F.md5(joined)
        elif method in ("sha-1", "sha1"):
            new = F.sha1(joined)
        elif method in ("sha-256", "sha256"):
            new = F.sha2(joined, 256)
        else:
            raise IngestError(f"fingerprint: unsupported method {cfg['method']!r}")
        return _guarded(df, tgt, new, cond)

    if kind == "script":
        src = cfg.get("source") or (cfg.get("script") or {}).get("source", "")
        m = _SCRIPT_ASSIGN.match(str(src))
        if not m:
            raise IngestError(
                f"script must be a single 'ctx.field = expr': {src!r}"
            )
        tgt, expr = m.group(1), m.group(2)
        try:
            new = compile_script(f"emit({_ctx_to_doc(expr)})")
        except RuntimeFieldError as e:
            raise IngestError(f"unsupported script {src!r}: {e}") from e
        return _guarded(df, tgt, new, cond)

    if kind == "uri_parts":
        tgt = cfg.get("target_field", "url")
        u = F.col(field)
        new = F.struct(
            F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)).alias(
                "scheme"
            ),
            F.parse_url(u, F.lit("HOST")).alias("domain"),
            F.parse_url(u, F.lit("PATH")).alias("path"),
            F.parse_url(u, F.lit("QUERY")).alias("query"),
        )
        return _guarded(df, tgt, new, cond)

    if kind == "grok":
        # ES grok processor: patterns tried in order, FIRST matching
        # pattern sets its keys (keys of later patterns stay NULL for
        # that row); non-matching rows leave every key NULL.  Reuses the
        # ES|QL GROK compiler (same %{SYNTAX:name:type} dialect, same
        # NULL-on-no-match / try_cast-on-bad-value semantics).
        from elasticsearch_hadoop_spark.esql import _grok_regex

        pats = cfg.get("patterns") or ([cfg["pattern"]] if cfg.get("pattern") else [])
        if not pats:
            raise IngestError("grok needs a patterns list")
        compiled = [_grok_regex(str(p)) for p in pats]
        src = F.col(field)
        matched = [F.coalesce(src.rlike(rx), F.lit(False)) for rx, _ in compiled]
        all_keys: list[str] = []
        for _, keys in compiled:
            for k, _t in keys:
                if k not in all_keys:
                    all_keys.append(k)
        out = df
        for k in all_keys:
            expr = F.lit(None).cast("string")
            for (rx, keys), m in reversed(list(zip(compiled, matched))):
                names = [kk for kk, _t in keys]
                if k in names:
                    col = F.regexp_extract(src, rx, names.index(k) + 1)
                    cast_t = dict(keys).get(k)
                    if cast_t:
                        col = col.try_cast(cast_t)
                else:
                    col = F.lit(None)
                expr = F.when(m, col).otherwise(expr)
            out = out.withColumn(k, expr)
        return out

    if kind == "html_strip":
        # documented subset of Lucene's HTMLStripCharFilter: removes tags;
        # HTML entities are not decoded
        new = F.regexp_replace(F.col(field), r"<[^>]*>", "")
        return _guarded(df, target, new, cond)

    if kind == "urldecode":
        return _guarded(df, target, F.url_decode(F.col(field)), cond)

    if kind == "bytes":
        return _guarded(df, target, _bytes_col(F.col(field)), cond)

    if kind == "csv":
        # documented subset: plain separator split (no quote-escape
        # handling); missing trailing columns land NULL, like ES's
        # ignore_missing-style leniency
        tgts = cfg.get("target_fields") or []
        if not tgts:
            raise IngestError("csv needs target_fields")
        sep = str(cfg.get("separator", ","))
        parts = F.split(F.col(field), re.escape(sep))
        out = df
        for i, t in enumerate(tgts):
            piece = F.get(parts, i)
            if cfg.get("trim"):
                piece = F.trim(piece)
            out = _guarded(out, t, piece, cond)
        return out

    if kind == "sort":
        order = str(cfg.get("order", "asc")).lower()
        if order not in ("asc", "desc"):
            raise IngestError(f"sort order must be asc|desc: {order!r}")
        new = F.sort_array(F.col(field), asc=(order == "asc"))
        return _guarded(df, target, new, cond)

    if kind == "drop":
        if cond is None:
            raise IngestError("drop without an if would delete every document")
        return df.filter(~compile_condition(cond))

    if kind == "fail":
        # ES fail: abort the document with a message.  Batch analogue of
        # an unhandled per-doc failure (same stance as ANSI convert): the
        # first matching row raises, surfacing the message and the batch
        # stops.  Unconditional fail is rejected at compile time.
        msg = str(cfg.get("message", "fail processor triggered"))
        trap = F.raise_error(F.lit(f"ingest fail: {msg}")).cast("boolean")
        gate = F.when(compile_condition(cond), trap).otherwise(F.lit(True))
        return df.filter(gate)

    if kind == "foreach":
        # inner processor applied to every element of an array field via
        # a higher-order transform — stays in codegen, no explode/groupBy
        # round trip.  The inner processor addresses the element as
        # `_ingest._value`, the ES contract.
        (ikind, icfg), = cfg["processor"].items()
        fn = _element_fn(ikind, icfg)
        return _guarded(df, target, F.transform(F.col(field), fn), cond)

    if kind == "dot_expander":
        # a literal dotted column name "a.b" becomes nested struct field
        # a.b (merging into an existing struct `a` via withField)
        parts = field.split(".")
        if len(parts) < 2:
            raise IngestError(f"dot_expander: field {field!r} has no dot")
        root = parts[0]
        flat = F.col("`" + field + "`")
        if root in df.columns:
            if not isinstance(df.schema[root].dataType, T.StructType):
                raise IngestError(
                    f"dot_expander: column {root!r} exists and is not a struct"
                )
            new = F.col(root).withField(".".join(parts[1:]), flat)
        else:
            new = flat
            for p in reversed(parts[1:]):
                new = F.struct(new.alias(p))
        return df.withColumn(root, new).drop(flat)

    if kind == "reroute":
        # ES reroute: send the document to another index/data stream —
        # here the `_index` metadata column (mustache templates allowed),
        # which the sink's dynamic-routing contract consumes
        dest = cfg.get("destination")
        if not dest:
            raise IngestError("reroute needs destination")
        return _guarded(df, "_index", _template_value(str(dest)), cond)

    if kind == "date_index_name":
        # computes the `_index` metadata column (composes with the sink's
        # dynamic-routing `_index` contract): prefix + the event date
        # rounded to date_rounding, rendered with index_name_format
        trunc = _DATE_ROUNDING.get(cfg.get("date_rounding"))
        if trunc is None:
            raise IngestError(
                f"date_index_name: date_rounding must be one of "
                f"{sorted(_DATE_ROUNDING)}, got {cfg.get('date_rounding')!r}"
            )
        ts = _date_attempts(field, cfg.get("date_formats") or ["ISO8601"])
        rendered = F.date_format(
            F.date_trunc(trunc, ts), cfg.get("index_name_format", "yyyy-MM-dd")
        )
        new = F.concat(F.lit(cfg.get("index_name_prefix", "")), rendered)
        return _guarded(df, "_index", new, cond)

    if kind == "redact":
        # grok-named-capture masking: every %{SYNTAX:name} occurrence is
        # replaced with <name> (prefix/suffix configurable).  Documented
        # subset: each ref redacts independently by its SYNTAX regex;
        # literal text between refs does not constrain the match.
        from elasticsearch_hadoop_spark.esql import _GROK_PATTERNS, _GROK_REF

        pre = str(cfg.get("prefix", "<"))
        suf = str(cfg.get("suffix", ">"))
        c = F.col(field)
        refs = [m for p in cfg["patterns"] for m in _GROK_REF.finditer(str(p))]
        if not refs:
            raise IngestError("redact patterns carry no %{SYNTAX:name} refs")
        for m in refs:
            base = _GROK_PATTERNS.get(m.group(1))
            if base is None:
                raise IngestError(f"redact: unsupported grok pattern %{{{m.group(1)}}}")
            c = F.regexp_replace(c, base, pre + m.group(2) + suf)
        return _guarded(df, target, c, cond)

    if kind == "registered_domain":
        # eTLD split with a documented built-in two-level-suffix subset
        # (the full public-suffix list needs ES's bundled database); a
        # host whose last two labels are in _TLD2 keeps both as the TLD
        labels = F.split(F.col(field), r"\.")
        n = F.size(labels)
        last2 = F.concat_ws(".", F.slice(labels, -2, 2))
        tldn = F.when((n >= 3) & last2.isin(*sorted(_TLD2)), F.lit(2)).otherwise(
            F.lit(1)
        )
        tld = F.concat_ws(".", F.slice(labels, tldn * -1, tldn))
        regn = tldn + F.lit(1)
        registered = F.when(
            n >= regn, F.concat_ws(".", F.slice(labels, regn * -1, regn))
        )
        subdomain = F.when(n > regn, F.concat_ws(".", F.slice(labels, 1, n - regn)))
        parts_struct = F.struct(
            F.col(field).alias("domain"),
            registered.alias("registered_domain"),
            tld.alias("top_level_domain"),
            subdomain.alias("subdomain"),
        )
        tgt = cfg.get("target_field")
        if tgt:
            return _guarded(df, tgt, parts_struct, cond)
        out = df
        for sub in ("domain", "registered_domain", "top_level_domain", "subdomain"):
            out = _guarded(out, sub, parts_struct.getField(sub), cond)
        return out

    if kind == "community_id":
        # Community ID v1 (the public Corelight spec ES implements):
        # sha1 over seed(2B BE) . min_endpoint_ip . max_endpoint_ip .
        # proto(1B) . 0x00 . min_endpoint_port(2B BE) . max_endpoint_port,
        # endpoints ordered by (ip, port); "1:" + base64(raw digest).
        # Entirely Column math: dotted-quad -> hex, unhex -> sha1 ->
        # base64 — no Python in the row path.  IPv4 subset (IPv6 needs a
        # 16-byte parser; documented out of scope).
        seed = int(cfg.get("seed", 0))
        src_ip = _path_col(cfg.get("source_ip", "source.ip"))
        dst_ip = _path_col(cfg.get("destination_ip", "destination.ip"))
        sport = _path_col(cfg.get("source_port", "source.port")).cast("bigint")
        dport = _path_col(cfg.get("destination_port", "destination.port")).cast(
            "bigint"
        )
        if "iana_number" in cfg:
            proto_num = _path_col(cfg["iana_number"]).cast("bigint")
        else:
            transport = F.lower(
                _path_col(cfg.get("transport", "network.transport"))
            )
            proto_num = F.lit(None).cast("bigint")
            for name, num in _TRANSPORT_PROTO.items():
                proto_num = F.when(transport == name, F.lit(num)).otherwise(
                    proto_num
                )
        s_num, d_num = _ipv4_num(src_ip), _ipv4_num(dst_ip)
        ordered = (s_num < d_num) | ((s_num == d_num) & (sport <= dport))
        ip1 = F.when(ordered, s_num).otherwise(d_num)
        ip2 = F.when(ordered, d_num).otherwise(s_num)
        p1 = F.when(ordered, sport).otherwise(dport)
        p2 = F.when(ordered, dport).otherwise(sport)
        msg_hex = F.concat(
            F.lit(f"{seed:04x}"),
            _ipv4_hex(ip1),
            _ipv4_hex(ip2),
            F.lpad(F.hex(proto_num), 2, "0"),
            F.lit("00"),
            F.lpad(F.hex(p1), 4, "0"),
            F.lpad(F.hex(p2), 4, "0"),
        )
        digest = F.sha1(F.to_binary(msg_hex, F.lit("hex")))
        cid = F.concat(F.lit("1:"), F.base64(F.to_binary(digest, F.lit("hex"))))
        valid = (
            s_num.isNotNull()
            & d_num.isNotNull()
            & proto_num.isNotNull()
            & sport.isNotNull()
            & dport.isNotNull()
        )
        tgt = cfg.get("target_field", "community_id")
        return _guarded(df, tgt, F.when(valid, cid), cond)

    if kind == "network_direction":
        # inbound/outbound/internal/external from CIDR membership of the
        # two endpoints in internal_networks (CIDR strings and ES named
        # ranges); membership is integer floor-div math per block
        nets: list[str] = []
        for item in cfg.get("internal_networks") or []:
            nets.extend(_NAMED_RANGES.get(item, [item]))
        if not nets:
            raise IngestError("network_direction needs internal_networks")
        s_num = _ipv4_num(_path_col(cfg.get("source_ip", "source.ip")))
        d_num = _ipv4_num(_path_col(cfg.get("destination_ip", "destination.ip")))

        def _internal(ipnum: Column) -> Column:
            m = F.lit(False)
            for n in nets:
                m = m | _cidr_match(ipnum, n)
            return F.coalesce(m, F.lit(False))

        si, di = _internal(s_num), _internal(d_num)
        direction = (
            F.when(si & di, F.lit("internal"))
            .when(si, F.lit("outbound"))
            .when(di, F.lit("inbound"))
            .otherwise(F.lit("external"))
        )
        valid = s_num.isNotNull() & d_num.isNotNull()
        tgt = cfg.get("target_field", "direction")
        return _guarded(df, tgt, F.when(valid, direction), cond)

    if kind == "circle":
        # ES circle processor: approximate a circle as a regular polygon
        # whose maximum deviation from the true circle stays within
        # error_distance.  ES's side count: ceil(2π / acos(1 − err/r)),
        # clamped to [4, 1000] (CircleUtils†).  Input is the WKT form
        # ``CIRCLE (x y r)`` in a string field; output is the engine's
        # polygon field layout — array<struct<lon, lat>>, ring closed —
        # so the result feeds geo_shape field_type=polygon directly.
        # Only shape_type=shape (cartesian) is offered: ES's geo_shape
        # circles use geodesic vertex placement this planar math cannot
        # reproduce exactly — reject, don't approximate.  (shape_type and
        # error_distance validate in _precheck — compile_pipeline's
        # declaration-time gate, the only public path here.)
        err = float(cfg["error_distance"])
        c = _path_col(field).cast("string")
        num = r"([+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)"
        wkt = rf"^\s*CIRCLE\s*\(\s*{num}\s+{num}\s+{num}\s*\)\s*$"
        cx = F.regexp_extract(c, wkt, 1).try_cast("double")
        cy = F.regexp_extract(c, wkt, 2).try_cast("double")
        r = F.regexp_extract(c, wkt, 3).try_cast("double")
        n = F.least(
            F.lit(1000),
            F.greatest(
                F.lit(4),
                F.ceil(
                    F.lit(2.0 * math.pi)
                    / F.acos(F.greatest(F.lit(-1.0), F.lit(1.0) - F.lit(err) / r))
                ),
            ),
        ).cast("int")
        # bind (cx, cy, r, n) ONCE per row before the vertex loop: each
        # is a regexp_extract expression, and a lambda body re-evaluates
        # every reference PER ELEMENT — without the bind, a 25-vertex
        # ring costs ~100 regex executions per row (measured 4x slower)
        params = F.struct(
            cx.alias("cx"), cy.alias("cy"), r.alias("r"), n.alias("n")
        )

        def ring_of(q):
            step = F.lit(2.0 * math.pi) / q["n"].cast("double")
            open_ring = F.transform(
                F.sequence(F.lit(0), q["n"] - 1),
                lambda i: F.struct(
                    (q["cx"] + q["r"] * F.cos(i.cast("double") * step)).alias("lon"),
                    (q["cy"] + q["r"] * F.sin(i.cast("double") * step)).alias("lat"),
                ),
            )
            # close the ring by REPEATING the first vertex (cos(2π) !=
            # cos(0) in IEEE, so computing the closing vertex would not
            # be equal)
            ring = F.concat(open_ring, F.slice(open_ring, 1, 1))
            valid = q["cx"].isNotNull() & q["cy"].isNotNull() & (q["r"] > 0)
            return F.when(valid, ring)

        out = F.element_at(F.transform(F.array(params), ring_of), 1)
        return _guarded(df, target, out, cond)

    if kind == "geo_grid":
        # ES geo_grid processor: a grid-cell id -> the cell's geometry.
        # Output is the engine's envelope field layout
        # struct<min_lon, min_lat, max_lon, max_lat> (a grid cell IS a
        # box; feeds geo_shape field_type=envelope).  geotile ids are
        # "z/x/y" slippy-map cells (closed-form Mercator unproject);
        # geohash ids decode by running the aggs-DSL encoder's
        # bit-interleave backwards, one 5-bit char at a time with a
        # carried bit-parity flag (x,y stay < 2^31 — no giant shifts).
        # geohex needs the H3 library — reject.
        tile_type = str(cfg.get("tile_type", "")).lower()
        c = _path_col(field).cast("string")
        if tile_type == "geotile":
            part = F.split(c, "/")
            z = F.get(part, 0).try_cast("int")
            tx = F.get(part, 1).try_cast("double")
            ty = F.get(part, 2).try_cast("double")
            ncells = F.pow(F.lit(2.0), z.cast("double"))

            def merc_lat(yy):
                return F.degrees(
                    F.atan(F.sinh(F.lit(math.pi) * (1.0 - 2.0 * yy / ncells)))
                )

            env = F.struct(
                (tx / ncells * 360.0 - 180.0).alias("min_lon"),
                merc_lat(ty + 1.0).alias("min_lat"),
                ((tx + 1.0) / ncells * 360.0 - 180.0).alias("max_lon"),
                merc_lat(ty).alias("max_lat"),
            )
            # x/y must be INTEGERS inside [0, 2^z - 1] — ES's
            # GeoTileUtils.parseHash rejects out-of-range and fractional
            # coordinates; here the processor's invalid-input convention
            # is a null envelope, never a garbage longitude like 270
            valid = (
                z.isNotNull() & tx.isNotNull() & ty.isNotNull()
                & z.between(0, 29) & (F.size(part) == 3)
                & (tx == F.floor(tx)) & (ty == F.floor(ty))
                & (tx >= 0) & (tx < ncells) & (ty >= 0) & (ty < ncells)
            )
            return _guarded(df, target, F.when(valid, env), cond)
        if tile_type == "geohash":
            from elasticsearch_hadoop_spark.aggs_dsl import GEOHASH_BASE32

            # per-char 5-bit values via array_position on the SAME
            # alphabet literal the encoder uses (aggs_dsl geohash_grid);
            # position 0 = not found -> null (invalid hash)
            alphabet = F.lit(list(GEOHASH_BASE32))
            vals = F.transform(
                F.split(c, ""),
                lambda ch: F.when(
                    F.array_position(alphabet, ch) > 0,
                    F.array_position(alphabet, ch) - 1,
                ).cast("int"),
            )
            zero = F.struct(
                F.lit(0).cast("long").alias("x"),
                F.lit(0).cast("long").alias("y"),
                F.lit(True).alias("even"),
                F.lit(True).alias("ok"),
            )

            def _step(acc, v):
                bits = [
                    F.shiftright(v, 4 - k).bitwiseAND(F.lit(1)).cast("long")
                    for k in range(5)
                ]
                x_even = acc["x"] * 8 + bits[0] * 4 + bits[2] * 2 + bits[4]
                y_even = acc["y"] * 4 + bits[1] * 2 + bits[3]
                x_odd = acc["x"] * 4 + bits[1] * 2 + bits[3]
                y_odd = acc["y"] * 8 + bits[0] * 4 + bits[2] * 2 + bits[4]
                return F.struct(
                    F.when(acc["even"], x_even).otherwise(x_odd).alias("x"),
                    F.when(acc["even"], y_even).otherwise(y_odd).alias("y"),
                    (~acc["even"]).alias("even"),
                    (acc["ok"] & v.isNotNull()).alias("ok"),
                )

            dec = F.aggregate(vals, zero, _step)
            p = F.length(c)
            lon_bits = ((5 * p + 1) / 2).cast("int")
            lat_bits = ((5 * p) / 2).cast("int")
            lon_cells = F.pow(F.lit(2.0), lon_bits.cast("double"))
            lat_cells = F.pow(F.lit(2.0), lat_bits.cast("double"))
            env = F.struct(
                (dec["x"] / lon_cells * 360.0 - 180.0).alias("min_lon"),
                (dec["y"] / lat_cells * 180.0 - 90.0).alias("min_lat"),
                ((dec["x"] + 1.0) / lon_cells * 360.0 - 180.0).alias("max_lon"),
                ((dec["y"] + 1.0) / lat_cells * 180.0 - 90.0).alias("max_lat"),
            )
            valid = dec["ok"] & p.between(1, 12)
            return _guarded(df, target, F.when(valid, env), cond)
        raise IngestError(
            f"geo_grid: unsupported tile_type {cfg.get('tile_type')!r} "
            "(geotile and geohash decode in closed form; geohex needs H3)"
        )

    raise IngestError(f"unsupported processor {kind!r}")


_SUPPORTED = {
    "set", "rename", "remove", "convert", "date", "split", "join", "gsub",
    "lowercase", "uppercase", "trim", "append", "dissect", "kv", "json",
    "fingerprint", "script", "uri_parts", "drop", "enrich",
    "grok", "html_strip", "urldecode", "bytes", "csv", "sort",
    "fail", "foreach", "dot_expander", "date_index_name", "redact",
    "registered_domain", "community_id", "network_direction",
    "user_agent", "geoip", "reroute", "circle", "geo_grid", "attachment",
}

# processors that honor a per-row `if` — the set a conditional terminate
# may gate; schema edits and join-shaped processors cannot follow one
_GUARDABLE = {
    "set", "convert", "date", "split", "join", "gsub", "lowercase",
    "uppercase", "trim", "append", "dissect", "kv", "json", "fingerprint",
    "script", "uri_parts", "html_strip", "urldecode", "bytes", "csv",
    "sort", "drop", "fail", "foreach", "date_index_name", "redact",
    "registered_domain", "community_id", "network_direction", "user_agent",
    "reroute", "circle", "geo_grid", "attachment",
}


def _precheck(kind: str, cfg: dict) -> None:
    """Compile-time validation so a bad pipeline fails at declaration, not
    mid-job on the first micro-batch."""
    if kind not in _SUPPORTED:
        raise IngestError(f"unsupported processor {kind!r}")
    if "if" in cfg:
        if kind in ("rename", "remove"):
            raise IngestError(f"{kind} is a schema edit; per-row if unsupported")
        compile_condition(cfg["if"])
    if kind == "drop" and "if" not in cfg:
        raise IngestError("drop without an if would delete every document")
    if kind == "attachment":
        if "field" not in cfg:
            raise IngestError("attachment needs field")
        if cfg.get("remove_binary"):
            # dropping the source column is a SCHEMA edit — the same
            # hazard the remove processor rejects under a per-row if
            # (rows the condition skips would lose their payload too)
            if "if" in cfg:
                raise IngestError(
                    "attachment: remove_binary is a schema edit; per-row if "
                    "unsupported — split into attachment + a separate remove"
                )
            if "." in cfg["field"]:
                raise IngestError(
                    "attachment: remove_binary supports top-level fields only"
                )
        bad = [
            p
            for p in cfg.get("properties", [])
            if p not in ("content", "content_type", "content_length")
        ]
        if bad:
            raise IngestError(
                f"attachment: unsupported properties {bad} (no Tika runtime — "
                "content/content_type/content_length only)"
            )
    if kind == "set" and "value" not in cfg and "copy_from" not in cfg:
        raise IngestError("set needs value or copy_from")
    if kind == "convert" and cfg.get("type") not in _CONVERT_TYPES:
        raise IngestError(f"convert: unsupported type {cfg.get('type')!r}")
    if kind == "fingerprint" and cfg.get("method", "SHA-1").lower() not in (
        "md5", "sha-1", "sha1", "sha-256", "sha256"
    ):
        raise IngestError(f"fingerprint: unsupported method {cfg['method']!r}")
    if kind == "dissect":
        _dissect_regex(cfg.get("pattern", ""))
    if kind == "script":
        src = cfg.get("source") or (cfg.get("script") or {}).get("source", "")
        m = _SCRIPT_ASSIGN.match(str(src))
        if not m:
            raise IngestError(f"script must be a single 'ctx.field = expr': {src!r}")
        try:
            compile_script(f"emit({_ctx_to_doc(m.group(2))})")
        except RuntimeFieldError as e:
            raise IngestError(f"unsupported script {src!r}: {e}") from e
    if kind == "enrich":
        for req in ("policy_name", "field", "target_field"):
            if req not in cfg:
                raise IngestError(f"enrich needs {req}")
        if "if" in cfg:
            raise IngestError("enrich: per-row if unsupported (it is a join)")
    if kind == "circle":
        if str(cfg.get("shape_type", "shape")).lower() != "shape":
            raise IngestError(
                "circle: only shape_type=shape (cartesian) is exact here; "
                "geo_shape circles need geodesic vertex placement"
            )
        if float(cfg.get("error_distance", 0) or 0) <= 0:
            raise IngestError("circle needs a positive error_distance")
    if kind == "geo_grid" and str(cfg.get("tile_type", "")).lower() not in (
        "geotile", "geohash"
    ):
        raise IngestError(
            f"geo_grid: unsupported tile_type {cfg.get('tile_type')!r} "
            "(geotile and geohash decode in closed form; geohex needs H3)"
        )
    if kind == "grok":
        from elasticsearch_hadoop_spark.esql import EsqlError, _grok_regex

        pats = cfg.get("patterns") or ([cfg["pattern"]] if cfg.get("pattern") else [])
        if not pats:
            raise IngestError("grok needs a patterns list")
        try:
            for p in pats:
                _grok_regex(str(p))
        except EsqlError as e:
            raise IngestError(f"grok: {e}") from e
        if "if" in cfg:
            raise IngestError("grok: per-row if unsupported (multi-column)")
    if kind == "csv" and not cfg.get("target_fields"):
        raise IngestError("csv needs target_fields")
    if kind == "sort" and str(cfg.get("order", "asc")).lower() not in ("asc", "desc"):
        raise IngestError(f"sort order must be asc|desc: {cfg.get('order')!r}")
    if kind == "fail" and "if" not in cfg:
        raise IngestError("fail without an if would fail every document")
    if kind == "reroute" and not cfg.get("destination"):
        raise IngestError("reroute needs destination")
    if kind == "foreach":
        proc = cfg.get("processor")
        if not isinstance(proc, dict) or len(proc) != 1:
            raise IngestError("foreach needs a single-key processor object")
        (ikind, icfg), = proc.items()
        _element_fn(ikind, icfg)
    if kind == "dot_expander" and "." not in str(cfg.get("field", "")):
        raise IngestError(f"dot_expander: field {cfg.get('field')!r} has no dot")
    if kind == "date_index_name" and cfg.get("date_rounding") not in _DATE_ROUNDING:
        raise IngestError(
            f"date_index_name: date_rounding must be one of "
            f"{sorted(_DATE_ROUNDING)}, got {cfg.get('date_rounding')!r}"
        )
    if kind == "community_id":
        if "transport" not in cfg and "iana_number" not in cfg:
            # defaults resolve at runtime against network.transport; only
            # a malformed explicit config is a compile error
            pass
        if "seed" in cfg and not 0 <= int(cfg["seed"]) <= 0xFFFF:
            raise IngestError("community_id seed must fit 16 bits")
    if kind == "network_direction":
        nets = []
        for item in cfg.get("internal_networks") or []:
            nets.extend(_NAMED_RANGES.get(item, [item]))
        if not nets:
            raise IngestError("network_direction needs internal_networks")
        for n in nets:
            _cidr_match(F.lit(0), n)
    if kind == "geoip" and "if" in cfg:
        raise IngestError("geoip: per-row if unsupported (it is a join)")
    if kind == "redact":
        from elasticsearch_hadoop_spark.esql import _GROK_PATTERNS, _GROK_REF

        pats = cfg.get("patterns")
        if not pats:
            raise IngestError("redact needs a patterns list")
        refs = [m for p in pats for m in _GROK_REF.finditer(str(p))]
        if not refs:
            raise IngestError("redact patterns carry no %{SYNTAX:name} refs")
        for m in refs:
            if m.group(1) not in _GROK_PATTERNS:
                raise IngestError(
                    f"redact: unsupported grok pattern %{{{m.group(1)}}}"
                )


def compile_pipeline(
    pipeline: dict | list,
    enrich_policies: dict | None = None,
    pipelines: dict | None = None,
    geoip_db: DataFrame | None = None,
):
    """Pipeline JSON (or a bare processor list) -> ``DataFrame -> DataFrame``.

    Processors apply in declaration order; later processors see earlier
    processors' fields, exactly the ES contract.  ``enrich_policies``
    maps policy name -> lookup DataFrame for ``enrich`` processors (the
    analogue of ES's materialized .enrich-* system indices).
    ``pipelines`` maps pipeline name -> pipeline JSON for the nested
    ``pipeline`` processor, which expands inline at compile time (cycles
    rejected)."""
    steps: list[tuple[str, dict]] = []

    def expand(
        p, active: tuple[str, ...], inherited_terms: tuple[str, ...] = ()
    ) -> tuple[list[str], bool]:
        processors = p.get("processors", []) if isinstance(p, dict) else p
        if not isinstance(processors, list) or not processors:
            raise IngestError("pipeline needs a non-empty processors list")
        # ES terminate: stops the CURRENT pipeline for matching documents
        # (a nested pipeline's terminate does not cancel its caller's
        # remaining processors; the caller's conditions DO gate the
        # child's, hence inherited_terms).  Compile-time rewrite: later
        # processors' `if` gains `(terminate_cond) == false`.
        # reroute is STRONGER: it skips the rest of the calling
        # pipelines too, so its conditions PROPAGATE back to the caller
        # via the return value ((conds, absolute) — absolute means an
        # unconditional reroute ended everything downstream).
        term_conds: list[str] = list(inherited_terms)
        propagated: list[str] = []
        for proc in processors:
            if not isinstance(proc, dict) or len(proc) != 1:
                raise IngestError(
                    f"each processor must be a single-key object: {proc!r}"
                )
            (kind, cfg), = proc.items()
            if not isinstance(cfg, dict):
                raise IngestError(f"processor {kind!r} config must be an object")
            if kind == "terminate":
                c = cfg.get("if")
                if c is None:
                    # unconditional: nothing after this runs in THIS
                    # scope (the caller's remaining processors still run
                    # — ES terminate is pipeline-local, unlike reroute)
                    return propagated, False
                compile_condition(c)
                term_conds.append(f"({c})")
                continue
            if kind == "pipeline":
                name = cfg.get("name")
                if "if" in cfg:
                    raise IngestError(
                        "pipeline: per-row if unsupported (inline expansion)"
                    )
                sub = (pipelines or {}).get(name)
                if sub is None:
                    raise IngestError(
                        f"pipeline: unknown pipeline {name!r} — pass "
                        "pipelines={name: pipeline_json}"
                    )
                if name in active:
                    raise IngestError(
                        f"pipeline: cycle through {name!r}: "
                        f"{' -> '.join(active + (name,))}"
                    )
                child_props, child_abs = expand(
                    sub, active + (name,), tuple(term_conds)
                )
                if child_abs:
                    return propagated, True
                term_conds.extend(child_props)
                propagated.extend(child_props)
                continue
            orig_if = cfg.get("if")
            if term_conds:
                if kind not in _GUARDABLE:
                    raise IngestError(
                        f"{kind} cannot follow a conditional terminate "
                        "(no per-row if support)"
                    )
                guard = f"(({' || '.join(term_conds)}) == false)"
                cfg = dict(cfg)
                cfg["if"] = (
                    f"(({cfg['if']}) && {guard})" if "if" in cfg else guard
                )
            _precheck(kind, cfg)
            if kind == "geoip":
                if geoip_db is None:
                    raise IngestError(
                        "geoip needs a database frame — pass "
                        "compile_pipeline(..., geoip_db=frame)"
                    )
                if "network" not in geoip_db.columns:
                    raise IngestError("geoip_db needs a 'network' CIDR column")
                bad = [
                    p for p in (cfg.get("properties") or [])
                    if p not in geoip_db.columns or p == "network"
                ]
                if bad:
                    raise IngestError(f"geoip_db has no columns {bad!r}")
            if (
                kind == "enrich"
                and (enrich_policies or {}).get(cfg["policy_name"]) is None
            ):
                raise IngestError(
                    f"enrich: unknown policy {cfg['policy_name']!r} — pass "
                    "enrich_policies={name: frame}"
                )
            steps.append((kind, cfg))
            if kind == "reroute":
                # ES reroute SKIPS the remaining processors for the
                # rerouted documents — in the CALLING pipelines too —
                # so the condition propagates up through the return
                if orig_if is None:
                    return propagated, True
                term_conds.append(f"({orig_if})")
                propagated.append(f"({orig_if})")
        return propagated, False

    expand(pipeline, ())

    def run(df: DataFrame) -> DataFrame:
        out = df
        for kind, cfg in steps:
            out = _apply_one(out, kind, cfg, enrich_policies, geoip_db)
        return out

    return run


def simulate(spark, pipeline: dict | list, docs: list[dict]) -> DataFrame:
    """``_ingest/pipeline/_simulate``: run the pipeline over inline docs."""
    df = spark.createDataFrame(docs)  # type: ignore[arg-type]
    return compile_pipeline(pipeline)(df)
