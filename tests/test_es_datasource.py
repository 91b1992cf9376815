"""esdocs Python Data Source: round-trip (write→read equality — the
reference's itest pattern, SURVEY.md §5), filter/projection pushdown, the
query-DSL option, bulk op types, and the metadata column."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from elasticsearch_hadoop_spark.sources.es_datasource import (
    EsDocsDataSource,
    match_doc,
)

MAPPING = json.dumps(
    {
        "properties": {
            "doc_id": {"type": "long"},
            "name": {"type": "keyword"},
            "score": {"type": "double"},
            "born": {"type": "date"},
            "tags": {"type": "keyword"},
            "meta": {"properties": {"src": {"type": "keyword"}}},
        }
    }
)

DOCS = [
    {"_id": 1, "doc_id": 1, "name": "alpha", "score": 1.5,
     "born": "2020-01-01 10:00:00", "tags": ["x", "y"], "meta": {"src": "a"}},
    {"_id": 2, "doc_id": 2, "name": "beta", "score": 2.5,
     "born": 1577872800000, "tags": "solo", "meta": {"src": "b"}},
    {"_id": 3, "doc_id": 3, "name": "gamma", "score": None,
     "born": None, "tags": [], "meta": None},
]


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(EsDocsDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark


@pytest.fixture()
def docs_dir(tmp_path):
    p = tmp_path / "idx"
    p.mkdir()
    with open(p / "shard0.ndjson", "w") as fh:
        for d in DOCS:
            fh.write(json.dumps(d) + "\n")
    return str(p)


def _read(spark, path, **opts):
    r = (
        spark.read.format("esdocs")
        .option("path", path)
        .option("mapping", MAPPING)
        .option("field.as.array.include", "tags")
    )
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_read_types_and_leniency(registered, docs_dir):
    rows = {r.doc_id: r for r in _read(registered, docs_dir).collect()}
    assert len(rows) == 3
    assert rows[1].tags == ["x", "y"]
    assert rows[2].tags == ["solo"]  # scalar-or-array leniency
    assert rows[1].born.year == 2020
    assert rows[2].born.year == 2020  # epoch-millis date
    assert rows[1].meta.src == "a"
    assert rows[3].score is None


def test_filter_pushdown_matches_post_filter(registered, docs_dir):
    df = _read(registered, docs_dir)
    pushed = df.filter((F.col("score") > 1.0) & F.col("name").startswith("a")).collect()
    assert [r.doc_id for r in pushed] == [1]
    # IsNull / In / Not paths
    assert _read(registered, docs_dir).filter(F.col("score").isNull()).count() == 1
    assert _read(registered, docs_dir).filter(F.col("name").isin("beta", "gamma")).count() == 2
    assert _read(registered, docs_dir).filter(~(F.col("name") == "beta")).count() == 2


def test_query_dsl_option(registered, docs_dir):
    q = json.dumps({"bool": {"must": [{"range": {"score": {"gte": 2}}}]}})
    got = _read(registered, docs_dir, query=q).collect()
    assert [r.doc_id for r in got] == [2]


def test_projection_fields(registered, docs_dir):
    df = _read(registered, docs_dir, fields="doc_id,name")
    assert df.columns == ["doc_id", "name"]


def test_metadata_column(registered, docs_dir):
    df = _read(registered, docs_dir, **{"read.metadata": "true"})
    row = df.filter(F.col("doc_id") == 1).collect()[0]
    assert row[-1]["_id"] == "1"
    assert row[-1]["_index"] == "shard0"


def test_write_read_round_trip(registered, docs_dir, tmp_path):
    out = str(tmp_path / "out_idx")
    src = _read(registered, docs_dir)
    (
        src.write.format("esdocs")
        .option("path", out)
        .option("mapping.id", "doc_id")
        .mode("append")
        .save()
    )
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    back = _read(registered, out)
    a = sorted(src.collect(), key=lambda r: r.doc_id)
    b = sorted(back.collect(), key=lambda r: r.doc_id)
    assert a == b
    # bulk wire format: action line carries the extracted _id (A6 extractor)
    lines = []
    for f in sorted(os.listdir(out)):
        if f.endswith(".ndjson"):
            lines += [json.loads(x) for x in open(os.path.join(out, f)) if x.strip()]
    actions = [x for x in lines if "index" in x]
    assert {a_["index"]["_id"] for a_ in actions} == {1, 2, 3}


def test_write_overwrite_and_delete_op(registered, docs_dir, tmp_path):
    # NB: a fresh _read() per action — reusing one esdocs DataFrame across
    # differently-filtered actions hits the Spark 4.1 pushed-scan reuse bug
    # documented on es_datasource.EsDocsDataSource.
    out = str(tmp_path / "out_idx2")
    _read(registered, docs_dir).write.format("esdocs").option("path", out).mode(
        "append"
    ).save()
    # overwrite with just one row
    (
        _read(registered, docs_dir)
        .filter(F.col("doc_id") == 1)
        .write.format("esdocs")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    assert _read(registered, out).count() == 1
    # delete op emits action lines only -> reading the file yields no docs
    outd = str(tmp_path / "out_del")
    (
        _read(registered, docs_dir)
        .write.format("esdocs")
        .option("path", outd)
        .option("write.operation", "delete")
        .option("mapping.id", "doc_id")
        .mode("append")
        .save()
    )
    raw = []
    for f in sorted(os.listdir(outd)):
        if f.endswith(".ndjson"):
            raw += [json.loads(x) for x in open(os.path.join(outd, f)) if x.strip()]
    assert all("delete" in x for x in raw)
    assert {x["delete"]["_id"] for x in raw} == {1, 2, 3}


def test_match_doc_subset():
    d = {"_id": 7, "name": "Quick Brown Fox", "n": 5}
    assert match_doc(d, {"match": {"name": "fox jumps"}})
    assert not match_doc(d, {"match": {"name": "dog"}})
    assert match_doc(d, {"match_phrase": {"name": "brown fox"}})
    assert match_doc(d, {"ids": {"values": [7, 9]}})
    assert match_doc(d, {"wildcard": {"name": "Quick*Fox"}})
    assert match_doc(d, {"bool": {"should": [{"term": {"n": 5}}, {"term": {"n": 6}}]}})
    assert not match_doc(d, {"bool": {"must_not": [{"exists": {"field": "n"}}]}})


def test_stream_write_exactly_once(registered, docs_dir, tmp_path):
    """writeStream.format('esdocs'): rate-limited replay of the fixture docs
    lands every doc exactly once, with per-batch commit markers."""
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    src_dir = str(tmp_path / "stream_src")
    os.makedirs(src_dir)
    # three single-doc json files -> file stream with 1 file per batch
    for d in DOCS:
        with open(os.path.join(src_dir, f"d{d['doc_id']}.json"), "w") as fh:
            fh.write(json.dumps({"doc_id": d["doc_id"], "name": d["name"]}) + "\n")
    stream = (
        registered.readStream.format("json")
        .schema("doc_id long, name string")
        .option("maxFilesPerTrigger", "1")
        .load(src_dir)
    )
    q = (
        stream.writeStream.format("esdocs")
        .option("path", out)
        .option("mapping.id", "doc_id")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    docs = []
    for f in sorted(os.listdir(out)):
        if f.endswith(".ndjson"):
            docs += [json.loads(x) for x in open(os.path.join(out, f)) if x.strip()]
    got = sorted(d["doc_id"] for d in docs if "doc_id" in d)
    assert got == [1, 2, 3]
    markers = [f for f in os.listdir(out) if f.startswith("_batch_")]
    assert len(markers) >= 1  # commit log written
    assert not any(f.endswith(".tmp") for f in os.listdir(out))


def test_arrow_and_row_paths_agree(registered, docs_dir, tmp_path):
    """The Arrow fast path (flat schemas -> RecordBatches) must return
    exactly what the per-row channel returns, including pushed filters;
    complex schemas (metadata map) silently stay on the row path."""
    mapping = json.dumps(
        {"properties": {"doc_id": {"type": "long"}, "name": {"type": "keyword"},
                        "score": {"type": "double"}, "tags": {"type": "keyword"}}}
    )

    def load(**opts):
        r = (
            registered.read.format("esdocs")
            .option("path", str(docs_dir))
            .option("mapping", mapping)
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    arrow = {tuple(r) for r in load().collect()}
    rows = {tuple(r) for r in load(arrow="false").collect()}
    assert arrow == rows and arrow
    # filtered action agrees too (pushFilters runs before batching)
    fa = {tuple(r) for r in load().filter("score >= 2").collect()}
    fr = {tuple(r) for r in load(arrow="false").filter("score >= 2").collect()}
    assert fa == fr and fa
    # metadata map forces the row path and still works
    meta = load(**{"read.metadata": "true"}).collect()
    assert all(r["_metadata"]["_id"] for r in meta)


def test_write_version_extractor(registered, docs_dir, tmp_path):
    """es.mapping.version parity: the version rides the bulk action line
    with version_type=external, like id/routing."""
    out = str(tmp_path / "vout")
    mapping = json.dumps({"properties": {"doc_id": {"type": "long"}}})
    df = _read(registered, docs_dir)
    df.select("doc_id").write.format("esdocs").option("path", out).option(
        "mapping.id", "doc_id"
    ).option("mapping.version", "doc_id").mode("append").save()
    actions = []
    for f in sorted(os.listdir(out)):
        if f.endswith(".ndjson"):
            for line in open(os.path.join(out, f)):
                d = json.loads(line)
                if "index" in d and isinstance(d["index"], dict):
                    actions.append(d["index"])
    assert actions and all(
        a["version"] == a["_id"] and a["version_type"] == "external" for a in actions
    )


def test_arrow_struct_path_agrees(registered, tmp_path):
    """Round-4 hardening: struct (and array-of-struct) schemas ride the
    Arrow channel too — tuple-encoded struct values are re-shaped to dicts
    at batch build (_arrow_converter).  Both channels must agree exactly."""
    d = tmp_path / "nested"
    d.mkdir()
    docs = [
        {"doc_id": 1, "loc": {"lat": 1.5, "lon": -2.5},
         "hops": [{"n": 1, "ok": True}, {"n": 2, "ok": False}]},
        {"doc_id": 2, "loc": None, "hops": []},
        {"doc_id": 3, "loc": {"lat": -3.25, "lon": 4.75}, "hops": None},
    ]
    with open(d / "a.ndjson", "w") as fh:
        for x in docs:
            fh.write(json.dumps(x) + "\n")
    mapping = json.dumps(
        {
            "properties": {
                "doc_id": {"type": "long"},
                "loc": {
                    "properties": {
                        "lat": {"type": "double"}, "lon": {"type": "double"}
                    }
                },
                "hops": {
                    "properties": {
                        "n": {"type": "integer"}, "ok": {"type": "boolean"}
                    }
                },
            }
        }
    )

    def load(**opts):
        r = (
            registered.read.format("esdocs")
            .option("path", str(d))
            .option("mapping", mapping)
            .option("field.as.array.include", "hops")
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    arrow = sorted(load().collect(), key=lambda r: r["doc_id"])
    rows = sorted(load(arrow="false").collect(), key=lambda r: r["doc_id"])
    assert [tuple(r) for r in arrow] == [tuple(r) for r in rows]
    assert arrow[0]["loc"]["lat"] == 1.5
    assert arrow[0]["hops"][1]["ok"] is False
    assert arrow[1]["loc"] is None


def test_geo_point_wire_forms_row_path(registered, tmp_path):
    """§1.2 geo_point leniency must hold on the esdocs row path too (the
    json_docs Column path has its own test): object, GeoJSON array,
    "lat,lon" string; geohash/garbage -> null."""
    d = tmp_path / "geo"
    d.mkdir()
    docs = [
        {"doc_id": 1, "loc": {"lat": 41.12, "lon": -71.34}},
        {"doc_id": 2, "loc": [-71.5, 40.5]},
        {"doc_id": 3, "loc": "39.25,-70.75"},
        {"doc_id": 4, "loc": "drm3btev3e86"},
        {"doc_id": 5, "loc": None},
    ]
    with open(d / "a.ndjson", "w") as fh:
        for x in docs:
            fh.write(json.dumps(x) + "\n")
    mapping = json.dumps(
        {"properties": {"doc_id": {"type": "long"}, "loc": {"type": "geo_point"}}}
    )
    got = {
        r["doc_id"]: r["loc"]
        for r in (
            registered.read.format("esdocs")
            .option("path", str(d))
            .option("mapping", mapping)
            .load()
            .collect()
        )
    }
    assert got[1] is not None and (got[1]["lat"], got[1]["lon"]) == (41.12, -71.34)
    assert got[2] is not None and (got[2]["lat"], got[2]["lon"]) == (40.5, -71.5)
    assert got[3] is not None and (got[3]["lat"], got[3]["lon"]) == (39.25, -70.75)
    assert got[4] is None
    assert got[5] is None


def test_arrow_timestamp_and_map_path_agrees(registered, tmp_path):
    """Round-5 hardening (VERDICT r4 item 4): timestamp and map schemas
    ride the Arrow channel — the last per-row-pickling fallback.  Both
    wire forms of an ES date (ISO-8601 string, epoch millis) and an
    open-keyed object -> map must agree exactly across channels, and the
    Arrow channel must actually engage (no silent row-path fallback)."""
    from datetime import datetime

    from elasticsearch_hadoop_spark.sources.es_datasource import (
        EsDocsReader, mapping_to_struct,
    )

    d = tmp_path / "tsmap"
    d.mkdir()
    docs = [
        {"doc_id": 1, "created": "2024-03-01T12:30:45.123Z",
         "counters": {"a": 1, "b": 2}},
        {"doc_id": 2, "created": 1709294400000, "counters": {}},
        {"doc_id": 3, "created": None, "counters": None},
    ]
    with open(d / "a.ndjson", "w") as fh:
        for x in docs:
            fh.write(json.dumps(x) + "\n")
    mapping = {
        "properties": {
            "doc_id": {"type": "long"},
            "created": {"type": "date"},
            "counters": {"properties": {"a": {"type": "long"},
                                        "b": {"type": "long"}}},
        }
    }
    # the schema is now inside _ARROW_OK: the reader must report capable
    st = mapping_to_struct(mapping, map_include="counters")
    rd = EsDocsReader(st, {"path": str(d)})
    assert rd._arrow_capable()

    def load(**opts):
        r = (
            registered.read.format("esdocs")
            .option("path", str(d))
            .option("mapping", json.dumps(mapping))
            .option("field.as.map.include", "counters")
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    arrow = sorted(load().collect(), key=lambda r: r["doc_id"])
    rows = sorted(load(arrow="false").collect(), key=lambda r: r["doc_id"])
    assert [tuple(r) for r in arrow] == [tuple(r) for r in rows]
    assert arrow[0]["created"] == datetime(2024, 3, 1, 12, 30, 45, 123000)
    assert arrow[1]["created"] == datetime(2024, 3, 1, 12, 0, 0)
    assert arrow[0]["counters"] == {"a": 1, "b": 2}
    assert arrow[2]["created"] is None and arrow[2]["counters"] is None
    # read.metadata=true also rides Arrow now (map<string,string> column);
    # both channels must agree including the _metadata map
    am = sorted(load(**{"read.metadata": "true"}).collect(),
                key=lambda r: r["doc_id"])
    rm = sorted(load(**{"read.metadata": "true", "arrow": "false"}).collect(),
                key=lambda r: r["doc_id"])
    assert [tuple(r) for r in am] == [tuple(r) for r in rm]
    assert am[0]["_metadata"]["_id"]


def test_arrow_map_key_converter_covers_temporal_keys():
    """ADVICE r5: _arrow_converter's map branch must re-shape KEYS as well
    as values — a timestamp-keyed map otherwise ships naive-UTC datetime
    keys and silently relies on pyarrow's naive-means-UTC default.  And
    _coerce must parse map keys per the declared keyType (JSON keys arrive
    as strings) so the key converter sees typed values."""
    from datetime import datetime, timezone

    from pyspark.sql import types as T

    from elasticsearch_hadoop_spark.sources.es_datasource import (
        _arrow_converter,
        _coerce,
    )

    mt = T.MapType(T.TimestampType(), T.TimestampType())
    conv = _arrow_converter(mt)
    assert conv is not None  # temporal keys demand a converter
    naive = datetime(2024, 3, 1, 12, 0, 0)
    out = conv({naive: naive})
    (k, v), = out.items()
    assert k.tzinfo == timezone.utc and v.tzinfo == timezone.utc
    assert conv(None) is None

    # string-keyed/valued maps still skip conversion entirely
    assert _arrow_converter(T.MapType(T.StringType(), T.LongType())) is None

    # _coerce parses keys per keyType: ISO string -> naive-UTC datetime
    coerced = _coerce(
        {"2024-03-01T12:00:00Z": 5}, T.MapType(T.TimestampType(), T.LongType())
    )
    assert coerced == {naive: 5}
    # and string keyTypes keep their string identity
    assert _coerce({"a": 1}, T.MapType(T.StringType(), T.LongType())) == {"a": 1}
