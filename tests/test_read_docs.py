"""Native ``read_docs`` (a Spark plan over the text reader) against
``format("esdocs")`` (the Python DataSource reader), which stays as the
differential oracle: hypothesis-generated bulk files must read back row
for row the same.  Also pins the leniency table both readers and
``read_json_docs`` share (json_docs' docstring)."""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from elasticsearch_hadoop_spark.sources.es_datasource import read_docs, register
from elasticsearch_hadoop_spark.sources.json_docs import read_json_docs
from tests.test_query_dsl_differential import query_tree

MAPPING = {
    "properties": {
        "name": {"type": "keyword"},
        "score": {"type": "long"},
        "tag": {"type": "keyword"},
        "x": {"type": "double"},
        "ok": {"type": "boolean"},
        "t": {"type": "date"},
        "tags": {"type": "keyword"},
        "nums": {"type": "integer"},
        "o": {"properties": {"s": {"type": "keyword"}}},
    }
}
ARRAYS = "tags,nums"


@pytest.fixture(scope="module")
def registered(spark):
    register(spark)
    return spark


def _esdocs(spark, path, **options):
    r = spark.read.format("esdocs").option("path", path).option("mapping", json.dumps(MAPPING))
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()


def _rows(df):
    return sorted(df.collect(), key=repr)


# ---- generated bulk files -----------------------------------------------------

# strings that start like JSON arrays or objects must stay strings
_text = st.one_of(
    st.text(alphabet="abcz 019[]{}", max_size=6).filter(lambda s: s.strip() == s),
    st.sampled_from(["[]", "{}", "[1, 2]", '{"s": "a"}', "[WIP] fix", "{x"]),
)
_float = st.integers(-4000, 4000).map(lambda i: i / 4)
_numeric_text = st.one_of(
    st.integers(-99, 99).map(str), _float.map(repr), st.sampled_from(["12.7", "-0.5", "1e2", "x", ""])
)
_scalar = st.one_of(st.none(), _text, st.integers(-99, 99), _float, st.booleans(), _numeric_text)
_date = st.one_of(
    st.none(),
    st.integers(10**12, 2 * 10**12),  # epoch millis
    st.integers(1_500_000_000, 1_800_000_000).map(
        lambda s: dt.datetime.fromtimestamp(s, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    ),
    st.tuples(
        st.dates(dt.date(1990, 1, 1), dt.date(2030, 12, 31)),
        st.sampled_from(["", "T03:04:05", " 10:00:00.123", "T23:59:59Z", "T03:04:05+02:00", "T01:00:00-05:30"]),
    ).map(lambda t: t[0].isoformat() + t[1]),
    st.sampled_from(["2020", "not a date"]),
)


def _value(scalar):
    """A mapped field's wire value: a scalar, or an array of them."""
    return st.one_of(scalar, st.lists(scalar, max_size=3))


_doc = st.fixed_dictionaries(
    {},
    optional={
        "name": _value(st.one_of(st.sampled_from(["alpha beta", "beta gamma", "Beta Alpha", "delta", ""]), _scalar)),
        "score": _value(st.one_of(st.integers(-1, 6), st.integers(-1, 6).map(str), _scalar)),
        "tag": _value(st.one_of(st.sampled_from(["a", "b", "c"]), _scalar)),
        "x": _value(st.one_of(_float, _numeric_text, _scalar)),
        "ok": _value(st.one_of(st.booleans(), st.sampled_from(["true", "false"]), _scalar)),
        "t": _value(_date),
        "tags": _value(_scalar),
        "nums": _value(st.one_of(st.integers(-5, 5), _numeric_text)),
        "o": st.one_of(st.none(), _text, st.fixed_dictionaries({"s": _scalar}),
                       st.lists(st.fixed_dictionaries({"s": _text}), max_size=2)),
        "_id": st.one_of(st.none(), _text, st.integers(0, 9)),
        "extra": _scalar,  # unmapped
    },
)
_header = st.fixed_dictionaries(
    {},
    optional={"_id": st.one_of(st.none(), st.sampled_from(["h1", "h2"]), st.integers(0, 9)),
              "routing": st.just("r")},
)
_action = st.one_of(
    st.tuples(st.sampled_from(["index", "create", "update", "delete"]), st.one_of(st.none(), _header)).map(
        lambda t: {t[0]: t[1]}
    ),
    # not actions: an extra header key, a non-object body, two keys
    st.just({"index": {"_id": 1, "foo": 2}}),
    st.just({"create": "x"}),
    st.just({"index": {}, "name": "two keys"}),
)
_line = st.one_of(
    _action.map(json.dumps),
    _doc.map(json.dumps),
    _doc.map(lambda d: json.dumps({"doc": d})),  # update's wrapper
    st.sampled_from(["", "   ", "\t"]),
)
_file = st.tuples(
    st.lists(_line, max_size=12), st.sampled_from(["\n", "\r\n"]), st.booleans()
).map(lambda t: t[1].join(t[0]) + (t[1] if t[2] else ""))

_DIRS = itertools.count()


def _write_index(root, files) -> str:
    path = os.path.join(root, f"idx{next(_DIRS)}")
    os.makedirs(path)
    for i, text in enumerate(files):
        with open(os.path.join(path, f"shard{i}.{'json' if i % 2 else 'ndjson'}"), "w", newline="") as fh:
            fh.write(text)
    for skipped in ("_SUCCESS.ndjson", ".hidden.json", "notes.txt"):
        with open(os.path.join(path, skipped), "w") as fh:
            fh.write('{"name": "never read"}\n')
    return path


_options = st.fixed_dictionaries(
    {"field.as.array.include": st.just(ARRAYS)},
    optional={
        "query": query_tree.map(json.dumps),
        "fields": st.sampled_from(["name,score", "t,o,tags", "x"]),
        "read.metadata": st.sampled_from(["true", "false"]),
        "index": st.just("events"),
    },
)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(files=st.lists(_file, min_size=1, max_size=3), options=_options)
def test_native_read_equals_esdocs(registered, tmp_path_factory, files, options):
    path = _write_index(str(tmp_path_factory.getbasetemp()), files)
    native = read_docs(registered, path, MAPPING, **options)
    oracle = _esdocs(registered, path, **options)
    assert native.columns == oracle.columns
    assert _rows(native) == _rows(oracle), f"files={files!r} options={options!r}"


# ---- pinned cases ---------------------------------------------------------------

LENIENT = [
    # (field, wire value, value read)
    ("ok", "false", False),
    ("ok", "true", True),
    ("ok", 1, None),
    ("t", "2024-01-02T03:04:05+02:00", dt.datetime(2024, 1, 2, 1, 4, 5)),
    ("t", 1709634600000, dt.datetime(2024, 3, 5, 10, 30)),
    ("t", "2020", dt.datetime(2020, 1, 1)),
    ("score", "12.7", 12),
    ("score", 12.7, 12),
    ("score", "12", 12),
    ("score", [7, 8], 7),
    ("score", "x", None),
    ("x", "x", None),
    ("x", "1.5", 1.5),
    ("tags", "solo", ["solo"]),
    ("name", ["first", "second"], "first"),
    ("name", 7, "7"),
    ("name", {"b": [1, 2], "a": None}, '{"a":null,"b":[1,2]}'),
    ("name", 0.0, "0.0"),
    ("name", "[WIP] fix", "[WIP] fix"),
    ("name", "[]", "[]"),
    ("name", '{"s": "a"}', '{"s": "a"}'),
    ("tags", "[WIP] fix", ["[WIP] fix"]),
    ("tags", "[1, 2]", ["[1, 2]"]),
    ("tags", ["a", None], ["a", None]),
    ("score", "[7]", None),
    ("o", '{"s": "a"}', None),
    ("o", [{"s": "a"}], ("a",)),
    ("t", "12345-01-01", None),
    ("t", "2024-01-02x", None),
    ("t", 12345678901234567, None),
]


@pytest.fixture()
def lenient_docs(tmp_path):
    """One bulk file and one plain NDJSON file of the LENIENT cases."""
    bulk, plain = tmp_path / "bulk", tmp_path / "plain"
    bulk.mkdir()
    plain.mkdir()
    with open(bulk / "a.ndjson", "w") as b, open(plain / "a.json", "w") as p:
        for i, (field, wire, _) in enumerate(LENIENT):
            doc = {"score": i, field: wire} if field != "score" else {field: wire, "tag": str(i)}
            b.write(json.dumps({"index": {"_id": i}}) + "\n" + json.dumps(doc) + "\n")
            p.write(json.dumps(dict(doc, _id=i)) + "\n")
    return str(bulk), str(plain)


def test_leniency_table_on_every_reader(registered, lenient_docs):
    """A value ES accepts reads the same on all three readers.  The
    Python reader used to return True for "false", drop an offset date,
    and fail the whole read on "12.7" for a long or "x" for a double;
    the JVM readers turned all the lenient forms into NULL."""
    bulk, plain = lenient_docs
    opts = {"field.as.array.include": ARRAYS, "read.metadata": "true"}
    readers = {
        "read_docs": read_docs(registered, bulk, MAPPING, **opts),
        "esdocs": _esdocs(registered, bulk, **opts),
    }
    for name, df in readers.items():
        got = {int(r["_metadata"]["_id"]): r for r in df.collect()}
        for i, (field, wire, want) in enumerate(LENIENT):
            assert got[i][field] == want, (name, field, wire)
    plain_rows = read_json_docs(
        registered, plain, mapping=dict(MAPPING, properties=dict(MAPPING["properties"], _id={"type": "long"})),
        array_include=ARRAYS,
    ).collect()
    got = {r["_id"]: r for r in plain_rows}
    for i, (field, wire, want) in enumerate(LENIENT):
        assert got[i][field] == want, ("read_json_docs", field, wire)


def _bulk(tmp_path, lines, name="a.ndjson"):
    d = tmp_path / "idx"
    d.mkdir(parents=True, exist_ok=True)
    (d / name).write_text("\n".join(lines) + "\n")
    return str(d)


def test_query_on_unmapped_field_matches_nothing(registered, tmp_path):
    """ES: a leaf query on a field the mapping lacks matches no document,
    even when the source carries that field; must_not of it matches all."""
    path = _bulk(tmp_path, [json.dumps({"name": "a", "extra": 1}), json.dumps({"name": "b"})])
    for q, want in (
        ({"term": {"extra": 1}}, []),
        ({"exists": {"field": "extra"}}, []),
        ({"exists": {"field": "o.nope"}}, []),
        ({"bool": {"must_not": [{"term": {"extra": 1}}]}}, ["a", "b"]),
    ):
        for df in (read_docs(registered, path, MAPPING, query=json.dumps(q)),
                   _esdocs(registered, path, query=json.dumps(q))):
            assert sorted(r["name"] for r in df.collect()) == want, q


def test_ids_query_matches_the_metadata_id(registered, tmp_path):
    """``ids`` matches the ``_id`` read.metadata reports: the document's
    own, else its action header's, else ``file#lineno``."""
    path = _bulk(tmp_path, [
        json.dumps({"index": {"_id": "h"}}), json.dumps({"name": "a"}),
        json.dumps({"index": {"_id": "h"}}), json.dumps({"name": "b", "_id": "own"}),
        json.dumps({"name": "c"}),
    ])
    q = json.dumps({"ids": {"values": ["h", "own", "a.ndjson#4"]}})
    for df in (read_docs(registered, path, MAPPING, query=q), _esdocs(registered, path, query=q)):
        assert sorted(r["name"] for r in df.collect()) == ["a", "b", "c"]


def test_malformed_line_fails_the_read(registered, tmp_path):
    """A line that is not JSON fails the read, as does one of only
    non-JSON whitespace (U+00A0): only JSON's whitespace makes a line
    blank."""
    for bad in ("{not json", "\u00a0"):
        path = _bulk(tmp_path / bad.encode().hex(), [json.dumps({"name": "a"}), bad])
        for df in (read_docs(registered, path, MAPPING), _esdocs(registered, path)):
            with pytest.raises(Exception):
                df.count()


def test_action_shape_follows_the_json_not_its_text(registered, tmp_path):
    """A header body that is a string reading like an object is not an
    action, so its line is a source; an op key spelled with a \\u escape
    is the op it decodes to."""
    path = _bulk(tmp_path, [
        json.dumps({"index": '{"_id": "s"}'}),
        '{"\\u0069ndex": {"_id": "h"}}', json.dumps({"name": "a"}),
    ])
    for df in (read_docs(registered, path, MAPPING, **{"read.metadata": "true"}),
               _esdocs(registered, path, **{"read.metadata": "true"})):
        rows = sorted((r["name"] or "", r["_metadata"]["_id"]) for r in df.collect())
        assert rows == [("", "a.ndjson#0"), ("a", "h")]


def test_file_selection(registered, tmp_path):
    """A single file path reads that file; a directory with no bulk file
    raises FileNotFoundError, as the esdocs reader does."""
    path = _bulk(tmp_path, [json.dumps({"name": "a"})], name="one.txt")
    assert [r["name"] for r in read_docs(registered, os.path.join(path, "one.txt"), MAPPING).collect()] == ["a"]
    with pytest.raises(FileNotFoundError):
        read_docs(registered, path, MAPPING)
