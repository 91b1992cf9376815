"""Ingest-pipeline unit tests: processor semantics, conditionals, and the
reject-don't-approximate error contract (ingest.py)."""

import pytest

from elasticsearch_hadoop_spark.ingest import (
    IngestError,
    _dissect_regex,
    compile_condition,
    compile_pipeline,
    simulate,
)


def rows(df):
    return [r.asDict(recursive=True) for r in df.orderBy(df.columns[0]).collect()]


def test_set_template_and_override(spark):
    docs = [{"id": 1, "name": "a", "tag": None}, {"id": 2, "name": "b", "tag": "keep"}]
    out = simulate(
        spark,
        [
            {"set": {"field": "greeting", "value": "hi {{name}}!"}},
            {"set": {"field": "tag", "value": "default", "override": False}},
        ],
        docs,
    )
    r = rows(out)
    assert [x["greeting"] for x in r] == ["hi a!", "hi b!"]
    assert [x["tag"] for x in r] == ["default", "keep"]


def test_conditional_set_and_drop(spark):
    docs = [{"id": 1, "lang": "en"}, {"id": 2, "lang": "fr"}, {"id": 3, "lang": "es"}]
    out = simulate(
        spark,
        [
            {"set": {"field": "flag", "value": "anglo", "if": "ctx.lang == 'en'"}},
            {"drop": {"if": "ctx.lang == 'es'"}},
        ],
        docs,
    )
    r = rows(out)
    assert [(x["id"], x["flag"]) for x in r] == [(1, "anglo"), (2, None)]


def test_rename_remove_convert_roundtrip(spark):
    docs = [{"id": 1, "n": "42"}]
    out = simulate(
        spark,
        [
            {"convert": {"field": "n", "type": "long", "target_field": "n_long"}},
            {"rename": {"field": "n", "target_field": "n_raw"}},
            {"remove": {"field": "n_raw"}},
        ],
        docs,
    )
    r = rows(out)
    assert r == [{"id": 1, "n_long": 42}]


def test_date_formats_first_match_wins(spark):
    docs = [{"id": 1, "when": "2024-03-01 10:00:00"}, {"id": 2, "when": "03/02/2024"}]
    out = simulate(
        spark,
        [{"date": {"field": "when", "formats": ["MM/dd/yyyy", "yyyy-MM-dd HH:mm:ss"]}}],
        docs,
    )
    r = rows(out)
    assert str(r[0]["@timestamp"]).startswith("2024-03-01 10:00:00")
    assert str(r[1]["@timestamp"]).startswith("2024-03-02")


def test_split_join_gsub_append(spark):
    docs = [{"id": 1, "csv": "a,b,c"}]
    out = simulate(
        spark,
        [
            {"split": {"field": "csv", "separator": ",", "target_field": "parts"}},
            {"append": {"field": "parts", "value": "d"}},
            {"join": {"field": "parts", "separator": "-", "target_field": "dashed"}},
            {"gsub": {"field": "dashed", "pattern": "-", "replacement": "+"}},
        ],
        docs,
    )
    assert rows(out)[0]["dashed"] == "a+b+c+d"


def test_dissect_kv_json_fingerprint(spark):
    docs = [{"id": 1, "line": "GET /x 200", "kvs": "a=1;b=2", "js": '{"z": 9}'}]
    out = simulate(
        spark,
        [
            {"dissect": {"field": "line", "pattern": "%{verb} %{path} %{code}"}},
            {"kv": {"field": "kvs", "field_split": ";", "value_split": "="}},
            {"json": {"field": "js", "target_field": "jm"}},
            {"set": {"field": "b_val", "copy_from": "kvs.b"}},
            {"set": {"field": "z_val", "copy_from": "jm.z"}},
            {"fingerprint": {"fields": ["verb", "code"], "method": "MD5", "target_field": "fp"}},
        ],
        docs,
    )
    r = rows(out)[0]
    assert (r["verb"], r["path"], r["code"]) == ("GET", "/x", "200")
    assert r["b_val"] == "2" and r["z_val"] == "9"
    import hashlib

    assert r["fp"] == hashlib.md5(b"GET\x00200").hexdigest()


def test_dissect_regex_shape():
    rx, keys = _dissect_regex("%{a}-%{b}.%{c}")
    assert keys == ["a", "b", "c"]
    import re

    m = re.match(rx, "x-y.z")
    assert m.groups() == ("x", "y", "z")
    with pytest.raises(IngestError):
        _dissect_regex("no captures")
    with pytest.raises(IngestError):
        _dissect_regex("%{a}-%{a}")


def test_script_and_uri_parts(spark):
    docs = [{"id": 1, "n": 7, "u": "https://h.example.com/p/q?x=1"}]
    out = simulate(
        spark,
        [
            {"script": {"source": "ctx.n2 = ctx.n * ctx.n"}},
            {"uri_parts": {"field": "u", "target_field": "url"}},
        ],
        docs,
    )
    r = rows(out)[0]
    assert r["n2"] == 49
    assert r["url"]["scheme"] == "https"
    assert r["url"]["domain"] == "h.example.com"
    assert r["url"]["path"] == "/p/q"
    assert r["url"]["query"] == "x=1"


def test_error_contract(spark):
    with pytest.raises(IngestError):
        compile_pipeline([])
    with pytest.raises(IngestError):
        compile_pipeline([{"set": {"field": "x", "value": 1}, "extra": {}}])
    with pytest.raises(IngestError):
        compile_pipeline([{"geoip": {"field": "ip"}}])  # unsupported processor
    with pytest.raises(IngestError):
        compile_pipeline([{"drop": {}}])  # drop without if
    with pytest.raises(IngestError):
        compile_pipeline([{"convert": {"field": "x", "type": "ip"}}])
    with pytest.raises(IngestError):
        # rename cannot be per-row conditional
        simulate(spark, [{"rename": {"field": "a", "target_field": "b", "if": "ctx.a == 1"}}], [{"a": 1}])
    with pytest.raises(IngestError):
        compile_condition("ctx.a == params.x")  # non-whitelisted identifier


def test_condition_string_literals_masked():
    # string literals must pass the painless-lite whitelist without opening
    # an injection hole: quotes inside the literal are the literal's problem
    c = compile_condition("ctx.lang == 'en' || ctx.lang == 'fr'")
    assert c is not None
    with pytest.raises(IngestError):
        compile_condition("ctx.lang == 'a'; drop table --'")


def test_enrich_processor_attaches_policy_doc(spark):
    from elasticsearch_hadoop_spark.ingest import IngestError, compile_pipeline

    docs = spark.createDataFrame(
        [(1, "us"), (2, "de"), (3, "xx")], ["id", "country"]
    )
    policy = spark.createDataFrame(
        [("us", "United States", "NA"), ("de", "Germany", "EU"),
         ("us", "USA dup", "NA")],
        ["code", "name", "region"],
    )
    run = compile_pipeline(
        [{"enrich": {"policy_name": "geo", "field": "country",
                     "match_field": "code", "target_field": "geo"}}],
        enrich_policies={"geo": policy},
    )
    out = {r["id"]: r["geo"] for r in run(docs).collect()}
    # max_matches=1 dedupes deterministically (min struct)
    assert out[1]["name"] == "USA dup" or out[1]["name"] == "United States"
    assert out[1]["code"] == "us" and out[1]["region"] == "NA"
    assert out[2]["name"] == "Germany"
    assert out[3] is None  # no match -> null target, doc kept (ES default)
    # max_matches > 1 -> sorted array
    run2 = compile_pipeline(
        [{"enrich": {"policy_name": "geo", "field": "country",
                     "match_field": "code", "target_field": "geos",
                     "max_matches": 2}}],
        enrich_policies={"geo": policy},
    )
    out2 = {r["id"]: r["geos"] for r in run2(docs).collect()}
    assert [d["name"] for d in out2[1]] == ["USA dup", "United States"]
    import pytest as _pytest

    with _pytest.raises(IngestError, match="unknown policy"):
        compile_pipeline(
            [{"enrich": {"policy_name": "nope", "field": "country",
                         "target_field": "x"}}]
        )
    with _pytest.raises(IngestError, match="needs target_field"):
        compile_pipeline(
            [{"enrich": {"policy_name": "geo", "field": "country"}}],
            enrich_policies={"geo": policy},
        )


def test_convert_ignore_failure(spark):
    """ES per-processor ignore_failure on convert: a malformed value
    lands NULL and the batch proceeds; without it the strict ANSI cast
    surfaces the bad value as an error (the batch analogue of ES failing
    the document)."""
    from elasticsearch_hadoop_spark.ingest import compile_pipeline

    df = spark.createDataFrame([("1", 1), ("oops", 2)], "n string, id int")
    ok = compile_pipeline(
        [{"convert": {"field": "n", "type": "long", "ignore_failure": True}}]
    )(df)
    got = {r["id"]: r["n"] for r in ok.collect()}
    assert got == {1: 1, 2: None}
    strict = compile_pipeline([{"convert": {"field": "n", "type": "long"}}])(df)
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        strict.collect()


def test_grok_processor_first_match_wins(spark):
    """Round-6 processor: grok with a patterns list — the FIRST matching
    pattern sets its keys; keys of other patterns stay NULL; non-matching
    rows are all-NULL (ES semantics, shared with the ES|QL GROK compiler)."""
    from elasticsearch_hadoop_spark.ingest import compile_pipeline

    df = spark.createDataFrame(
        [(1, "GET /idx 200"), (2, "ERR timeout"), (3, "garbage")],
        "id int, msg string",
    )
    pipe = compile_pipeline([
        {"grok": {"field": "msg", "patterns": [
            "%{WORD:verb} %{NOTSPACE:path} %{NUMBER:code:int}",
            "ERR %{WORD:err}",
        ]}},
    ])
    out = {r["id"]: r for r in pipe(df).collect()}
    assert (out[1]["verb"], out[1]["path"], out[1]["code"]) == ("GET", "/idx", 200)
    assert out[1]["err"] is None
    assert out[2]["err"] == "timeout" and out[2]["verb"] is None
    assert out[3]["verb"] is None and out[3]["err"] is None and out[3]["code"] is None


def test_round6_processors(spark):
    """html_strip / urldecode / bytes / csv / sort."""
    from elasticsearch_hadoop_spark.ingest import IngestError, compile_pipeline

    df = spark.createDataFrame(
        [(1, "<b>bold</b> text", "a%20b%2Fc", "1.5kb", "x, y ,z", [3, 1, 2])],
        "id int, html string, enc string, size string, line string, arr array<int>",
    )
    pipe = compile_pipeline([
        {"html_strip": {"field": "html", "target_field": "plain"}},
        {"urldecode": {"field": "enc", "target_field": "dec"}},
        {"bytes": {"field": "size", "target_field": "nbytes"}},
        {"csv": {"field": "line", "target_fields": ["c1", "c2", "c3"],
                 "trim": True}},
        {"sort": {"field": "arr", "order": "desc", "target_field": "sorted"}},
    ])
    row = pipe(df).collect()[0]
    assert row["plain"] == "bold text"
    assert row["dec"] == "a b/c"
    assert row["nbytes"] == 1536
    assert (row["c1"], row["c2"], row["c3"]) == ("x", "y", "z")
    assert row["sorted"] == [3, 2, 1]
    # malformed bytes value -> NULL, not a job failure
    df2 = spark.createDataFrame([(1, "notasize")], "id int, size string")
    row2 = compile_pipeline([{"bytes": {"field": "size"}}])(df2).collect()[0]
    assert row2["size"] is None
    import pytest as _pytest

    with _pytest.raises(IngestError):
        compile_pipeline([{"csv": {"field": "line"}}])
    with _pytest.raises(IngestError):
        compile_pipeline([{"sort": {"field": "arr", "order": "sideways"}}])
    with _pytest.raises(IngestError):
        compile_pipeline([{"grok": {"field": "msg", "patterns": ["%{NOPE:x}"]}}])


def test_foreach_transform(spark):
    df = spark.createDataFrame(
        [(1, ["  A ", "b "], ["1kb", "2mb"])],
        "id int, tags array<string>, sizes array<string>",
    )
    pipe = compile_pipeline([
        {"foreach": {"field": "tags",
                     "processor": {"trim": {"field": "_ingest._value"}}}},
        {"foreach": {"field": "tags",
                     "processor": {"lowercase": {"field": "_ingest._value"}}}},
        {"foreach": {"field": "sizes", "target_field": "nbytes",
                     "processor": {"bytes": {"field": "_ingest._value"}}}},
    ])
    row = pipe(df).collect()[0]
    assert row["tags"] == ["a", "b"]
    assert row["nbytes"] == [1024, 2 * 1024**2]
    with pytest.raises(IngestError):
        compile_pipeline([
            {"foreach": {"field": "tags",
                         "processor": {"dissect": {"field": "_ingest._value",
                                                   "pattern": "%{a}"}}}},
        ])
    with pytest.raises(IngestError):
        compile_pipeline([
            {"foreach": {"field": "tags",
                         "processor": {"trim": {"field": "tags"}}}},
        ])


def test_fail_processor(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.createDataFrame([(1, "ok"), (2, "bad")], "id int, status string")
    good = compile_pipeline([{"fail": {"if": "ctx.status == 'nope'",
                                       "message": "boom"}}])
    assert good(df).count() == 2
    trap = compile_pipeline([{"fail": {"if": "ctx.status == 'bad'",
                                       "message": "boom"}}])
    with pytest.raises(SparkRuntimeException, match="boom"):
        trap(df).count()
    with pytest.raises(IngestError):
        compile_pipeline([{"fail": {"message": "always"}}])


def test_pipeline_processor_expansion(spark):
    df = spark.createDataFrame([(1, " X ")], "id int, v string")
    inner = {"processors": [{"trim": {"field": "v"}},
                            {"lowercase": {"field": "v"}}]}
    pipe = compile_pipeline(
        [{"pipeline": {"name": "clean"}},
         {"set": {"field": "done", "value": True}}],
        pipelines={"clean": inner},
    )
    row = pipe(df).collect()[0]
    assert row["v"] == "x" and row["done"] is True
    with pytest.raises(IngestError, match="unknown pipeline"):
        compile_pipeline([{"pipeline": {"name": "ghost"}}])
    cyc = {"processors": [{"pipeline": {"name": "a"}}]}
    with pytest.raises(IngestError, match="cycle"):
        compile_pipeline([{"pipeline": {"name": "a"}}], pipelines={"a": cyc})


def test_dot_expander(spark):
    df = spark.createDataFrame([(1, "u1", "o1")], "id int, `user.name` string, `user.org` string")
    pipe = compile_pipeline([
        {"dot_expander": {"field": "user.name"}},
        {"dot_expander": {"field": "user.org"}},
    ])
    row = pipe(df).collect()[0].asDict(recursive=True)
    assert row["user"] == {"name": "u1", "org": "o1"}
    assert "user.name" not in row
    with pytest.raises(IngestError):
        compile_pipeline([{"dot_expander": {"field": "nodot"}}])


def test_date_index_name(spark):
    df = spark.createDataFrame([(1, "2024-03-15T10:30:00")], "id int, ts string")
    pipe = compile_pipeline([
        {"date_index_name": {"field": "ts", "index_name_prefix": "logs-",
                             "date_rounding": "M",
                             "index_name_format": "yyyy-MM"}},
    ])
    assert pipe(df).collect()[0]["_index"] == "logs-2024-03"
    with pytest.raises(IngestError):
        compile_pipeline([{"date_index_name": {"field": "ts",
                                               "date_rounding": "q"}}])


def test_redact(spark):
    df = spark.createDataFrame(
        [(1, "login from 10.1.2.3 by bob@example.com")], "id int, msg string"
    )
    pipe = compile_pipeline([
        {"redact": {"field": "msg",
                    "patterns": ["%{IP:client}", "%{EMAILADDRESS:email}"]}},
    ])
    assert pipe(df).collect()[0]["msg"] == "login from <client> by <email>"
    df2 = spark.createDataFrame([(1, "ip=1.2.3.4")], "id int, msg string")
    pipe2 = compile_pipeline([
        {"redact": {"field": "msg", "patterns": ["%{IP:ip}"],
                    "prefix": "[", "suffix": "]"}},
    ])
    assert pipe2(df2).collect()[0]["msg"] == "ip=[ip]"
    with pytest.raises(IngestError):
        compile_pipeline([{"redact": {"field": "msg", "patterns": ["no refs"]}}])


def test_registered_domain(spark):
    df = spark.createDataFrame(
        [(1, "www.example.co.uk"), (2, "api.example.com"), (3, "example.com"),
         (4, "localhost")],
        "id int, host string",
    )
    pipe = compile_pipeline([
        {"registered_domain": {"field": "host", "target_field": "url"}},
    ])
    r = {x["id"]: x["url"] for x in rows(pipe(df))}
    assert r[1] == {"domain": "www.example.co.uk",
                    "registered_domain": "example.co.uk",
                    "top_level_domain": "co.uk", "subdomain": "www"}
    assert r[2]["registered_domain"] == "example.com"
    assert r[2]["subdomain"] == "api"
    assert r[3]["registered_domain"] == "example.com"
    assert r[3]["subdomain"] is None
    assert r[4]["registered_domain"] is None
    # top-level output without target_field
    flat = compile_pipeline([{"registered_domain": {"field": "host"}}])
    row2 = {x["id"]: x for x in rows(flat(df))}
    assert row2[2]["top_level_domain"] == "com"


def _community_id_ref(seed, sip, dip, sport, dport, proto):
    """Reference implementation straight from the public Community ID v1
    spec (seed BE16 . min_ep_ip . max_ep_ip . proto . 0x00 . ports)."""
    import base64
    import hashlib
    import socket
    import struct

    s, d = socket.inet_aton(sip), socket.inet_aton(dip)
    if (s, struct.pack("!H", sport)) > (d, struct.pack("!H", dport)):
        s, d, sport, dport = d, s, dport, sport
    msg = (
        struct.pack("!H", seed) + s + d + struct.pack("BB", proto, 0)
        + struct.pack("!HH", sport, dport)
    )
    return "1:" + base64.b64encode(hashlib.sha1(msg).digest()).decode()


def test_community_id_matches_spec(spark):
    flows = [
        (1, "1.2.3.4", "5.6.7.8", 1122, 3344, "tcp", 6),
        (2, "5.6.7.8", "1.2.3.4", 3344, 1122, "tcp", 6),   # reversed flow
        (3, "10.0.0.1", "10.0.0.1", 80, 1024, "udp", 17),  # equal IPs
        (4, "192.168.1.52", "8.8.8.8", 54585, 53, "udp", 17),
    ]
    df = spark.createDataFrame(
        [(i, s, d, sp, dp, tr) for i, s, d, sp, dp, tr, _ in flows],
        "id int, sip string, dip string, sport int, dport int, transport string",
    )
    pipe = compile_pipeline([
        {"community_id": {"source_ip": "sip", "destination_ip": "dip",
                          "source_port": "sport", "destination_port": "dport",
                          "transport": "transport"}},
    ])
    got = {r["id"]: r["community_id"] for r in pipe(df).collect()}
    for i, s, d, sp, dp, _tr, proto in flows:
        assert got[i] == _community_id_ref(0, s, d, sp, dp, proto), i
    # a flow and its reverse share the ID
    assert got[1] == got[2]
    # seed participates
    pipe2 = compile_pipeline([
        {"community_id": {"source_ip": "sip", "destination_ip": "dip",
                          "source_port": "sport", "destination_port": "dport",
                          "transport": "transport", "seed": 7}},
    ])
    got2 = pipe2(df).collect()[0]["community_id"]
    assert got2 == _community_id_ref(7, "1.2.3.4", "5.6.7.8", 1122, 3344, 6)
    # malformed IP -> NULL
    bad = spark.createDataFrame(
        [(1, "999.2.3.4", "5.6.7.8", 1, 2, "tcp")],
        "id int, sip string, dip string, sport int, dport int, transport string",
    )
    assert pipe(bad).collect()[0]["community_id"] is None


def test_network_direction(spark):
    df = spark.createDataFrame(
        [(1, "10.1.2.3", "10.4.5.6"), (2, "10.1.2.3", "8.8.8.8"),
         (3, "8.8.8.8", "192.168.0.9"), (4, "8.8.8.8", "9.9.9.9"),
         (5, "172.16.0.1", "172.31.255.254"), (6, "172.32.0.1", "10.0.0.1")],
        "id int, sip string, dip string",
    )
    pipe = compile_pipeline([
        {"network_direction": {"source_ip": "sip", "destination_ip": "dip",
                               "internal_networks": ["private"]}},
    ])
    got = {r["id"]: r["direction"] for r in pipe(df).collect()}
    assert got == {1: "internal", 2: "outbound", 3: "inbound", 4: "external",
                   5: "internal", 6: "inbound"}
    with pytest.raises(IngestError):
        compile_pipeline([{"network_direction": {"source_ip": "sip",
                                                 "destination_ip": "dip"}}])
    with pytest.raises(IngestError):
        compile_pipeline([
            {"network_direction": {"source_ip": "sip", "destination_ip": "dip",
                                   "internal_networks": ["10.0.0.0/40"]}},
        ])


def test_user_agent_families(spark):
    uas = [
        (1, "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36"
            " (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36"),
        (2, "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15"
            " (KHTML, like Gecko) Version/17.1 Safari/605.1.15"),
        (3, "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/119.0"),
        (4, "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML, like Gecko)"
            " Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91"),
        (5, "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)"),
        (6, "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X)"
            " AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148"
            " Safari/604.1"),
        (7, None),
    ]
    df = spark.createDataFrame(uas, "id int, ua string")
    pipe = compile_pipeline([{"user_agent": {"field": "ua"}}])
    got = {r["id"]: r["user_agent"] for r in rows(pipe(df))}
    assert got[1]["name"] == "Chrome" and got[1]["version"].startswith("120.")
    assert got[1]["os"] == "Windows"
    assert got[2]["name"] == "Safari" and got[2]["version"] == "17.1"
    assert got[2]["os"] == "Mac OS X" and got[2]["device"] == "Mac"
    assert got[3]["name"] == "Firefox" and got[3]["os"] == "Linux"
    # Edge UA contains Chrome AND Safari — priority order must pick Edge
    assert got[4]["name"] == "Edge" and got[4]["version"].startswith("120.")
    assert got[5]["name"] == "Spider" and got[5]["device"] == "Spider"
    assert got[6]["name"] == "Safari" and got[6]["os"] == "iOS"
    assert got[6]["device"] == "iPhone"
    assert got[7] is None


def test_geoip_longest_prefix_and_prefix_bucketing(spark):
    db = spark.createDataFrame(
        [
            ("10.0.0.0/8", "ZZ", "wide"),
            ("10.1.0.0/16", "AA", "narrow"),
            ("192.168.4.0/24", "BB", "lan"),
        ],
        "network string, country_iso_code string, name string",
    )
    df = spark.createDataFrame(
        [(1, "10.1.2.3"), (2, "10.200.0.1"), (3, "192.168.4.77"),
         (4, "8.8.8.8"), (5, "not-an-ip")],
        "id int, ip string",
    )
    pipe = compile_pipeline([{"geoip": {"field": "ip"}}], geoip_db=db)
    got = {r["id"]: r["geoip"] for r in rows(pipe(df))}
    # 10.1.2.3 is inside BOTH 10/8 and 10.1/16 — longest prefix wins
    assert got[1] == {"country_iso_code": "AA", "name": "narrow"}
    assert got[2] == {"country_iso_code": "ZZ", "name": "wide"}
    assert got[3] == {"country_iso_code": "BB", "name": "lan"}
    assert got[4] is None and got[5] is None
    # properties narrows the attribute set
    pipe2 = compile_pipeline(
        [{"geoip": {"field": "ip", "properties": ["country_iso_code"]}}],
        geoip_db=db,
    )
    assert rows(pipe2(df))[0]["geoip"] == {"country_iso_code": "AA"}
    with pytest.raises(IngestError, match="needs a database"):
        compile_pipeline([{"geoip": {"field": "ip"}}])
    with pytest.raises(IngestError, match="network"):
        compile_pipeline([{"geoip": {"field": "ip"}}],
                         geoip_db=df.select("ip"))
    with pytest.raises(IngestError, match="no columns"):
        compile_pipeline([{"geoip": {"field": "ip",
                                     "properties": ["city_name"]}}],
                         geoip_db=db)


def test_terminate_processor(spark):
    df = spark.createDataFrame(
        [(1, "keep", "a"), (2, "skip", "b")], "id int, status string, v string"
    )
    pipe = compile_pipeline([
        {"uppercase": {"field": "v"}},
        {"terminate": {"if": "ctx.status == 'skip'"}},
        {"set": {"field": "tag", "value": "late"}},
        {"lowercase": {"field": "v"}},
    ])
    got = {r["id"]: r for r in rows(pipe(df))}
    # doc 1 runs the whole pipeline (upper then lower); doc 2 stops at
    # terminate, keeping the uppercased value and no tag
    assert got[1]["v"] == "a" and got[1]["tag"] == "late"
    assert got[2]["v"] == "B" and got[2]["tag"] is None
    # unconditional terminate truncates the pipeline at compile time
    trunc = compile_pipeline([
        {"uppercase": {"field": "v"}},
        {"terminate": {}},
        {"fail": {"if": "ctx.status == 'keep'", "message": "never"}},
    ])
    assert trunc(df).count() == 2
    # schema edits cannot follow a conditional terminate
    with pytest.raises(IngestError, match="cannot follow"):
        compile_pipeline([
            {"terminate": {"if": "ctx.status == 'skip'"}},
            {"rename": {"field": "v", "target_field": "w"}},
        ])
    # a nested pipeline's terminate stops only the child; the caller
    # continues (inherited conditions still gate the child's steps)
    child = {"processors": [
        {"terminate": {"if": "ctx.status == 'skip'"}},
        {"set": {"field": "child_tag", "value": "c"}},
    ]}
    outer = compile_pipeline(
        [{"pipeline": {"name": "k"}},
         {"set": {"field": "outer_tag", "value": "o"}}],
        pipelines={"k": child},
    )
    got2 = {r["id"]: r for r in rows(outer(df))}
    assert got2[2]["child_tag"] is None and got2[2]["outer_tag"] == "o"
    assert got2[1]["child_tag"] == "c" and got2[1]["outer_tag"] == "o"


def test_reroute_processor(spark):
    df = spark.createDataFrame([(1, "de"), (2, "en")], "id int, lang string")
    pipe = compile_pipeline([
        {"reroute": {"destination": "logs-{{lang}}",
                     "if": "ctx.lang == 'de'"}},
        {"reroute": {"destination": "logs-default",
                     "if": "ctx.lang != 'de'"}},
    ])
    got = {r["id"]: r["_index"] for r in rows(pipe(df))}
    assert got == {1: "logs-de", 2: "logs-default"}
    with pytest.raises(IngestError):
        compile_pipeline([{"reroute": {}}])
    # ES semantics: rerouted documents skip the REST of the pipeline
    skip = compile_pipeline([
        {"reroute": {"destination": "early", "if": "ctx.lang == 'de'"}},
        {"set": {"field": "tag", "value": "late"}},
    ])
    got2 = {r["id"]: r for r in rows(skip(df))}
    assert got2[1]["_index"] == "early" and got2[1]["tag"] is None
    assert got2[2]["tag"] == "late"
    # unconditional reroute truncates the pipeline entirely
    trunc = compile_pipeline([
        {"reroute": {"destination": "all"}},
        {"fail": {"if": "ctx.lang == 'de'", "message": "never"}},
    ])
    assert all(r["_index"] == "all" for r in rows(trunc(df)))


def test_nested_reroute_skips_calling_pipeline(spark):
    df = spark.createDataFrame([(1, "de"), (2, "en")], "id int, lang string")
    child_cond = {"processors": [
        {"reroute": {"destination": "child-dest", "if": "ctx.lang == 'en'"}},
    ]}
    outer = compile_pipeline(
        [{"pipeline": {"name": "c"}},
         {"set": {"field": "tag", "value": "late"}}],
        pipelines={"c": child_cond},
    )
    got = {r["id"]: r for r in rows(outer(df))}
    # the en doc rerouted inside the child: the PARENT's set is skipped too
    assert got[2]["_index"] == "child-dest" and got[2]["tag"] is None
    assert got[1]["tag"] == "late"
    # unconditional child reroute truncates the parent as well
    child_abs = {"processors": [{"reroute": {"destination": "all"}}]}
    outer2 = compile_pipeline(
        [{"pipeline": {"name": "c"}},
         {"fail": {"if": "ctx.lang == 'de'", "message": "never"}}],
        pipelines={"c": child_abs},
    )
    assert outer2(df).count() == 2


def test_date_formats_ansi_safe_fallthrough(spark):
    # value matching only the SECOND format must not crash attempt 1
    df = spark.createDataFrame([(1, "25/12/2024"), (2, "2024-01-02")],
                               "id int, ts string")
    pipe = compile_pipeline([
        {"date": {"field": "ts", "formats": ["ISO8601", "dd/MM/yyyy"]}},
    ])
    got = {r["id"]: r["@timestamp"] for r in rows(pipe(df))}
    assert got[1].month == 12 and got[1].day == 25
    assert got[2].month == 1
    # UNIX format attempt on a non-numeric value also falls through
    pipe2 = compile_pipeline([
        {"date": {"field": "ts", "formats": ["UNIX", "dd/MM/yyyy"]}},
    ])
    assert rows(pipe2(df))[0]["@timestamp"].year == 2024


def test_date_out_of_range_is_null_not_a_failed_pipeline(spark):
    """An epoch or a year outside 1-9999 gives NULL for that document: it
    must neither overflow inside the JVM (timestamp_millis of a 17-digit
    value) nor store a year Python cannot collect (try_to_timestamp of
    '123456' is year 123456)."""
    df = spark.createDataFrame(
        [(1, "99999999999999999"), (2, "123456"), (3, "2024-01-02"), (4, "1700000000000")],
        "id int, ts string",
    )

    def parsed(formats):
        pipe = compile_pipeline([{"date": {"field": "ts", "formats": formats}}])
        return {r["id"]: r["@timestamp"] for r in rows(pipe(df))}

    assert parsed(["UNIX_MS"])[1] is None
    assert parsed(["UNIX_MS"])[4].year == 2023
    assert parsed(["UNIX"])[1] is None
    iso = parsed(["ISO8601"])
    assert iso[2] is None and iso[4] is None and iso[3].year == 2024
    # a value the ISO attempt rejects falls through to the next format
    assert parsed(["ISO8601", "UNIX_MS"])[4].year == 2023
    fmts = ["ISO8601", "UNIX_MS"]
    pipe = compile_pipeline(
        [{"date_index_name": {"field": "ts", "date_rounding": "d", "date_formats": fmts}}]
    )
    assert {r["id"]: r["_index"] for r in rows(pipe(df))} == {
        1: None, 2: "1970-01-01", 3: "2024-01-02", 4: "2023-11-14",
    }


def test_user_agent_ie11_version_fallback(spark):
    df = spark.createDataFrame(
        [(1, "Mozilla/5.0 (Windows NT 10.0; Trident/7.0; rv:11.0) like Gecko")],
        "id int, ua string",
    )
    row = compile_pipeline([{"user_agent": {"field": "ua"}}])(df).collect()[0]
    assert row["user_agent"]["name"] == "IE"
    assert row["user_agent"]["version"] == "11.0"


def test_geoip_attr_name_collision_and_if_rejected(spark):
    db = spark.createDataFrame([("10.0.0.0/8", "ZZ")],
                               "network string, country string")
    df = spark.createDataFrame([(1, "10.1.2.3", "old")],
                               "id int, ip string, country string")
    out = compile_pipeline([{"geoip": {"field": "ip"}}], geoip_db=db)(df)
    r = rows(out)[0]
    assert r["geoip"] == {"country": "ZZ"} and r["country"] == "old"
    with pytest.raises(IngestError, match="per-row if"):
        compile_pipeline([{"geoip": {"field": "ip", "if": "ctx.id == 1"}}],
                         geoip_db=db)


def test_enrich_overwrites_existing_target_column(spark):
    policy = spark.createDataFrame([("us", "Ohio")], "cc string, region string")
    df = spark.createDataFrame([(1, "us", "stale")],
                               "id int, cc string, who string")
    pipe = compile_pipeline(
        [{"enrich": {"policy_name": "geo", "field": "cc",
                     "target_field": "who"}}],
        enrich_policies={"geo": policy},
    )
    out = pipe(df)
    assert out.columns.count("who") == 1
    assert rows(out)[0]["who"] == {"cc": "us", "region": "Ohio"}


class TestCircleGeoGrid:
    """Round-8 pending processors: circle (WKT -> error-bounded n-gon)
    and geo_grid (geotile/geohash cell -> envelope)."""

    def test_circle_sides_radius_and_garbage(self, spark):
        import math

        from elasticsearch_hadoop_spark.ingest import compile_pipeline

        df = spark.createDataFrame(
            [(1, "CIRCLE (10 20 2.0)"), (2, "garbage"), (3, "CIRCLE (-1.5 0 0.5)")],
            "id int, shp string",
        )
        fn = compile_pipeline(
            [{"circle": {"field": "shp", "target_field": "poly",
                         "error_distance": 0.1}}]
        )
        rows = {r["id"]: r["poly"] for r in fn(df).collect()}
        ring = rows[1]
        want_n = max(4, min(1000, math.ceil(
            2 * math.pi / math.acos(max(-1.0, 1 - 0.1 / 2.0)))))
        assert len(ring) - 1 == want_n
        assert ring[0] == ring[-1]  # closed by REPEATING vertex 0
        assert all(
            abs(math.hypot(v["lon"] - 10, v["lat"] - 20) - 2.0) < 1e-9
            for v in ring
        )
        assert rows[2] is None  # unparseable WKT -> null, not a crash
        # err >= r clamps to the 4-side minimum... here err=0.1 < r=0.5
        assert len(rows[3]) - 1 == math.ceil(
            2 * math.pi / math.acos(1 - 0.1 / 0.5))

    def test_circle_rejections(self, spark):
        from elasticsearch_hadoop_spark.ingest import IngestError, compile_pipeline

        with pytest.raises(IngestError, match="geodesic"):
            compile_pipeline([{"circle": {"field": "s", "shape_type": "geo_shape",
                                          "error_distance": 1.0}}])
        with pytest.raises(IngestError, match="error_distance"):
            compile_pipeline([{"circle": {"field": "s"}}])

    def test_geotile_decode_matches_slippy_formula(self, spark):
        import math

        from elasticsearch_hadoop_spark.ingest import compile_pipeline

        def tile_bbox(z, x, y):
            n = 2 ** z
            return (
                x / n * 360 - 180,
                math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (y + 1) / n)))),
                (x + 1) / n * 360 - 180,
                math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / n)))),
            )

        cases = [(0, 0, 0), (3, 2, 5), (10, 511, 300), (29, 1, 1)]
        df = spark.createDataFrame(
            [(i, f"{z}/{x}/{y}") for i, (z, x, y) in enumerate(cases)],
            "id int, cell string",
        )
        fn = compile_pipeline(
            [{"geo_grid": {"field": "cell", "target_field": "env",
                           "tile_type": "geotile"}}]
        )
        got = {r["id"]: r["env"] for r in fn(df).collect()}
        for i, (z, x, y) in enumerate(cases):
            w = tile_bbox(z, x, y)
            g = got[i]
            assert all(
                abs(a - b) < 1e-9
                for a, b in zip(
                    (g["min_lon"], g["min_lat"], g["max_lon"], g["max_lat"]), w)
            ), (z, x, y)

    def test_geohash_decode_matches_reference(self, spark):
        from elasticsearch_hadoop_spark.ingest import compile_pipeline

        def gh_decode(h):
            B = "0123456789bcdefghjkmnpqrstuvwxyz"
            x = y = 0
            even = True
            for ch in h:
                v = B.index(ch)
                for k in range(5):
                    b = (v >> (4 - k)) & 1
                    if even:
                        x = x * 2 + b
                    else:
                        y = y * 2 + b
                    even = not even
            lonb, latb = (5 * len(h) + 1) // 2, 5 * len(h) // 2
            return (x / 2 ** lonb * 360 - 180, y / 2 ** latb * 180 - 90,
                    (x + 1) / 2 ** lonb * 360 - 180, (y + 1) / 2 ** latb * 180 - 90)

        hashes = ["u", "u4pruyd", "9q8yyk8", "ezs42", "u4pruydqqvj0"]
        df = spark.createDataFrame(
            [(i, h) for i, h in enumerate(hashes)] + [(99, "ab!")],
            "id int, cell string",
        )
        fn = compile_pipeline(
            [{"geo_grid": {"field": "cell", "target_field": "env",
                           "tile_type": "geohash"}}]
        )
        got = {r["id"]: r["env"] for r in fn(df).collect()}
        for i, h in enumerate(hashes):
            w = gh_decode(h)
            g = got[i]
            assert all(
                abs(a - b) < 1e-9
                for a, b in zip(
                    (g["min_lon"], g["min_lat"], g["max_lon"], g["max_lat"]), w)
            ), h
        assert got[99] is None  # invalid base32 char -> null

    def test_geo_grid_rejects_geohex_at_compile(self, spark):
        from elasticsearch_hadoop_spark.ingest import IngestError, compile_pipeline

        with pytest.raises(IngestError, match="H3"):
            compile_pipeline([{"geo_grid": {"field": "c", "tile_type": "geohex"}}])

    def test_circle_accepts_bare_dot_decimals(self, spark):
        import math

        from elasticsearch_hadoop_spark.ingest import compile_pipeline

        df = spark.createDataFrame(
            [(1, "CIRCLE (.5 .5 .5)"), (2, "CIRCLE (5. 1. 1.e0)")],
            "id int, shp string",
        )
        fn = compile_pipeline(
            [{"circle": {"field": "shp", "target_field": "poly",
                         "error_distance": 0.1}}]
        )
        rows = {r["id"]: r["poly"] for r in fn(df).collect()}
        assert rows[1] is not None and rows[2] is not None
        assert all(
            abs(math.hypot(v["lon"] - 0.5, v["lat"] - 0.5) - 0.5) < 1e-9
            for v in rows[1]
        )

    def test_geotile_rejects_out_of_range_and_fractional(self, spark):
        from elasticsearch_hadoop_spark.ingest import compile_pipeline

        df = spark.createDataFrame(
            [(1, "4/20/5"), (2, "4/-1/5"), (3, "4/1.5/2"), (4, "4/15/11"),
             (5, "4/1/2/3")],
            "id int, cell string",
        )
        fn = compile_pipeline(
            [{"geo_grid": {"field": "cell", "target_field": "env",
                           "tile_type": "geotile"}}]
        )
        got = {r["id"]: r["env"] for r in fn(df).collect()}
        assert got[1] is None and got[2] is None and got[3] is None
        assert got[5] is None  # wrong arity
        assert got[4] is not None and -180 <= got[4]["min_lon"] <= 180


def test_attachment_processor(spark):
    """attachment: text payloads extract (decode + indexed_chars
    truncation), binary magic sniffs content_type with NULL content,
    properties subset, remove_binary, typed validation."""
    import base64

    from elasticsearch_hadoop_spark.ingest import IngestError, compile_pipeline

    rows = [
        (1, base64.b64encode(b"hello attachment world").decode()),
        (2, base64.b64encode(b"%PDF-1.7 stream...").decode()),
        (3, base64.b64encode(b"PK\x03\x04zipdata").decode()),
        (4, base64.b64encode(bytes([0, 159, 146, 150])).decode()),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id int, data string")
    fn = compile_pipeline([{"attachment": {"field": "data"}}])
    got = {r["id"]: r["attachment"] for r in fn(df).collect()}
    assert got[1]["content"] == "hello attachment world"
    assert got[1]["content_type"] == "text/plain"
    assert got[1]["content_length"] == 22
    assert got[2]["content"] is None and got[2]["content_type"] == "application/pdf"
    assert got[3]["content_type"] == "application/zip"
    assert got[4]["content_type"] == "application/octet-stream"
    assert got[5] is None

    # indexed_chars truncates content AND content_length (ES truncated view)
    fn2 = compile_pipeline(
        [{"attachment": {"field": "data", "indexed_chars": 5,
                         "properties": ["content", "content_length"],
                         "remove_binary": True}}]
    )
    out = fn2(df)
    assert "data" not in out.columns
    r1 = {r["id"]: r["attachment"] for r in out.collect()}[1]
    assert r1.asDict() == {"content": "hello", "content_length": 5}

    with pytest.raises(IngestError, match="unsupported properties"):
        compile_pipeline([{"attachment": {"field": "data", "properties": ["language"]}}])
    with pytest.raises(IngestError, match="needs field"):
        compile_pipeline([{"attachment": {}}])


def test_attachment_remove_binary_guards(spark):
    """Review r8: remove_binary is a schema edit — per-row if and dotted
    fields are rejected at declaration, not silently misapplied."""
    from elasticsearch_hadoop_spark.ingest import IngestError, compile_pipeline

    with pytest.raises(IngestError, match="schema edit"):
        compile_pipeline([{"attachment": {"field": "data", "remove_binary": True,
                                          "if": "ctx.kind == 'doc'"}}])
    with pytest.raises(IngestError, match="top-level"):
        compile_pipeline([{"attachment": {"field": "a.data", "remove_binary": True}}])
