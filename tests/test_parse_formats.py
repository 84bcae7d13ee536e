"""Hand-written per-format fixture lines -> expected parse fields + route.

Independent of the synthetic generator: these are the per-format golden
checks the north_star requires (the shape of Matomo import_logs' own
per-format fixtures; reference classifier analog /root/reference/libs/
lib_file_name.py:22-136)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from logspark import pipeline, tokens

FIXTURES = [
    # (name, source, line, expected dict)
    (
        "ncsa_combined",
        "apache-hiperion",
        '203.0.113.7 - - [07/Mar/2024:10:15:30 +0000] "GET /article/42?q=spark HTTP/1.1" '
        '200 5120 "http://ref.example.com/" "Mozilla/5.0 (X11; Linux) Gecko"',
        dict(
            fmt="ncsa_combined",
            ip="203.0.113.7",
            method="GET",
            path="/article/42?q=spark",
            stem="/article/42",
            query="q=spark",
            status=200,
            nbytes=5120,
            referrer="http://ref.example.com/",
            user_agent="Mozilla/5.0 (X11; Linux) Gecko",
            ts_s="2024-03-07 10:15:30",
            route="visit",
        ),
    ),
    (
        "ncsa_common",
        "varnish02",
        '203.0.113.7 - - [07/Mar/2024:10:15:30 +0000] "GET /a.css HTTP/1.0" 304 -',
        dict(
            fmt="ncsa_common",
            status=304,
            nbytes=None,
            user_agent=None,
            referrer=None,
            route="redirect",
        ),
    ),
    (
        "nginx_json",
        "nginx-json01",
        '{"remote_addr":"10.0.0.1","time_local":"07/Mar/2024:10:15:30 +0000",'
        '"request":"GET /files/x.pdf HTTP/1.1","status":200,"body_bytes_sent":77,'
        '"http_referer":"-","http_user_agent":"curl/8.0"}',
        dict(
            fmt="nginx_json",
            ip="10.0.0.1",
            path="/files/x.pdf",
            nbytes=77,
            referrer=None,
            user_agent="curl/8.0",
            route="download",
        ),
    ),
    (
        "w3c_extended",
        "w3c-node03",
        "2024-03-07 10:15:30 10.0.0.2 GET /img/a.png - 200 321 Mozilla/5.0+(X11) "
        "http://r.example.com/",
        dict(
            fmt="w3c_extended",
            ip="10.0.0.2",
            stem="/img/a.png",
            status=200,
            nbytes=321,
            user_agent="Mozilla/5.0 (X11)",
            referrer="http://r.example.com/",
            ts_s="2024-03-07 10:15:30",
            route="static",
        ),
    ),
    (
        "iis",
        "iis01",
        "2024-03-07 10:15:30 W3SVC1 10.1.1.1 GET /admin/x - 80 - 10.0.0.3 Browser+X 200",
        dict(
            fmt="iis",
            ip="10.0.0.3",
            stem="/admin/x",
            status=200,
            nbytes=None,
            user_agent="Browser X",
            referrer=None,
            route="filtered",
        ),
    ),
    (
        "cloudfront",
        "cloudfront-dist1",
        "2024-03-07\t10:15:30\tLAX50\t512\t10.0.0.4\tGET\td1.cf.net\t/redirect\t200\t-"
        "\tMozilla+UA\tto=http://ext.example.com",
        dict(
            fmt="cloudfront",
            ip="10.0.0.4",
            stem="/redirect",
            query="to=http://ext.example.com",
            status=200,
            nbytes=512,
            user_agent="Mozilla UA",
            referrer=None,
            route="outlink",
        ),
    ),
    (
        "bots",
        "apache-hiperion",
        '1.2.3.4 - - [07/Mar/2024:10:15:30 +0000] "GET /article/1 HTTP/1.1" 200 10 '
        '"-" "Googlebot/2.1 (+http://www.google.com/bot.html)"',
        dict(fmt="ncsa_combined", route="bot"),
    ),
    (
        "garbage",
        "apache-hiperion",
        "not a log line at all ###",
        dict(fmt="unknown", route="invalid"),
    ),
]


@pytest.fixture(scope="module")
def parsed(spark):
    rows = [(name, src, line) for name, src, line in [(n, s, l) for n, s, l, _ in FIXTURES]]
    df = spark.createDataFrame(rows, "name string, source string, line string")
    # tokenized like the corpus, so the golden lines also pass the codec
    corpus = tokens.with_tokens(df).drop("line")
    out = pipeline.routed_hits(spark, corpus).withColumn(
        "ts_s", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    )
    return {r["name"]: r.asDict() for r in out.collect()}


@pytest.mark.parametrize("name,source,line,expected", FIXTURES, ids=[f[0] for f in FIXTURES])
def test_fixture(parsed, name, source, line, expected):
    got = parsed[name]
    for k, v in expected.items():
        assert got[k] == v, f"{name}.{k}: got {got[k]!r} want {v!r}"


def test_grok_compile_and_extract(spark):
    from logspark import grok

    regex, fields = grok.compile_grok("%{IP:ip} x.y %{NUMBER:n}")
    assert fields == ["ip", "n"]
    # literal dots escaped, unnamed groups absent
    assert r"x\.y" in regex and regex.count("(") - regex.count("(?:") == 2

    import pytest as _pytest

    with _pytest.raises(KeyError, match="unknown grok"):
        grok.compile_grok("%{NOPE:x}")

    df = spark.createDataFrame(
        [("10.0.0.1 x.y 42",), ("garbage",)], "line string"
    )
    rows = {
        r["line"]: (r["ip"], r["n"])
        for r in grok.grok_extract(df, "%{IP:ip} x.y %{NUMBER:n}").collect()
    }
    assert rows["10.0.0.1 x.y 42"] == ("10.0.0.1", "42")
    assert rows["garbage"] == ("", "")  # anchored non-match -> empties


def test_grok_templates_dispatch_matrix(spark):
    """Each per-format grok template matches EXACTLY its own format's
    lines over the full generated taxonomy — the anchored match is the
    dispatch, so cross-format acceptance (e.g. ncsa_common matching a
    combined line, or IIS matching W3C) is a template bug this pins."""
    from logspark import gen_sql, grok

    corpus = spark.sql(gen_sql.corpus_sql(gen_sql.rel_from_range(400))).select(
        "fmt", "corrupt", "line"  # drop ground-truth fields that would
    )  # collide with the grok-extracted column names
    templates = {
        "ncsa_combined": grok.NCSA_COMBINED_TEMPLATE,
        "ncsa_common": grok.NCSA_COMMON_TEMPLATE,
        "w3c_extended": grok.W3C_EXTENDED_TEMPLATE,
        "iis": grok.IIS_TEMPLATE,
        "cloudfront": grok.CLOUDFRONT_TEMPLATE,
    }
    truth = {
        r["fmt"]: r["cnt"]
        for r in corpus.filter("NOT corrupt").groupBy("fmt").count()
        .withColumnRenamed("count", "cnt").collect()
    }
    for fmt, tpl in templates.items():
        g = grok.grok_extract(corpus, tpl).filter(F.col("status") != "")
        got = {
            r["fmt"]: r["cnt"]
            for r in g.groupBy("fmt").count()
            .withColumnRenamed("count", "cnt").collect()
        }
        assert got == {fmt: truth[fmt]}, f"{fmt}: matched {got}, want only own"
    # the JSON arm: from_json, NULL struct on every other format
    j = grok.nginx_json_extract(corpus).filter(F.col("status").isNotNull())
    got_j = {r["fmt"]: r["cnt"] for r in j.groupBy("fmt").count()
             .withColumnRenamed("count", "cnt").collect()}
    assert got_j == {"nginx_json": truth["nginx_json"]}
