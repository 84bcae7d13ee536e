"""Semantics of the Matomo visit model + referrer attribution."""

import datetime

from pyspark.sql import functions as F


def _hits(spark, rows):
    """rows: (doc_id, ip, ua, minute_offset) -> parsed-hit shaped df."""
    base = datetime.datetime(2024, 3, 5, 10, 0, 0)
    data = [
        (d, ip, ua, base + datetime.timedelta(seconds=sec))
        for (d, ip, ua, sec) in rows
    ]
    return spark.createDataFrame(
        data, "doc_id long, ip string, user_agent string, ts timestamp"
    )


def test_visit_splits_strictly_after_30min_gap(spark):
    from logspark import visits

    df = _hits(
        spark,
        [
            (1, "1.1.1.1", "ua", 0),
            (2, "1.1.1.1", "ua", 1800),  # exactly 30 min later: SAME visit
            (3, "1.1.1.1", "ua", 3601),  # 1801 s after hit 2: NEW visit
            (4, "2.2.2.2", "ua", 10),  # other visitor: its own visit
            (5, "1.1.1.1", "other-ua", 10),  # same ip, other UA: own visit
        ],
    )
    s = visits.sessionize_hits(df)
    got = {
        r["doc_id"]: (r["ip"], r["ua_k"], r["visit_id"])
        for r in s.collect()
    }
    assert got[1] == ("1.1.1.1", "ua", 1)
    assert got[2] == ("1.1.1.1", "ua", 1)  # boundary is > gap, not >=
    assert got[3] == ("1.1.1.1", "ua", 2)
    assert got[4][2] == 1 and got[5][2] == 1


def test_visit_table_one_row_per_visit(spark):
    from logspark import visits

    # tsec = seconds since day-of-month 0: 10:00 on the 5th
    t0 = 5 * 86400 + 36000
    df = _hits(
        spark,
        [
            (1, "1.1.1.1", "ua", 0),
            (2, "1.1.1.1", "ua", 60),
            (3, "1.1.1.1", "ua", 7200),  # > 30 min gap: visit 2
            (4, "3.3.3.3", "ua", 50400),  # opens 00:00 on day 6
        ],
    )
    got = {
        (r["ip"], r["visit_id"]): (
            r["n_actions"], r["first_tsec"], r["last_tsec"], r["dom"]
        )
        for r in visits.visit_table(visits.sessionize_hits(df)).collect()
    }
    assert got == {
        ("1.1.1.1", 1): (2, t0, t0 + 60, 5),
        ("1.1.1.1", 2): (1, t0 + 7200, t0 + 7200, 5),
        ("3.3.3.3", 1): (1, t0 + 50400, t0 + 50400, 6),
    }


def test_visitor_frequency_splits_new_vs_returning(spark):
    from logspark import visits

    # visitor A: first visit (2 actions), then a returning visit (1 action)
    # visitor B: single visit (1 action) — never returns
    df = _hits(
        spark,
        [
            (1, "1.1.1.1", "ua", 0),
            (2, "1.1.1.1", "ua", 60),
            (3, "1.1.1.1", "ua", 7200),  # > 30 min gap: visit 2 (returning)
            (4, "3.3.3.3", "ua", 0),
        ],
    )
    out = {r["dom"]: r for r in visits.visitor_frequency(df).collect()}
    assert set(out) == {5}
    r = out[5]
    assert r["n_new_visits"] == 2  # A's visit 1 + B's visit 1
    assert r["n_returning_visits"] == 1  # A's visit 2
    assert r["actions_new"] == 3
    assert r["actions_returning"] == 1


def test_visit_daily_stats_bounces_and_first_hit_day(spark):
    from logspark import visits

    # visitor A: 2-action visit; visitor B: two 1-action visits (bounces)
    df = _hits(
        spark,
        [
            (1, "1.1.1.1", "ua", 0),
            (2, "1.1.1.1", "ua", 60),
            (3, "3.3.3.3", "ua", 0),
            (4, "3.3.3.3", "ua", 7200),
        ],
    )
    out = {r["dom"]: r for r in visits.visit_daily_stats(df).collect()}
    assert set(out) == {5}
    assert out[5]["n_visits"] == 3
    assert out[5]["n_bounces"] == 2
    assert out[5]["total_actions"] == 4


def test_referrer_attribution_classes(spark):
    from logspark import enrich

    df = spark.createDataFrame(
        [
            (1, None),  # direct (no referrer / '-')
            (2, "http://ref-3.example.com/"),  # search: findex
            (3, "https://ref-3.example.com/path?x=1"),  # scheme/path variants
            (4, "http://ref-4.example.com/"),  # website
        ],
        "doc_id long, referrer string",
    )
    out = {
        r["doc_id"]: (r["referrer_type"], r["referrer_name"])
        for r in enrich.with_referrer_attribution(df, spark).collect()
    }
    assert out[1] == ("direct", None)
    assert out[2] == ("search", "findex")
    assert out[3] == ("search", "findex")
    assert out[4] == ("website", "ref-4.example.com")


def _hits_stem(spark, rows):
    """rows: (doc_id, ip, stem, sec_offset) -> parsed-hit df (one UA)."""
    base = datetime.datetime(2024, 3, 5, 10, 0, 0)
    data = [
        (d, ip, "ua", stem, base + datetime.timedelta(seconds=sec))
        for (d, ip, stem, sec) in rows
    ]
    return spark.createDataFrame(
        data,
        "doc_id long, ip string, user_agent string, stem string, "
        "ts timestamp",
    )


def test_entry_exit_pages_first_and_last_action(spark):
    from logspark import visits

    # one visit /a -> /b -> /c ; one bounce on /b (entry AND exit)
    df = _hits_stem(
        spark,
        [
            (1, "1.1.1.1", "/a", 0),
            (2, "1.1.1.1", "/b", 60),
            (3, "1.1.1.1", "/c", 120),
            (4, "2.2.2.2", "/b", 0),
        ],
    )
    out = {r["stem"]: r for r in visits.entry_exit_pages(df).collect()}
    assert (out["/a"]["n_entries"], out["/a"]["n_exits"]) == (1, 0)
    assert (out["/b"]["n_entries"], out["/b"]["n_exits"]) == (1, 1)
    assert (out["/c"]["n_entries"], out["/c"]["n_exits"]) == (0, 1)


def test_entry_exit_same_second_tie_breaks_on_doc_id(spark):
    from logspark import visits

    # two hits in the SAME second: doc_id decides entry vs exit, so both
    # engines (struct-min vs row_number oracle) agree on a total order
    df = _hits_stem(
        spark, [(9, "1.1.1.1", "/late", 0), (2, "1.1.1.1", "/early", 0)]
    )
    out = {r["stem"]: r for r in visits.entry_exit_pages(df).collect()}
    assert out["/early"]["n_entries"] == 1
    assert out["/late"]["n_exits"] == 1


def test_visit_duration_buckets_boundaries(spark):
    from logspark import visits

    # durations: 0s (bounce), 10s (edge of 0-10s), 11s (11-30s), 3000s
    # within one visit would split at >1800s gaps, so build via 2-hit
    # visits with distinct visitors
    df = _hits_stem(
        spark,
        [
            (1, "1.1.1.1", "/x", 0),
            (2, "2.2.2.2", "/x", 0),
            (3, "2.2.2.2", "/x", 10),
            (4, "3.3.3.3", "/x", 0),
            (5, "3.3.3.3", "/x", 11),
            (6, "4.4.4.4", "/x", 0),
            (7, "4.4.4.4", "/x", 1700),
        ],
    )
    out = {r["bucket"]: r for r in visits.visit_duration_buckets(df).collect()}
    assert out["0-10s"]["n_visits"] == 2  # the 0s bounce + the 10s visit
    assert out["0-10s"]["total_s"] == 10
    assert out["11-30s"]["n_visits"] == 1
    assert out["15-30min"]["n_visits"] == 1


def test_site_search_param_priority_and_outlink_host(spark):
    from logspark import actions

    df = spark.createDataFrame(
        [
            (1, "1.1.1.1", "q=alpha&search=beta", "page", True),
            (2, "1.1.1.1", "search=beta", "page", True),
            (3, "2.2.2.2", "searchword=", "page", True),  # empty: no search
            (4, "2.2.2.2", "to=https://ext.example.org/x?y", "outlink", True),
            (5, "3.3.3.3", "to=http://ext.example.org", "outlink", True),
            (6, "3.3.3.3", "to=http://other.org/", "outlink", False),
        ],
        "doc_id long, ip string, query string, route string, parsed_ok boolean",
    )
    kw = {r["keyword"]: r for r in actions.site_search_keywords(df).collect()}
    # q= outranks search= on row 1 (Matomo param priority)
    assert kw["alpha"]["n_searches"] == 1
    assert kw["beta"]["n_searches"] == 1
    assert set(kw) == {"alpha", "beta"}

    dom = {r["domain"]: r for r in actions.outlink_domains(df).collect()}
    # host stops at / and ?; unparsed row 6 excluded
    assert set(dom) == {"ext.example.org"}
    assert dom["ext.example.org"]["n_hits"] == 2
    assert dom["ext.example.org"]["n_ips"] == 2


def test_visit_hours_buckets_on_first_action(spark):
    from logspark import visits

    # visitor A opens at 10:00 with 2 actions (2nd at 10:40 — same visit?
    # no: 2400 s gap > 1800 -> it's a NEW visit in hour 10).
    # visitor B opens at 10:05, single action -> bounce in hour 10.
    df = _hits(
        spark,
        [
            (1, "1.1.1.1", "ua", 0),
            (2, "1.1.1.1", "ua", 60),  # same visit (1 min later)
            (3, "1.1.1.1", "ua", 2400 + 60),  # >30 min after hit 2: new visit
            (4, "2.2.2.2", "ua", 300),  # bounce
        ],
    )
    out = {r["hour_of_day"]: r for r in visits.visit_hours(df).collect()}
    assert set(out) == {10}
    h = out[10]
    assert h["n_visits"] == 3  # A's two visits + B's one
    assert h["n_actions"] == 4
    assert h["n_bounces"] == 2  # A's 1-action second visit + B
    assert h["n_visitors"] == 2


def test_device_report_classifies_families(spark):
    from logspark import enrich

    rows = [
        # (doc_id, ip, user_agent)
        (1, "1.1.1.1", "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36"),
        (2, "1.1.1.1", "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36"),
        (3, "2.2.2.2", "curl/8.0 spider-probe"),  # 'spider' wins: bot
        (4, "3.3.3.3", "wget/1.21"),
        (5, "4.4.4.4", "Googlebot/2.1 (+http://www.google.com/bot.html)"),
        (6, "5.5.5.5", None),  # format without a UA field
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, ip string, user_agent string"
    )
    out = {
        (r["browser"], r["browser_major"], r["os_family"], r["device_type"]): (
            r["n_hits"],
            r["n_visitors"],
        )
        for r in enrich.device_report(df).collect()
    }
    assert out[("mozilla", 5, "linux", "desktop")] == (2, 1)
    assert out[("curl", 8, "other", "bot")] == (1, 1)
    assert out[("wget", 1, "other", "cli")] == (1, 1)
    assert out[("googlebot", 2, "other", "bot")] == (1, 1)
    assert out[("unknown", None, "unknown", "unknown")] == (1, 1)


def test_bot_velocity_flags_burst_ip(spark):
    import datetime

    from logspark import rules

    base = datetime.datetime(2024, 3, 5, 10, 0, 0)
    rows = [
        # burst IP: 6 hits inside minute 0, 1 hit in minute 2
        *[("9.9.9.9", base + datetime.timedelta(seconds=i)) for i in range(6)],
        ("9.9.9.9", base + datetime.timedelta(seconds=125)),
        # calm IP: 3 hits across 3 minutes
        *[("1.1.1.1", base + datetime.timedelta(seconds=61 * i)) for i in range(3)],
    ]
    df = spark.createDataFrame(
        [(ip, ts, True) for ip, ts in rows],
        "ip string, ts timestamp, parsed_ok boolean",
    )
    out = {r["ip"]: r for r in rules.bot_velocity(df).collect()}
    hot = out["9.9.9.9"]
    assert (hot["total_hits"], hot["n_active_minutes"], hot["max_per_minute"]) == (7, 2, 6)
    assert hot["flagged"] is True
    calm = out["1.1.1.1"]
    assert calm["max_per_minute"] == 1 and calm["flagged"] is False


def test_bot_velocity_months_apart_matches_oracle(spark):
    """The same minute of the same day-of-month in two different months
    is two active minutes, in Spark and in the DuckDB oracle alike (the
    oracle's routed relation swapped for the same two hits)."""
    import datetime

    import duckdb

    import __spark_entry__ as entry
    from logspark import rules

    hits = [
        ("10.0.0.7", datetime.datetime(2024, 3, 3, 10, 15)),
        ("10.0.0.7", datetime.datetime(2024, 4, 3, 10, 15)),
    ]
    df = spark.createDataFrame(
        [(ip, ts, True) for ip, ts in hits],
        "ip string, ts timestamp, parsed_ok boolean",
    )
    got = [tuple(r) for r in rules.bot_velocity(df).collect()]

    values = ", ".join(
        f"('{ip}', '{ts:%Y-%m-%d}', '{ts:%d}', '{ts:%H}', '{ts:%M}', false)"
        for ip, ts in hits
    )
    rel = f"SELECT * FROM (VALUES {values}) v(ip, iso_date, dd, hh, mi, corrupt)"
    sql = entry.oracle_sql()["bot_velocity"]
    assert entry._ORACLE_ROUTED in sql
    with duckdb.connect() as con:
        want = con.execute(sql.replace(entry._ORACLE_ROUTED, rel)).fetchall()

    assert got == want == [("10.0.0.7", 2, 2, 1, False)]


def test_trending_paths_growth_and_first_day(spark):
    import datetime

    from logspark import actions

    def hit(stem, day, n):
        return [
            (
                stem,
                datetime.datetime(2024, 3, day, 10, 0, 0)
                + datetime.timedelta(seconds=i),
                True,
            )
            for i in range(n)
        ]

    rows = (
        hit("/a", 1, 2) + hit("/a", 2, 10)  # growth 8 on day 2
        + hit("/b", 2, 5)                   # first day: growth = 5
        + hit("/c", 1, 7) + hit("/c", 2, 3) # decline: growth -4
    )
    df = spark.createDataFrame(
        rows, "stem string, ts timestamp, parsed_ok boolean"
    )
    got = [
        (r["stem"], r["day"], r["growth"])
        for r in actions.trending_paths(df).collect()
    ]
    # all five (stem, day) rows fit in the top TRENDING_TOP_K
    assert got == [
        ("/a", 2, 8), ("/c", 1, 7), ("/b", 2, 5), ("/a", 1, 2), ("/c", 2, -4)
    ]


def test_pages_per_visit_bucket_boundaries(spark):
    from logspark import visits

    # one visitor per target bucket: 1, 3, 6, and 14 actions in one visit
    rows = []
    for i, n in enumerate([1, 3, 6, 14]):
        rows += [(100 * i + j, f"10.0.0.{i}", "ua", j) for j in range(n)]
    df = _hits(spark, rows)
    out = {r["bucket"]: r for r in visits.pages_per_visit_buckets(df).collect()}
    assert out["1p"]["n_visits"] == 1 and out["1p"]["total_actions"] == 1
    assert out["2-3p"]["n_visits"] == 1 and out["2-3p"]["total_actions"] == 3
    assert out["6-8p"]["n_visits"] == 1
    assert out["14p+"]["n_visits"] == 1 and out["14p+"]["total_actions"] == 14
    assert "4-5p" not in out and "9-13p" not in out


def test_campaign_attribution_first_tagged_action_and_priority(spark):
    import datetime

    from logspark import visits

    base = datetime.datetime(2024, 3, 5, 10, 0, 0)

    def hit(doc_id, ip, sec, query):
        return (doc_id, ip, "ua", base + datetime.timedelta(seconds=sec), query)

    df = spark.createDataFrame(
        [
            # visitor A, one visit: untagged first action, then utm-tagged,
            # then a LATER pk-tagged action — attribution sticks to the
            # first TAGGED action (utm), not the first action or the
            # higher-priority param on a later action
            hit(1, "1.1.1.1", 0, ""),
            hit(2, "1.1.1.1", 60, "utm_campaign=c1&utm_source=s1"),
            hit(3, "1.1.1.1", 120, "pk_campaign=c2"),
            # visitor B: pk_campaign beats utm_campaign ON THE SAME action
            hit(4, "2.2.2.2", 0, "utm_campaign=shadow&pk_campaign=real"),
            # visitor C: never tagged -> excluded from the report
            hit(5, "3.3.3.3", 0, "q=spark"),
        ],
        "doc_id long, ip string, user_agent string, ts timestamp, query string",
    )
    out = {
        (r["campaign"], r["source"], r["medium"]): (
            r["n_visits"],
            r["total_actions"],
        )
        for r in visits.campaign_attribution(df).collect()
    }
    assert out == {
        ("c1", "s1", "(not set)"): (1, 3),
        ("real", "(not set)", "(not set)"): (1, 1),
    }
