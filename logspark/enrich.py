"""Lookup-table enrichments: GeoIP-style range lookup + UA classification.

Matomo's importer geolocates hits and device-detects user agents before
attribution; the reference delegates that to the Matomo server after
routing (its job stops at per-sink counts). This module supplies the
table-driven analogs the pipeline's consumers expect:

  * ``with_geo`` — IP → registry region via a RANGE lookup against a
    (lo, hi, region) table: a broadcast join with a BETWEEN predicate
    (BroadcastNestedLoopJoin). The table is data, not code — ranges change
    without redeploying, unlike a baked-in CASE. Scale: the geo table is
    dimension-sized (broadcast); for very large range sets, bucket the key
    space so the lookup becomes an equi-join on bucket + BETWEEN refine
    (same pattern as logspark/rangejoin.py).
  * ``ua_class`` — user-agent → {bot, cli, browser, other} via anchored
    LIKE patterns (pure column CASE; mirrors the bot taxonomy in
    logspark/rules.py, reference values.py bot markers).

Both are deterministic and DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from logspark.session import local_table

# synthetic-but-deterministic registry ranges over the first IPv4 octet
GEO_RANGES: list[tuple[int, int, str]] = [
    (0, 63, "apnic"),
    (64, 127, "arin"),
    (128, 191, "ripe"),
    (192, 223, "lacnic"),
    (224, 255, "afrinic"),
]


def geo_table(spark: SparkSession) -> DataFrame:
    return local_table(spark, GEO_RANGES, "lo int, hi int, region string")


def first_octet() -> Column:
    return F.split(F.col("ip"), "\\.").getItem(0).cast("int")


def with_geo(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Append ``region`` of the ``ip`` column via broadcast range lookup
    (BETWEEN join)."""
    g = F.broadcast(geo_table(spark))
    o = first_octet()
    return df.withColumn("_oct", o).join(
        g,
        (F.col("_oct") >= F.col("lo")) & (F.col("_oct") <= F.col("hi")),
        "left",
    ).drop("_oct", "lo", "hi")


def ua_class() -> Column:
    ua = F.lower(F.col("user_agent"))
    return (
        F.when(
            ua.like("%bot%") | ua.like("%crawler%") | ua.like("%spider%"),
            "bot",
        )
        .when(ua.like("curl/%") | ua.like("wget/%"), "cli")
        .when(ua.like("mozilla/%"), "browser")
        .otherwise("other")
    )


def anonymize_ip(keep_octets: int = 3) -> Column:
    """Matomo-style IP anonymization (privacy.ipAddressMaskLength): zero
    the trailing 4-``keep_octets`` octets of the ``ip`` column so stored
    hits are k-anonymous at the subnet level. Matomo's tracker does this
    server-side before any visit is persisted; a training-data pipeline
    does it before logs enter the corpus (PII scrubbing).

    Pure column expression (narrow, codegen): splits on the literal dot
    and rebuilds with '0' fillers — no regex dialect exposure, identical
    string math cross-engine. NULL in -> NULL out."""
    if not 0 <= keep_octets <= 4:
        raise ValueError(
            f"keep_octets must be in [0, 4], got {keep_octets} "
            "(mask length N maps to keep_octets = 4 - N)"
        )
    parts = F.split(F.col("ip"), "\\.")
    kept = [parts.getItem(i) for i in range(keep_octets)]
    zeros = [F.lit("0")] * (4 - keep_octets)
    return F.when(
        F.col("ip").isNull(), F.lit(None).cast("string")
    ).otherwise(F.concat_ws(".", *kept, *zeros))


# ---------------------------------------------------------------------------
# Referrer attribution (Matomo Referrers dimension)
# ---------------------------------------------------------------------------

# Search-engine registry: host -> engine name. In Matomo this is the
# bundled SearchEngines.yml shipped as DATA and updated without a code
# deploy; here it is a deterministic dimension table the tests and the
# DuckDB oracle state independently. Table-driven (broadcast join), not a
# baked-in CASE, for exactly that reason.
SEARCH_ENGINES: list[tuple[str, str]] = [
    ("ref-3.example.com", "findex"),
    ("ref-9.example.com", "searchly"),
    ("ref-17.example.com", "querymax"),
    ("ref-23.example.com", "lookup.io"),
    ("ref-31.example.com", "webseek"),
    ("ref-42.example.com", "hoozit"),
]


def search_engine_table(spark: SparkSession) -> DataFrame:
    return local_table(spark, SEARCH_ENGINES, "host string, engine string")


def referrer_host() -> Column:
    """Host part of the ``referrer`` URL — one anchored regex, JVM-side."""
    h = F.regexp_extract(F.col("referrer"), r"^https?://([^/?#]+)", 1)
    return F.when(h == "", F.lit(None).cast("string")).otherwise(h)


def with_referrer_attribution(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Matomo referrer detection over parsed hits.

    Appends (referrer_type, referrer_name):
      * direct  — no referrer on the hit ('-' in the log, or a format
        that doesn't carry one); name is NULL.
      * search  — referrer host is in the search-engine registry; name is
        the engine name. (Keyword extraction from the referrer's query
        string is the same `parse_url`-style regex once referrers carry
        queries; the synthetic corpus' referrers don't, so the column
        would be all-NULL noise here.)
      * website — any other referrer host; name is the host.

    Plan: broadcast HASH join on the extracted host (the registry is
    dimension-sized); everything else is narrow column work — scales as a
    map-side lookup at any corpus size.
    """
    eng = F.broadcast(search_engine_table(spark))
    df = df.withColumn("_rhost", referrer_host())
    df = df.join(eng, df["_rhost"] == eng["host"], "left")
    return (
        df.withColumn(
            "referrer_type",
            F.when(F.col("_rhost").isNull(), "direct")
            .when(F.col("engine").isNotNull(), "search")
            .otherwise("website"),
        )
        .withColumn(
            "referrer_name",
            F.when(F.col("engine").isNotNull(), F.col("engine")).otherwise(
                F.when(F.col("referrer_type") == "website", F.col("_rhost"))
            ),
        )
        .drop("_rhost", "host", "engine")
    )


# first product token of a user agent: "Name/1.2.3 ..." -> (Name, 1.2.3)
UA_PRODUCT_RE = r"^([A-Za-z][A-Za-z0-9._-]*)/([0-9][0-9A-Za-z.]*)"


def device_report(df: DataFrame) -> DataFrame:
    """Matomo DevicesDetection analog: (browser, major version, OS family,
    device type) hit/visitor counts from the parsed user agent.

    Matomo runs its DeviceDetector library over the UA at tracking time;
    the reference forwards the raw UA to the server (import_logs sends
    the header through the tracking API). This is the Spark-native
    table: the browser family + version come from the UA's first product
    token (one anchored regex, evaluated JVM-side), the OS family and
    device type from ordered keyword CASEs over the lowercased UA — the
    same taxonomy as ua_class, extended with the os split. Formats that
    carry no UA (ncsa_common) report as 'unknown'.

    Shape: narrow column work then ONE hash agg on a tiny key space
    (families x majors x os x types); the distinct-IP count is the only
    state and is map-side partial. Nothing here grows with corpus size
    except the scan.
    """
    ua0 = F.coalesce(F.col("user_agent"), F.lit(""))
    lua = F.lower(ua0)
    braw = F.regexp_extract(ua0, UA_PRODUCT_RE, 1)
    vraw = F.regexp_extract(ua0, UA_PRODUCT_RE, 2)
    browser = F.when(braw == "", F.lit("unknown")).otherwise(F.lower(braw))
    major = F.when(vraw == "", F.lit(None).cast("int")).otherwise(
        F.regexp_extract(vraw, r"^([0-9]+)", 1).cast("int")
    )
    os_family = (
        F.when(ua0 == "", F.lit("unknown"))
        .when(lua.like("%linux%") | lua.like("%x11%"), "linux")
        .when(lua.like("%windows%"), "windows")
        .when(lua.like("%mac os%") | lua.like("%macintosh%"), "macos")
        .when(lua.like("%android%"), "android")
        .otherwise("other")
    )
    device_type = (
        F.when(ua0 == "", F.lit("unknown"))
        .when(
            lua.like("%bot%") | lua.like("%crawler%") | lua.like("%spider%"),
            "bot",
        )
        .when(lua.like("curl/%") | lua.like("wget/%"), "cli")
        .when(lua.like("mozilla/%"), "desktop")
        .otherwise("unknown")
    )
    return (
        df.select(
            browser.alias("browser"),
            major.alias("browser_major"),
            os_family.alias("os_family"),
            device_type.alias("device_type"),
            "ip",
        )
        .groupBy("browser", "browser_major", "os_family", "device_type")
        .agg(
            F.count("*").alias("n_hits"),
            F.countDistinct("ip").alias("n_visitors"),
        )
    )
