"""Per-format vectorized field extraction — pure Spark SQL expressions.

The reference's analog is its per-collection classifier/extractor tree
(/root/reference/libs/lib_file_name.py:22-136: nested substring/regex decision
functions) and the implied Matomo import_logs format contract (SURVEY.md §0.1).

Execution-cost design (measured this session): expensive shared subexpressions
(the one NCSA regexp_replace pass, the one from_json parse, the space/tab
splits) are materialized as *their own columns* in a dedicated projection, and
every extracted field only references those columns. Composing them inline
would copy the regex/JSON subtree once per extracted field (8-13 copies —
from_json is CodegenFallback, so runtime subexpression elimination cannot
dedupe it; we measured a 60x slowdown). CollapseProject keeps multi-referenced
non-cheap producers materialized, so each row pays exactly ONE regex pass and
ONE JSON parse.

Field orders (the format contract logspark/gen_sql.py emits):

  ncsa_common    : IP - IDENT [dd/Mon/yyyy:HH:mm:ss +0000] "METHOD PATH HTTP/x" STATUS BYTES
  ncsa_combined  : ncsa_common + ' "REFERRER" "USER_AGENT"'
  nginx_json     : {remote_addr, time_local, request, status, body_bytes_sent,
                    http_referer, http_user_agent}
  w3c_extended   : date time c-ip cs-method cs-uri-stem cs-uri-query sc-status
                   sc-bytes cs(User-Agent)+ cs(Referer)+   (space-sep, +=space enc)
  iis            : date time s-sitename s-ip cs-method cs-uri-stem cs-uri-query
                   s-port cs-username c-ip cs(User-Agent)+ sc-status (space-sep)
  cloudfront     : date time x-edge-location sc-bytes c-ip cs-method cs(Host)
                   cs-uri-stem sc-status cs(Referer) cs(User-Agent)+ cs-uri-query
                   (tab-sep)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SEP = "\x01"  # delimiter injected by regexp_replace; never occurs in log lines

# NCSA common/combined in one pattern; trailing referrer/UA quoted pair
# optional (non-participating groups -> empty strings in the record).
NCSA_RE = (
    r'^(\S+) (\S+) (\S+) \[([^\]]+)\] "(\S+) (\S+)(?: [^"]*)?" (\d{3}) (\S+)'
    r'(?: "([^"]*)" "([^"]*)")?\s*$'
)
NCSA_REPL = SEP.join([f"${i}" for i in (1, 4, 5, 6, 7, 8, 9, 10)])

NGINX_JSON_SCHEMA = T.StructType(
    [
        T.StructField("remote_addr", T.StringType()),
        T.StructField("time_local", T.StringType()),
        T.StructField("request", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("body_bytes_sent", T.LongType()),
        T.StructField("http_referer", T.StringType()),
        T.StructField("http_user_agent", T.StringType()),
    ]
)

# detection probes (cheap anchored patterns, evaluated in dispatch order)
PROBE_JSON = r"^\{"
PROBE_TAB = "\t"
PROBE_IIS = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2} W3SVC"
PROBE_W3C = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2} \d+\.\d+\.\d+\.\d+ "
PROBE_NCSA = r'^\d+\.\d+\.\d+\.\d+ \S+ \S+ \[[^\]]+\] "'


def detect_format(line: Column) -> Column:
    """Format auto-detection dispatch (analog of the reference's dispatch
    table, lib_file_name.py:120-136): ordered rlike probes, first match wins,
    unmatched -> 'unknown' (reference returns '' — values.py:85)."""
    quotes = F.length(line) - F.length(F.regexp_replace(line, '"', ""))
    return (
        F.when(line.rlike(PROBE_JSON), "nginx_json")
        .when(F.instr(line, PROBE_TAB) > 0, "cloudfront")
        .when(line.rlike(PROBE_IIS), "iis")
        .when(line.rlike(PROBE_W3C), "w3c_extended")
        .when(line.rlike(PROBE_NCSA) & (quotes >= F.lit(6)), "ncsa_combined")
        .when(line.rlike(PROBE_NCSA), "ncsa_common")
        .otherwise(F.lit("unknown"))
    )


def with_records(df: DataFrame) -> DataFrame:
    """Projection 1: fmt of the ``line`` column; projection 2: shared
    per-format record columns.

    rec_n — NCSA groups via ONE regexp_replace pass + split
    rec_s — space-split fields (iis / w3c_extended)
    rec_t — tab-split fields (cloudfront)
    j     — parsed JSON struct (nginx_json), ONE from_json per row
    """
    line = F.col("line")
    df = df.withColumn("fmt", detect_format(line))
    fmt = F.col("fmt")
    return df.withColumns(
        {
            "rec_n": F.when(
                fmt.isin("ncsa_common", "ncsa_combined"),
                F.split(F.regexp_replace(line, NCSA_RE, NCSA_REPL), SEP, -1),
            ),
            "rec_s": F.when(fmt.isin("iis", "w3c_extended"), F.split(line, " ", -1)),
            "rec_t": F.when(fmt == "cloudfront", F.split(line, "\t", -1)),
            "j": F.when(fmt == "nginx_json", F.from_json(line, NGINX_JSON_SCHEMA)),
        }
    )


def _nullif_dash(c: Column) -> Column:
    return F.when((c == "-") | (c == ""), F.lit(None).cast("string")).otherwise(c)


def _plus_decode(c: Column) -> Column:
    return F.replace(c, F.lit("+"), F.lit(" "))


def _dash_query_concat(stem: Column, q: Column) -> Column:
    return F.concat(
        stem, F.when(q == "-", "").otherwise(F.concat(F.lit("?"), q))
    )


def field_columns() -> dict[str, Column]:
    """Projection 3: unified hit fields from the record columns.

    Every expression here references only (fmt, rec_n, rec_s, rec_t, j) —
    cheap attribute reads — so the whole map is one slim projection."""
    fmt = F.col("fmt")
    rn = F.col("rec_n")
    rs = F.col("rec_s")
    rt = F.col("rec_t")
    j = F.col("j")

    is_ncsa = fmt.isin("ncsa_common", "ncsa_combined")
    is_ws = fmt.isin("iis", "w3c_extended")
    ncsa_ok = is_ncsa & (F.size(rn) == 8)
    w3c_ok = (fmt == "w3c_extended") & (F.size(rs) == 10)
    iis_ok = (fmt == "iis") & (F.size(rs) == 12)
    cf_ok = (fmt == "cloudfront") & (F.size(rt) == 12)
    json_ok = (fmt == "nginx_json") & j["remote_addr"].isNotNull()

    req = F.split(j["request"], " ")

    ip = (
        F.when(ncsa_ok, rn[0])
        .when(w3c_ok, rs[2])
        .when(iis_ok, rs[9])
        .when(cf_ok, rt[4])
        .when(json_ok, j["remote_addr"])
    )
    ts_str = (
        F.when(ncsa_ok, rn[1])
        .when(w3c_ok | iis_ok, F.concat_ws(" ", rs[0], rs[1]))
        .when(cf_ok, F.concat_ws(" ", rt[0], rt[1]))
        .when(json_ok, j["time_local"])
    )
    method = (
        F.when(ncsa_ok, rn[2])
        .when(w3c_ok, rs[3])
        .when(iis_ok, rs[4])
        .when(cf_ok, rt[5])
        .when(json_ok, req[0])
    )
    path = (
        F.when(ncsa_ok, rn[3])
        .when(w3c_ok, _dash_query_concat(rs[4], rs[5]))
        .when(iis_ok, _dash_query_concat(rs[5], rs[6]))
        .when(cf_ok, _dash_query_concat(rt[7], rt[11]))
        .when(json_ok, req[1])
    )
    status = (
        F.when(ncsa_ok, rn[4])
        .when(w3c_ok, rs[6])
        .when(iis_ok, rs[11])
        .when(cf_ok, rt[8])
        .when(json_ok, j["status"].cast("string"))
        .cast("int")
    )
    nbytes = (
        F.when(ncsa_ok, _nullif_dash(rn[5]))
        .when(w3c_ok, _nullif_dash(rs[7]))
        .when(cf_ok, _nullif_dash(rt[3]))
        .when(json_ok, j["body_bytes_sent"].cast("string"))
        .cast("long")
    )
    referrer = (
        F.when(ncsa_ok, _nullif_dash(rn[6]))
        .when(w3c_ok, _nullif_dash(_plus_decode(rs[9])))
        .when(cf_ok, _nullif_dash(rt[9]))
        .when(json_ok, _nullif_dash(j["http_referer"]))
    )
    user_agent = (
        F.when(ncsa_ok, _nullif_dash(rn[7]))
        .when(w3c_ok, _plus_decode(rs[8]))
        .when(iis_ok, _plus_decode(rs[10]))
        .when(cf_ok, _plus_decode(rt[10]))
        .when(json_ok, j["http_user_agent"])
    )
    return {
        "ip": ip,
        "ts_str": ts_str,
        "method": method,
        "path": path,
        "status": status,
        "nbytes": nbytes,
        "referrer": referrer,
        "user_agent": user_agent,
    }


def ts_expr(fmt: Column, ts_str: Column) -> Column:
    """Per-format timestamp parse -> TimestampType (UTC session tz)."""
    ncsa = F.to_timestamp(ts_str, "dd/MMM/yyyy:HH:mm:ss Z")
    iso = F.to_timestamp(ts_str, "yyyy-MM-dd HH:mm:ss")
    return F.when(
        fmt.isin("ncsa_common", "ncsa_combined", "nginx_json"), ncsa
    ).otherwise(iso)
