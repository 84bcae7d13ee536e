"""Grok pattern support: `%{NAME:field}` templates compiled to regex columns.

The north-star contract names "grok/regex parse" as the parse surface; the
reference's operators hand-write regexes per format (its per-format parse
maps, and /root/reference/libs/lib_file_name.py's classifier regexes). This
module gives the user-facing grok layer on top: a dictionary of named
sub-patterns and a compiler that turns a grok template into ONE anchored
regex whose captures become named DataFrame columns via `regexp_extract`
with group indices — plain column expressions, whole-stage-codegen'd, no
Python in the row path.

Dialect note: every pattern below stays inside the regex subset that Java
(Spark) and RE2 (DuckDB) interpret identically — character classes,
quantifiers, alternation; no lookaround, no backreferences — so a grok
extraction is DuckDB-oracle-checkable. The stronger check used by the
driver query: extracted fields are compared against the corpus GROUND
TRUTH fields (no regex on the oracle side at all), so a wrong pattern
cannot "agree" with itself.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the core grok vocabulary (subset sufficient for access-log work; extend
# freely — compile() is generic)
GROK_PATTERNS: dict[str, str] = {
    "IP": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "WORD": r"\w+",
    "NUMBER": r"\d+",
    "INT": r"[+-]?\d+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "QUOTEDSTRING": r"[^\"]*",
    "HTTPDATE": r"[^\]]+",
    "URIPATH": r"[^\s?\"]+",
    "USER": r"[\w.-]+",
}

_TOKEN = re.compile(r"%\{(\w+)(?::(\w+))?\}")


def compile_grok(template: str) -> tuple[str, list[str]]:
    """Grok template -> (regex with one capture group per named token,
    field names in group order). Unnamed tokens match without capturing.
    Literal text between tokens is regex-escaped."""
    fields: list[str] = []
    out: list[str] = []
    pos = 0
    for m in _TOKEN.finditer(template):
        out.append(re.escape(template[pos : m.start()]))
        name, field = m.group(1), m.group(2)
        if name not in GROK_PATTERNS:
            raise KeyError(f"unknown grok pattern %{{{name}}}")
        sub = GROK_PATTERNS[name]
        if field:
            fields.append(field)
            out.append(f"({sub})")
        else:
            out.append(f"(?:{sub})")
        pos = m.end()
    out.append(re.escape(template[pos:]))
    return "".join(out), fields


def grok_extract(df: DataFrame, template: str) -> DataFrame:
    """Append one column per named grok field of the ``line`` column (empty
    string on no-match, regexp_extract semantics). The match is anchored at
    both ends, so it is also the format dispatch. One compiled regex
    evaluated per group — Catalyst CSEs the shared match machinery; all
    JVM-side."""
    regex, fields = compile_grok(template)
    regex = f"^{regex}$"
    cols: list[Column] = [
        F.regexp_extract(F.col("line"), regex, i + 1).alias(f)
        for i, f in enumerate(fields)
    ]
    return df.select("*", *cols)


# the NCSA combined template in grok form (reference parse target); literal
# text (brackets, quotes) is escaped by the compiler, not pre-escaped here
NCSA_COMBINED_TEMPLATE = (
    '%{IP:ip} %{NOTSPACE} %{NOTSPACE} [%{HTTPDATE:ts}] '
    '"%{WORD:method} %{NOTSPACE:path} %{NOTSPACE}" '
    '%{NUMBER:status} %{NOTSPACE:nbytes} '
    '"%{DATA:referrer}" "%{QUOTEDSTRING:ua}"'
)


# W3C extended (space-separated: date time c-ip cs-method cs-uri-stem
# cs-uri-query sc-status sc-bytes cs(User-Agent) cs(Referer)). The anchored
# 10-field shape rejects every other corpus format: IIS has 12 fields, NCSA
# starts with an IP, cloudfront is tab-separated (literal ' ' does not match
# a tab), nginx_json has no third-field IP.
W3C_EXTENDED_TEMPLATE = (
    "%{NOTSPACE:date} %{NOTSPACE:time} %{IP:ip} %{WORD:method} "
    "%{URIPATH:stem} %{NOTSPACE:query} %{NUMBER:status} %{NOTSPACE:nbytes} "
    "%{NOTSPACE:ua} %{NOTSPACE:referrer}"
)


# NCSA common: the combined template minus the trailing quoted
# referrer/user-agent pair. The anchored END is what separates the two
# dialects — a combined line still carries ' "ref" "ua"' after the bytes
# field, so the anchored common template rejects it (and vice versa:
# common lines lack the quoted pair the combined template requires).
NCSA_COMMON_TEMPLATE = (
    '%{IP:ip} %{NOTSPACE} %{NOTSPACE} [%{HTTPDATE:ts}] '
    '"%{WORD:method} %{NOTSPACE:path} %{NOTSPACE}" '
    '%{NUMBER:status} %{NOTSPACE:nbytes}'
)


# IIS W3C flavor (space-separated: date time s-sitename s-ip cs-method
# cs-uri-stem cs-uri-query s-port cs-username c-ip cs(User-Agent)+
# sc-status). The literal 'W3SVC' site-name prefix in field 3 is the
# structural discriminator vs plain W3C extended (whose field 3 is the
# client IP); 12 anchored fields reject every other format.
IIS_TEMPLATE = (
    "%{NOTSPACE:date} %{NOTSPACE:time} W3SVC%{NUMBER} %{IP} %{WORD:method} "
    "%{URIPATH:stem} %{NOTSPACE:query} %{NUMBER} %{NOTSPACE} %{IP:ip} "
    "%{NOTSPACE:ua} %{NUMBER:status}"
)


# Amazon CloudFront access logs are TAB-separated (date time x-edge-location
# sc-bytes c-ip cs-method cs(Host) cs-uri-stem sc-status cs(Referer)
# cs(User-Agent)+ cs-uri-query). The literal tabs in the template are the
# structural discriminator: space-separated formats cannot match a single
# one of them, and a cloudfront line contains no plain spaces (UA is
# '+'-encoded), so the space-separated templates reject it symmetrically.
CLOUDFRONT_TEMPLATE = (
    "%{NOTSPACE:date}\t%{NOTSPACE:time}\t%{NOTSPACE}\t%{NOTSPACE:nbytes}\t"
    "%{IP:ip}\t%{WORD:method}\t%{NOTSPACE}\t%{URIPATH:stem}\t%{NUMBER:status}\t"
    "%{NOTSPACE:referrer}\t%{NOTSPACE:ua}\t%{NOTSPACE:query}"
)


def nginx_json_extract(df: DataFrame) -> DataFrame:
    """The nginx-JSON member of the format taxonomy. JSON is not
    regex-shaped — a grok template cannot parse nested quoting/escapes
    correctly — so this dispatch arm is `from_json` against the documented
    schema (logspark/formats.py): still ONE JVM-side parse per row, still
    whole-plan Catalyst, zero Python. Lines of any other format (or corrupt
    lines) parse to a NULL struct and drop out exactly like an anchored
    grok non-match. Fields are surfaced under the same names the grok
    templates use (ip/method/status/...) so downstream aggregation code is
    format-agnostic."""
    from logspark import formats

    j = F.from_json(F.col("line"), formats.NGINX_JSON_SCHEMA)
    req = F.split(j["request"], " ")
    return df.select(
        "*",
        j["remote_addr"].alias("ip"),
        req.getItem(0).alias("method"),
        req.getItem(1).alias("path"),
        j["status"].cast("string").alias("status"),
        j["body_bytes_sent"].cast("string").alias("nbytes"),
        j["http_referer"].alias("referrer"),
        j["http_user_agent"].alias("ua"),
    )
