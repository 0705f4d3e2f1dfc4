"""Log-analytics operators: IP parsing/subnet rollup, user-agent
parsing, and log-template mining (Drain-style, digit-masked).

The testdata carries no raw web logs, so each key SYNTHESIZES its
input from event keys by pure deterministic string construction
(the q_mime_sniff precedent: the oracle knows the construction, so
the hash proves the construct → parse → aggregate round trip — the
parse direction is the operator under test, exactly what a 100 TB
web-log pipeline runs over real lines).

Reference parity: none — beyond-reference driver-north-star surface
(log analytics is the canonical "events at scale" workload).

Float policy: everything here is string/integer exact — no doubles
anywhere, so the driver hash is trivially engine-exact.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_rc_spark.functions.exact import md5_int
from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load

# deterministic synthetic IPv4 from user_id (a ∈ [1,223] dodges 0/224+,
# b/c/d full byte range; ~10% of users land in RFC1918 private space)
_IP_DUCK = (
    "CAST(user_id % 223 + 1 AS VARCHAR) || '.' || "
    "CAST(user_id * 7 % 256 AS VARCHAR) || '.' || "
    "CAST(user_id * 13 % 256 AS VARCHAR) || '.' || "
    "CAST(user_id * 31 % 256 AS VARCHAR)"
)
_IP_SPARK = (
    "CONCAT(CAST(user_id % 223 + 1 AS STRING), '.', "
    "CAST(user_id * 7 % 256 AS STRING), '.', "
    "CAST(user_id * 13 % 256 AS STRING), '.', "
    "CAST(user_id * 31 % 256 AS STRING))"
)


@register(
    "q_ip_funcs",
    oracle=f"""
        WITH lines AS (
            SELECT event_id, user_id, {_IP_DUCK} AS ip FROM events
        ), parsed AS (
            SELECT event_id, user_id, ip,
                   CAST(split_part(ip, '.', 1) AS BIGINT) AS o1,
                   CAST(split_part(ip, '.', 2) AS BIGINT) AS o2,
                   CAST(split_part(ip, '.', 3) AS BIGINT) AS o3,
                   CAST(split_part(ip, '.', 4) AS BIGINT) AS o4
            FROM lines
        ), tagged AS (
            SELECT *,
                   o1 * 16777216 + o2 * 65536 + o3 * 256 + o4 AS ip_num,
                   CASE WHEN o1 = 10
                          OR (o1 = 172 AND o2 BETWEEN 16 AND 31)
                          OR (o1 = 192 AND o2 = 168)
                        THEN 1 ELSE 0 END AS is_private
            FROM parsed
        )
        SELECT CAST(o1 AS VARCHAR) || '.' || CAST(o2 AS VARCHAR)
                 || '.0.0/16' AS subnet16,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(is_private) AS BIGINT) AS n_private,
               CAST(MIN(ip_num) AS BIGINT) AS min_ip_num,
               CAST(MAX(ip_num) AS BIGINT) AS max_ip_num
        FROM tagged
        GROUP BY o1, o2
        ORDER BY n_events DESC, subnet16
        LIMIT 10
    """,
    tags=("log", "strings", "agg"),
)
def q_ip_funcs(spark, sf_dir):
    """IPv4 toolkit over a synthesized per-event client IP: octet
    parse, numeric form (the sortable/rangeable representation a
    firewall-log pipeline indexes on), RFC1918 private-space
    classification, and the /16-subnet rollup with distinct-user
    counts — the "which networks hammer us" query.

    Exactness: pure string/integer arithmetic end-to-end; the top-10
    order is made total by the (n_events DESC, subnet16) tie-break.

    Plan at 100 TB: parse + classify are zero-shuffle codegen maps;
    the rollup is one hash agg on the /16 key (≤ 57k groups —
    broadcast-size) + a 10-row TakeOrdered. COUNT(DISTINCT user)
    shuffles (subnet16, user) partials, standard two-level distinct.
    """
    ev = load(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        "user_id",
        F.expr(_IP_SPARK).alias("ip"),
    ).select(
        "event_id",
        "user_id",
        "ip",
        F.element_at(F.split("ip", "\\."), 1).cast("long").alias("o1"),
        F.element_at(F.split("ip", "\\."), 2).cast("long").alias("o2"),
        F.element_at(F.split("ip", "\\."), 3).cast("long").alias("o3"),
        F.element_at(F.split("ip", "\\."), 4).cast("long").alias("o4"),
    )
    tagged = parsed.select(
        "*",
        (
            F.col("o1") * 16777216
            + F.col("o2") * 65536
            + F.col("o3") * 256
            + F.col("o4")
        ).alias("ip_num"),
        F.when(
            (F.col("o1") == 10)
            | ((F.col("o1") == 172) & F.col("o2").between(16, 31))
            | ((F.col("o1") == 192) & (F.col("o2") == 168)),
            1,
        )
        .otherwise(0)
        .alias("is_private"),
    )
    return (
        tagged.groupBy("o1", "o2")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("is_private").cast("long").alias("n_private"),
            F.min("ip_num").alias("min_ip_num"),
            F.max("ip_num").alias("max_ip_num"),
        )
        .select(
            F.concat(
                F.col("o1").cast("string"),
                F.lit("."),
                F.col("o2").cast("string"),
                F.lit(".0.0/16"),
            ).alias("subnet16"),
            "n_events",
            "n_users",
            "n_private",
            "min_ip_num",
            "max_ip_num",
        )
        .orderBy(F.desc("n_events"), "subnet16")
        .limit(10)
    )


# user-agent catalog (public, representative strings); assignment is
# the md5 first-byte idiom (q_ab_ztest's arm derivation) mod 6
_UA_CATALOG = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36"
    " (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15"
    " (KHTML, like Gecko) Version/17.1 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101"
    " Firefox/121.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36"
    " (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X)"
    " AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148"
    " Safari/604.1",
    "curl/8.4.0",
]
_UA_KEY = "'u' || CAST(user_id AS STRING)"


def _ua_case(duck: bool = False) -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{ua}'" for i, ua in enumerate(_UA_CATALOG)
    )
    return f"CASE {md5_int(_UA_KEY, 1, 2, duck=duck)} % 6 {whens} END"


_UA_FAMILY = """
    CASE WHEN ua LIKE '%Edg/%' THEN 'Edge'
         WHEN ua LIKE '%Chrome/%' THEN 'Chrome'
         WHEN ua LIKE '%Firefox/%' THEN 'Firefox'
         WHEN ua LIKE '%Safari/%' AND ua LIKE '%Version/%' THEN 'Safari'
         WHEN ua LIKE 'curl/%' THEN 'curl'
         ELSE 'Other' END
"""
_UA_MAJOR = r"""
    CASE WHEN ua LIKE '%Edg/%'
             THEN regexp_extract(ua, 'Edg/([0-9]+)', 1)
         WHEN ua LIKE '%Chrome/%'
             THEN regexp_extract(ua, 'Chrome/([0-9]+)', 1)
         WHEN ua LIKE '%Firefox/%'
             THEN regexp_extract(ua, 'Firefox/([0-9]+)', 1)
         WHEN ua LIKE '%Version/%'
             THEN regexp_extract(ua, 'Version/([0-9]+)', 1)
         WHEN ua LIKE 'curl/%'
             THEN regexp_extract(ua, 'curl/([0-9]+)', 1)
         ELSE '' END
"""


@register(
    "q_useragent_parse",
    oracle=f"""
        WITH hits AS (
            SELECT user_id, {_ua_case(duck=True)} AS ua FROM events
        ), parsed AS (
            SELECT user_id, ua,
                   {_UA_FAMILY} AS family,
                   {_UA_MAJOR} AS major
            FROM hits
        )
        SELECT family, major,
               CAST(COUNT(*) AS BIGINT) AS n_hits,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CASE WHEN family IN ('Chrome', 'Edge', 'Safari', 'Firefox')
                    THEN 1 ELSE 0 END AS is_browser
        FROM parsed
        GROUP BY family, major
        ORDER BY n_hits DESC, family
    """,
    tags=("log", "strings", "agg"),
)
def q_useragent_parse(spark, sf_dir):
    """User-agent parsing over a synthesized per-user UA header
    (6-entry public catalog, md5-assigned): browser-family
    classification by token precedence (Edg before Chrome before
    Safari — the order real UA parsers must use, because Chrome UAs
    contain 'Safari' and Edge UAs contain both), major-version
    extraction by regex, and the family×version market-share rollup.

    Exactness: string-exact; regexp_extract on '([0-9]+)' behaves
    identically in Java regex and RE2 for this pattern class; output
    order is totalized by (n_hits DESC, family).

    Plan at 100 TB: classify/extract are zero-shuffle codegen maps;
    the rollup is one low-cardinality hash agg + distinct-user
    two-level count, same shape as q_ip_funcs.
    """
    ev = load(spark, sf_dir, "events")
    hits = ev.select(
        "user_id", F.expr(_ua_case()).alias("ua")
    )
    parsed = hits.select(
        "user_id",
        "ua",
        F.expr(_UA_FAMILY).alias("family"),
        F.expr(_UA_MAJOR).alias("major"),
    )
    return (
        parsed.groupBy("family", "major")
        .agg(
            F.count("*").alias("n_hits"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            "family",
            "major",
            "n_hits",
            "n_users",
            F.when(
                F.col("family").isin("Chrome", "Edge", "Safari", "Firefox"), 1
            )
            .otherwise(0)
            .alias("is_browser"),
        )
        .orderBy(F.desc("n_hits"), "family")
    )


_LINE_DUCK = (
    "event_type || ' uid=' || CAST(user_id AS VARCHAR)"
    " || ' v=' || CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
    " AS VARCHAR)"
    " || CASE WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
    " > 10000 THEN ' [ALERT]' ELSE '' END"
)
_LINE_SPARK = (
    "CONCAT(event_type, ' uid=', CAST(user_id AS STRING),"
    " ' v=', CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
    " AS STRING),"
    " CASE WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
    " > 10000 THEN ' [ALERT]' ELSE '' END)"
)


@register(
    "q_log_templates",
    oracle=f"""
        WITH lines AS (
            SELECT {_LINE_DUCK} AS line, user_id FROM events
        ), templ AS (
            SELECT regexp_replace(line, '[0-9]+', '<N>', 'g') AS template,
                   line, user_id
            FROM lines
        )
        SELECT template,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               MIN(line) AS example
        FROM templ
        GROUP BY template
        ORDER BY n_lines DESC, template
    """,
    tags=("log", "strings", "agg"),
)
def q_log_templates(spark, sf_dir):
    """Log-template mining (the Drain-family first pass): mask every
    digit run to <N> and roll up to the template catalog with counts
    and a deterministic example line — turning raw log volume into
    the bounded template set an observability pipeline alerts on.
    Lines are synthesized from events (type, uid, cents, an [ALERT]
    suffix on v > 10000) so the oracle can verify the full
    construct → mask → rollup round trip.

    Exactness: string-exact ('[0-9]+' → '<N>' is the same masking in
    Java regex and RE2); example = MIN(line) is order-insensitive;
    output totalized by (n_lines DESC, template).

    Plan at 100 TB: masking is a zero-shuffle codegen map; the rollup
    is one hash agg whose cardinality is the TEMPLATE count (tiny by
    construction — that's the point of template mining), so the
    shuffle carries templates, not lines.
    """
    ev = load(spark, sf_dir, "events")
    templ = ev.select(
        F.regexp_replace(F.expr(_LINE_SPARK), "[0-9]+", "<N>").alias(
            "template"
        ),
        F.expr(_LINE_SPARK).alias("line"),
        "user_id",
    )
    return (
        templ.groupBy("template")
        .agg(
            F.count("*").alias("n_lines"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("line").alias("example"),
        )
        .orderBy(F.desc("n_lines"), "template")
    )
