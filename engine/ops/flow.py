"""Flow-log analytics — the queries a VPC-flow-log pipeline exists to
answer (top talkers, per-CIDR traffic, reject ratios), computed over
the PARSED flow-log lines so the whole synthesize → parse → analyze
path is value-checked end to end: the oracle states each result
directly from `events` via the deterministic line-synthesis twins
(engine.ingest.SQL_K / SQL_LINE discipline).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..ingest import SQL_EPOCH, SQL_K, flowlog_lines, parse_flowlog_lines
from ..registry import register, table
from ..stream import run_available_now


def _parsed(spark, sf_dir):
    return parse_flowlog_lines(
        flowlog_lines(table(spark, sf_dir, "events"), "event_id")
    )


@register(
    "flow_top_talkers",
    oracle=f"""
        WITH f AS (
          SELECT '10.0.' || CAST({SQL_K} % 256 AS VARCHAR) || '.'
                 || CAST(({SQL_K}*7) % 256 AS VARCHAR) AS srcaddr,
                 CAST(round(value*100) AS BIGINT) AS bytes,
                 CAST(round(value) AS BIGINT) AS packets
          FROM events
        )
        SELECT srcaddr, CAST(sum(bytes) AS BIGINT) AS total_bytes,
               CAST(sum(packets) AS BIGINT) AS total_packets,
               count(*) AS n_flows
        FROM f GROUP BY srcaddr
        ORDER BY total_bytes DESC, srcaddr LIMIT 20
    """,
)
def flow_top_talkers(spark, sf_dir):
    """Top-20 source addresses by bytes. Long sums are exact; the
    tiebreak on srcaddr keeps the limit deterministic."""
    return (
        _parsed(spark, sf_dir)
        .groupBy("srcaddr")
        .agg(
            F.sum("bytes").alias("total_bytes"),
            F.sum("packets").alias("total_packets"),
            F.count(F.lit(1)).alias("n_flows"),
        )
        .orderBy(F.desc("total_bytes"), F.asc("srcaddr"))
        .limit(20)
    )


@register(
    "flow_cidr_aggregate",
    oracle=f"""
        SELECT (10*16777216 + ({SQL_K} % 256)*256) AS net24,
               CASE WHEN event_type = 'error' THEN 'REJECT' ELSE 'ACCEPT' END
                 AS action,
               CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
                 AS total_bytes,
               count(*) AS n_flows
        FROM events GROUP BY 1, 2
    """,
)
def flow_cidr_aggregate(spark, sf_dir):
    """Traffic per /24 network and action. The dotted-quad is parsed
    back to a 32-bit integer with octet arithmetic (split + shifts,
    all Catalyst expressions) and masked to the /24 prefix — the
    general CIDR-bucketing shape; the oracle derives the same prefix
    from the synthesis parameters."""
    p = _parsed(spark, sf_dir)
    o = F.split("srcaddr", r"\.")
    ipnum = (
        F.element_at(o, 1).cast("long") * 16777216
        + F.element_at(o, 2).cast("long") * 65536
        + F.element_at(o, 3).cast("long") * 256
        + F.element_at(o, 4).cast("long")
    )
    net24 = ipnum.bitwiseAND(F.lit(0xFFFFFF00).cast("long"))
    return (
        p.withColumn("net24", net24)
        .groupBy("net24", "action")
        .agg(
            F.sum("bytes").alias("total_bytes"),
            F.count(F.lit(1)).alias("n_flows"),
        )
    )


@register(
    "flow_reject_ratio",
    oracle=f"""
        WITH f AS (
          SELECT 'eni-' || CAST(user_id AS VARCHAR) AS interface_id,
                 CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS rejected,
                 CAST(round(value*100) AS BIGINT) AS bytes
          FROM events
        )
        SELECT interface_id, count(*) AS n_flows,
               CAST(sum(rejected) AS BIGINT) AS n_reject,
               sum(rejected) / count(*) AS reject_ratio,
               CAST(sum(bytes) AS BIGINT) AS total_bytes
        FROM f GROUP BY interface_id
    """,
)
def flow_reject_ratio(spark, sf_dir):
    """Per-interface REJECT ratio — the security-posture query. The
    ratio is long/long (double in both engines, numerator exact)."""
    p = _parsed(spark, sf_dir)
    rejected = F.when(F.col("action") == "REJECT", 1).otherwise(0)
    return (
        p.withColumn("rejected", rejected)
        .groupBy("interface_id")
        .agg(
            F.count(F.lit(1)).alias("n_flows"),
            F.sum("rejected").alias("n_reject"),
            (F.sum("rejected") / F.count(F.lit(1))).alias("reject_ratio"),
            F.sum("bytes").alias("total_bytes"),
        )
    )


FANOUT_THRESHOLD = 10


@register(
    "flow_fanout_detect",
    oracle=f"""
        WITH f AS (
          SELECT date_trunc('hour', ts) AS hr,
                 '10.0.' || CAST({SQL_K} % 256 AS VARCHAR) || '.'
                 || CAST(({SQL_K}*7) % 256 AS VARCHAR) AS srcaddr,
                 '10.1.' || CAST(({SQL_K}*3) % 256 AS VARCHAR) || '.'
                 || CAST(({SQL_K}*11) % 256 AS VARCHAR) AS dstaddr
          FROM events
          UNION ALL
          SELECT date_trunc('hour', ts) AS hr,
                 '10.0.' || CAST({SQL_K} % 256 AS VARCHAR) || '.'
                 || CAST(({SQL_K}*7) % 256 AS VARCHAR) AS srcaddr,
                 '10.9.' || CAST(r.i AS VARCHAR) || '.'
                 || CAST({SQL_K} % 256 AS VARCHAR) AS dstaddr
          FROM events, unnest(range(0, 15)) r(i)
          WHERE event_id % 97 = 0
        )
        SELECT hr, srcaddr, count(DISTINCT dstaddr) AS n_dst
        FROM f GROUP BY hr, srcaddr
        HAVING count(DISTINCT dstaddr) >= {FANOUT_THRESHOLD}
    """,
)
def flow_fanout_detect(spark, sf_dir):
    """Scan/fan-out detection — the flow-log security query: sources
    touching >= THRESHOLD distinct destinations within an hour. One
    distinct-count aggregation per (hour, src); at 100 TB swap the
    exact distinct for approx_count_distinct and keep the HAVING.

    Fixture augmentation (round-4 review class — structurally-empty
    differential): the synthetic flows map each src to exactly ONE
    dst, so NO threshold can ever fire on the raw fixture. A
    deterministic scan burst is layered on top — every event with
    event_id % 97 == 0 fans its source out to 15 extra 10.9.i.*
    destinations in its hour (the port-scan pattern the query
    exists to catch) — and the oracle restates the same burst, so
    the detector's HAVING edge is genuinely exercised (~100
    detections at the differential scale)."""
    # ONE parse; the scan burst rides the same rows as a conditional
    # array explode (a second _parsed() branch would re-run the
    # CPU-dominant from_csv over the whole table — review finding)
    p = _parsed(spark, sf_dir).withColumn(
        "hr", F.date_trunc("hour", F.expr("CAST(timestamp_seconds(start) AS TIMESTAMP_NTZ)"))
    )
    scan_dsts = F.transform(
        F.sequence(F.lit(0), F.lit(14)),
        lambda i: F.concat(
            F.lit("10.9."),
            i.cast("string"),
            F.lit("."),
            F.split(F.col("srcaddr"), "\\.")[2],
        ),
    )
    dsts = F.when(
        F.col("event_id") % 97 == 0,
        F.concat(F.array("dstaddr"), scan_dsts),
    ).otherwise(F.array("dstaddr"))
    flows = p.select("hr", "srcaddr", F.explode(dsts).alias("dstaddr"))
    return (
        flows.groupBy("hr", "srcaddr")
        .agg(F.countDistinct("dstaddr").alias("n_dst"))
        .filter(F.col("n_dst") >= FANOUT_THRESHOLD)
    )


Z_THRESHOLD = 2.0


@register(
    "flow_zscore_anomaly",
    oracle=f"""
        WITH f AS (
          SELECT event_id,
                 'eni-' || CAST(user_id AS VARCHAR) AS interface_id,
                 CAST(round(value*100) AS BIGINT) AS bytes
          FROM events
        ),
        stats AS (
          SELECT interface_id,
                 CAST(sum(bytes) AS BIGINT) AS s,
                 CAST(sum(bytes * bytes) AS BIGINT) AS sq,
                 count(*) AS n
          FROM f GROUP BY interface_id
        )
        SELECT event_id, f.interface_id, bytes,
               round((bytes - CAST(s AS DOUBLE) / n)
                     / sqrt((CAST(sq AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                            / (n - 1)), 6) AS z_score
        FROM f JOIN stats USING (interface_id)
        WHERE n >= 2
          AND (CAST(sq AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1) > 0
          AND abs((bytes - CAST(s AS DOUBLE) / n)
                  / sqrt((CAST(sq AS DOUBLE)
                          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                         / (n - 1))) > {Z_THRESHOLD}
    """,
)
def flow_zscore_anomaly(spark, sf_dir):
    """Per-interface byte-volume anomalies: flows whose bytes deviate
    more than 2 sample standard deviations from their interface mean.
    The volumetric-anomaly primitive behind exfiltration/DDoS alerts.

    Not stddev_samp(): both engines accumulate EXACT integer sums
    (sum, sum-of-squares, count), and variance/z are derived through
    an identical scalar double expression — bit-deterministic where a
    shuffled double stddev is not. The sums are whole-partition
    aggregates over a window on interface_id, so the from_csv parse
    of every line (the dominant cost) runs once in one shuffle and
    no cache is needed to share it between a stats pass and a
    scoring join."""
    w = Window.partitionBy("interface_id")
    scored = _parsed(spark, sf_dir).select(
        "event_id",
        "interface_id",
        "bytes",
        F.sum("bytes").over(w).alias("s"),
        F.sum(F.col("bytes") * F.col("bytes")).over(w).alias("sq"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("sq").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    z = (F.col("bytes") - mean) / F.sqrt(var)
    return (
        scored.filter(
            (F.col("n") >= 2) & (var > 0) & (F.abs(z) > Z_THRESHOLD)
        )
        .select(
            "event_id",
            "interface_id",
            "bytes",
            F.round(z, 6).alias("z_score"),
        )
    )


@register(
    "flow_bidirectional_pairs",
    oracle=f"""
        WITH base AS (
          SELECT event_id,
                 '10.0.' || CAST({SQL_K} % 256 AS VARCHAR) || '.'
                 || CAST(({SQL_K}*7) % 256 AS VARCHAR) AS srcaddr,
                 '10.1.' || CAST(({SQL_K}*3) % 256 AS VARCHAR) || '.'
                 || CAST(({SQL_K}*11) % 256 AS VARCHAR) AS dstaddr,
                 CAST(round(value*100) AS BIGINT) AS bytes
          FROM events
        ),
        f AS (
          SELECT srcaddr, dstaddr, bytes FROM base
          UNION ALL
          SELECT dstaddr AS srcaddr, srcaddr AS dstaddr, bytes
          FROM base WHERE event_id % 3 = 0
        ),
        agg AS (
          SELECT srcaddr, dstaddr, CAST(sum(bytes) AS BIGINT) AS total_bytes,
                 count(*) AS n_flows
          FROM f GROUP BY srcaddr, dstaddr
        )
        SELECT a.srcaddr, a.dstaddr, a.total_bytes, a.n_flows
        FROM agg a
        WHERE EXISTS (SELECT 1 FROM agg b
                      WHERE b.srcaddr = a.dstaddr AND b.dstaddr = a.srcaddr)
    """,
)
def flow_bidirectional_pairs(spark, sf_dir):
    """Connection pairing: directed (src,dst) aggregates whose reverse
    direction also carried traffic (i.e. real two-way conversations,
    the starting point of NAT/session analysis on flow logs).

    Scale shape: ONE aggregation on the canonical undirected key
    (least, greatest) with per-direction conditional sums — no
    self-join; the two directed result rows are re-emitted with an
    inline explode of a 2-element struct array. One shuffle total,
    map-side combinable; the response leg rides the SAME single parse
    as a conditional 1-or-2 element struct explode, join-free.

    Fixture augmentation (round-4 review class — structurally-empty
    differential): the synthesis maps src to 10.0.* and dst to
    10.1.* exclusively, so NO reverse direction can ever exist in
    the raw fixture and the pairing predicate was never exercised.
    Response traffic is layered on deterministically — every flow
    with event_id % 3 == 0 also emits its reverse (the ACK/response
    leg) — and the oracle restates the same augmentation, so the
    both-directions filter now selects a real non-empty subset."""
    # ONE parse; the response leg rides the same rows as a 1-or-2
    # element struct explode instead of a second parse branch
    raw = _parsed(spark, sf_dir)
    fwd_leg = F.struct(
        F.col("srcaddr").alias("srcaddr"),
        F.col("dstaddr").alias("dstaddr"),
        F.col("bytes").alias("bytes"),
    )
    rev_leg = F.struct(
        F.col("dstaddr").alias("srcaddr"),
        F.col("srcaddr").alias("dstaddr"),
        F.col("bytes").alias("bytes"),
    )
    legs = F.when(
        F.col("event_id") % 3 == 0, F.array(fwd_leg, rev_leg)
    ).otherwise(F.array(fwd_leg))
    p = raw.select(F.explode(legs).alias("l")).select("l.*")
    fwd = F.col("srcaddr") < F.col("dstaddr")
    und = (
        p.select(
            F.least("srcaddr", "dstaddr").alias("lo"),
            F.greatest("srcaddr", "dstaddr").alias("hi"),
            F.when(fwd, F.col("bytes")).otherwise(0).alias("f_bytes"),
            F.when(fwd, 1).otherwise(0).alias("f_flows"),
            F.when(~fwd, F.col("bytes")).otherwise(0).alias("r_bytes"),
            F.when(~fwd, 1).otherwise(0).alias("r_flows"),
        )
        .groupBy("lo", "hi")
        .agg(
            F.sum("f_bytes").alias("f_bytes"),
            F.sum("f_flows").alias("f_flows"),
            F.sum("r_bytes").alias("r_bytes"),
            F.sum("r_flows").alias("r_flows"),
        )
        .filter((F.col("f_flows") > 0) & (F.col("r_flows") > 0))
    )
    both = und.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("lo").alias("srcaddr"),
                    F.col("hi").alias("dstaddr"),
                    F.col("f_bytes").alias("total_bytes"),
                    F.col("f_flows").alias("n_flows"),
                ),
                F.struct(
                    F.col("hi").alias("srcaddr"),
                    F.col("lo").alias("dstaddr"),
                    F.col("r_bytes").alias("total_bytes"),
                    F.col("r_flows").alias("n_flows"),
                ),
            )
        ).alias("d")
    )
    return both.select("d.srcaddr", "d.dstaddr", "d.total_bytes", "d.n_flows")


@register(
    "flow_srcaddr_entropy",
    oracle=f"""
        WITH f AS (
          SELECT 'eni-' || CAST(user_id AS VARCHAR) AS interface_id,
                 '10.0.' || CAST({SQL_K} % 256 AS VARCHAR) || '.'
                 || CAST(({SQL_K}*7) % 256 AS VARCHAR) AS srcaddr
          FROM events
        ),
        cnts AS (
          SELECT interface_id, srcaddr, count(*) AS cnt
          FROM f GROUP BY interface_id, srcaddr
        )
        SELECT interface_id,
               CAST(sum(cnt) AS BIGINT) AS n_flows,
               count(*) AS n_sources,
               round(ln(sum(cnt))
                     - CAST(sum(CAST(round(1000000.0 * cnt * ln(cnt)) AS BIGINT))
                            AS DOUBLE) / 1000000.0 / sum(cnt),
                     6) AS src_entropy
        FROM cnts GROUP BY interface_id
        ORDER BY interface_id
    """,
)
def flow_srcaddr_entropy(spark, sf_dir):
    """Per-interface Shannon entropy of source addresses — the
    dispersion signal behind scan/DDoS detection (many distinct
    low-count sources → high entropy; one chatty source → low).

    Determinism: H = ln(N) - (Σ cnt·ln cnt)/N with the Σ term
    accumulated as an exact scaled integer (micro-nats), so shuffle
    merge order can't perturb the double sum; the outer expression is
    then identical scalar math in both engines (6 dp rounded). Two
    map-side-combinable aggregations, no windows, no Python."""
    cnts = (
        _parsed(spark, sf_dir)
        .groupBy("interface_id", "srcaddr")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sum_term = F.sum(
        F.round(F.lit(1000000.0) * F.col("cnt") * F.log("cnt")).cast("long")
    )
    return (
        cnts.groupBy("interface_id")
        .agg(
            F.sum("cnt").alias("n_flows"),
            F.count(F.lit(1)).alias("n_sources"),
            F.round(
                F.log(F.sum("cnt"))
                - sum_term.cast("double") / F.lit(1000000.0) / F.sum("cnt"),
                6,
            ).alias("src_entropy"),
        )
        .orderBy("interface_id")
    )


@register(
    "flow_hourly_spike",
    oracle=f"""
        WITH f AS (
          SELECT '10.1.' || CAST(({SQL_K}*3) % 256 AS VARCHAR) || '.'
                 || CAST(({SQL_K}*11) % 256 AS VARCHAR) AS dstaddr,
                 date_trunc('hour', ts) AS hr,
                 CAST(round(value*100) AS BIGINT) AS bytes
          FROM events
        ),
        hourly AS (
          SELECT dstaddr, hr, CAST(sum(bytes) AS BIGINT) AS hr_bytes
          FROM f GROUP BY dstaddr, hr
        )
        SELECT dstaddr, hr, hr_bytes,
               lag(hr_bytes) OVER (PARTITION BY dstaddr ORDER BY hr)
                 AS prev_bytes
        FROM hourly
        QUALIFY prev_bytes IS NOT NULL
            AND hr_bytes >= 3 * prev_bytes AND hr_bytes >= 10000
        ORDER BY dstaddr, hr
    """,
)
def flow_hourly_spike(spark, sf_dir):
    """Temporal volumetric spike detection: destination-hours whose
    byte volume at least tripled versus the immediately preceding
    active hour (with an absolute floor to mute cold-start noise) —
    the DDoS-onset / exfiltration-burst primitive.

    Hourly pre-aggregation collapses raw flows before any window, so
    the lag() runs over dim-sized (dst, hour) series; integer sums
    and an integer ratio test keep it hash-exact. events.ts is ns in
    parquet but µs in Spark — date_trunc('hour') lands identically."""
    from pyspark.sql import Window

    parsed = _parsed(spark, sf_dir)
    hourly = (
        parsed.select(
            "dstaddr",
            F.date_trunc(
                "hour",
                F.expr("CAST(timestamp_seconds(start) AS TIMESTAMP_NTZ)"),
            ).alias("hr"),
            "bytes",
        )
        .groupBy("dstaddr", "hr")
        .agg(F.sum("bytes").alias("hr_bytes"))
    )
    w = Window.partitionBy("dstaddr").orderBy("hr")
    return (
        hourly.withColumn("prev_bytes", F.lag("hr_bytes").over(w))
        .filter(
            F.col("prev_bytes").isNotNull()
            & (F.col("hr_bytes") >= 3 * F.col("prev_bytes"))
            & (F.col("hr_bytes") >= 10000)
        )
        .orderBy("dstaddr", "hr")
    )


@register(
    "flow_cidr_lpm_enrich",
    oracle=f"""
        WITH f AS (
          SELECT '10.0.' || CAST({SQL_K} % 256 AS VARCHAR) || '.'
                 || CAST(({SQL_K}*7) % 256 AS VARCHAR) AS srcaddr,
                 CAST(round(value*100) AS BIGINT) AS bytes
          FROM events
        ), d24 AS (
          SELECT '10.0.' || CAST(n_nationkey AS VARCHAR) AS p24,
                 n_name AS net24 FROM nation
        ), d16 AS (
          SELECT '10.0' AS p16, r_name AS net16 FROM region WHERE r_regionkey = 0
        ), j AS (
          SELECT f.srcaddr, f.bytes,
                 coalesce(d24.net24, d16.net16, 'DEFAULT') AS network,
                 CASE WHEN d24.net24 IS NOT NULL THEN 24
                      WHEN d16.net16 IS NOT NULL THEN 16
                      ELSE 8 END AS prefix_len
          FROM f
          LEFT JOIN d24
            ON split_part(f.srcaddr, '.', 1) || '.'
               || split_part(f.srcaddr, '.', 2) || '.'
               || split_part(f.srcaddr, '.', 3) = d24.p24
          LEFT JOIN d16
            ON split_part(f.srcaddr, '.', 1) || '.'
               || split_part(f.srcaddr, '.', 2) = d16.p16
        )
        SELECT network, prefix_len,
               count(*) AS n_flows,
               CAST(sum(bytes) AS BIGINT) AS total_bytes
        FROM j
        GROUP BY network, prefix_len
        ORDER BY network, prefix_len
    """,
)
def flow_cidr_lpm_enrich(spark, sf_dir):
    """Longest-prefix-match CIDR enrichment — the routing-table join
    (which named network owns this source address?) that network
    analytics needs and equi-join engines lack natively. The LPM is
    decomposed into one equi-join PER PREFIX LENGTH against the
    exact prefix string (/24 from nation, /16 from region, /8
    default), most-specific coalesced first — each dim is
    routing-table-sized, so every join is a broadcast and the flow
    table streams through unshuffled until the final small
    aggregation. At 100 TB with real routing tables the same
    cascade holds (a handful of prefix lengths × broadcast each);
    no explode of per-address prefix sets is needed on the big
    side beyond substring keys."""
    f = _parsed(spark, sf_dir).select("srcaddr", "bytes")

    n = table(spark, sf_dir, "nation").select(
        F.concat(F.lit("10.0."), F.col("n_nationkey").cast("string")).alias(
            "p24"
        ),
        F.col("n_name").alias("net24"),
    )
    r = (
        table(spark, sf_dir, "region")
        .filter(F.col("r_regionkey") == 0)
        .select(F.lit("10.0").alias("p16"), F.col("r_name").alias("net16"))
    )
    k24 = F.concat_ws(
        ".",
        F.split_part(F.col("srcaddr"), F.lit("."), F.lit(1)),
        F.split_part(F.col("srcaddr"), F.lit("."), F.lit(2)),
        F.split_part(F.col("srcaddr"), F.lit("."), F.lit(3)),
    )
    k16 = F.concat_ws(
        ".",
        F.split_part(F.col("srcaddr"), F.lit("."), F.lit(1)),
        F.split_part(F.col("srcaddr"), F.lit("."), F.lit(2)),
    )
    j = (
        f.withColumn("k24", k24)
        .withColumn("k16", k16)
        .join(F.broadcast(n), F.col("k24") == F.col("p24"), "left")
        .join(F.broadcast(r), F.col("k16") == F.col("p16"), "left")
        .select(
            F.coalesce("net24", "net16", F.lit("DEFAULT")).alias("network"),
            F.when(F.col("net24").isNotNull(), 24)
            .when(F.col("net16").isNotNull(), 16)
            .otherwise(8)
            .alias("prefix_len"),
            "bytes",
        )
    )
    return (
        j.groupBy("network", "prefix_len")
        .agg(
            F.count(F.lit(1)).alias("n_flows"),
            F.sum("bytes").cast("long").alias("total_bytes"),
        )
        .orderBy("network", "prefix_len")
    )


@register(
    "flow_beaconing_detect",
    oracle=f"""
        WITH f AS (
          SELECT '10.0.' || CAST({SQL_K} % 256 AS VARCHAR) || '.'
                 || CAST(({SQL_K}*7) % 256 AS VARCHAR) AS srcaddr,
                 '10.1.' || CAST(({SQL_K}*3) % 256 AS VARCHAR) || '.'
                 || CAST(({SQL_K}*11) % 256 AS VARCHAR) AS dstaddr,
                 {SQL_EPOCH} AS start
          FROM events
        ),
        g AS (
          SELECT srcaddr, dstaddr,
                 start - lag(start) OVER (PARTITION BY srcaddr, dstaddr
                                          ORDER BY start) AS gap
          FROM f
        ),
        s AS (
          SELECT srcaddr, dstaddr,
                 count(*) AS m,
                 CAST(sum(gap) AS BIGINT) AS sg,
                 CAST(sum(gap * gap) AS BIGINT) AS sg2
          FROM g WHERE gap IS NOT NULL
          GROUP BY srcaddr, dstaddr
        )
        SELECT srcaddr, dstaddr, m + 1 AS n_flows,
               round(CAST(sg AS DOUBLE) / m, 6) AS mean_gap_s,
               round(sqrt((CAST(sg2 AS DOUBLE)
                           - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / m) / m)
                     / (CAST(sg AS DOUBLE) / m), 6) AS cv
        FROM s
        WHERE m >= 5 AND sg > 0
        ORDER BY cv, srcaddr LIMIT 20
    """,
)
def flow_beaconing_detect(spark, sf_dir):
    """C2-beaconing candidates: the 20 (src, dst) conversations whose
    inter-arrival gaps are most REGULAR — coefficient of variation
    sqrt(popvar)/mean of the gap series, ascending. Malware check-ins
    tick on a timer (cv → 0); human traffic is bursty (cv ≈ 1).

    Gaps come from one lag() over the per-pair start series; the gap
    MULTISET is invariant to tie order among equal starts, so the
    window needs no unique tiebreak. Per-pair stats reduce to exact
    integer (sum, sum², count) partials — map-side combinable, one
    shuffle keyed by the pair — and cv is derived through an identical
    scalar double expression in both engines. Sum-of-gaps telescopes
    to max(start)−min(start), so sg ≤ the capture window in seconds
    and sg² stays far inside the exact-double range at any scale. The
    final global top-20 is a TakeOrdered, not a full sort."""
    p = _parsed(spark, sf_dir)
    w = Window.partitionBy("srcaddr", "dstaddr").orderBy("start")
    g = (
        p.select("srcaddr", "dstaddr", "start")
        .withColumn("gap", F.col("start") - F.lag("start").over(w))
        .filter(F.col("gap").isNotNull())
    )
    s = g.groupBy("srcaddr", "dstaddr").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("gap").alias("sg"),
        F.sum(F.col("gap") * F.col("gap")).alias("sg2"),
    )
    mean = F.col("sg").cast("double") / F.col("m")
    popvar = (
        F.col("sg2").cast("double")
        - F.col("sg").cast("double") * F.col("sg").cast("double") / F.col("m")
    ) / F.col("m")
    cv = F.sqrt(popvar) / mean
    return (
        s.filter((F.col("m") >= 5) & (F.col("sg") > 0))
        .select(
            "srcaddr",
            "dstaddr",
            (F.col("m") + 1).alias("n_flows"),
            F.round(mean, 6).alias("mean_gap_s"),
            F.round(cv, 6).alias("cv"),
        )
        .orderBy("cv", "srcaddr")
        .limit(20)
    )


@register(
    "flow_top_ports",
    oracle=f"""
        WITH f AS (
          SELECT {SQL_K} + 1024 AS srcport,
                 CASE WHEN event_type = 'error' THEN 'REJECT' ELSE 'ACCEPT' END
                   AS action,
                 CAST(round(value*100) AS BIGINT) AS bytes
          FROM events
        )
        SELECT srcport, count(*) AS n_flows,
               CAST(sum(bytes) AS BIGINT) AS total_bytes,
               CAST(sum(CASE WHEN action = 'REJECT' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_reject
        FROM f GROUP BY srcport
        ORDER BY total_bytes DESC, srcport LIMIT 10
    """,
)
def flow_top_ports(spark, sf_dir):
    """Port-level traffic profile: top-10 source ports by bytes with
    reject counts — the service-identification slice of flow triage.
    One hash aggregation over the parsed lines; the limit rides a
    TakeOrderedAndProject (per-partition top-10, no global sort)."""
    p = _parsed(spark, sf_dir)
    return (
        p.groupBy("srcport")
        .agg(
            F.count(F.lit(1)).alias("n_flows"),
            F.sum("bytes").alias("total_bytes"),
            F.sum(F.when(F.col("action") == "REJECT", 1).otherwise(0))
            .cast("long")
            .alias("n_reject"),
        )
        .orderBy(F.desc("total_bytes"), F.asc("srcport"))
        .limit(10)
    )


EXFIL_RATIO = 3.0


@register(
    "flow_exfil_asymmetry",
    oracle=f"""
        WITH base AS (
          SELECT event_id,
                 '10.0.' || CAST({SQL_K} % 256 AS VARCHAR) || '.'
                 || CAST(({SQL_K}*7) % 256 AS VARCHAR) AS srcaddr,
                 '10.1.' || CAST(({SQL_K}*3) % 256 AS VARCHAR) || '.'
                 || CAST(({SQL_K}*11) % 256 AS VARCHAR) AS dstaddr,
                 CAST(round(value*100) AS BIGINT) AS bytes
          FROM events
        ),
        f AS (
          SELECT srcaddr, dstaddr, bytes FROM base
          UNION ALL
          SELECT dstaddr AS srcaddr, srcaddr AS dstaddr, bytes
          FROM base WHERE event_id % 3 = 0
        ),
        und AS (
          SELECT least(srcaddr, dstaddr) AS lo,
                 greatest(srcaddr, dstaddr) AS hi,
                 CAST(sum(CASE WHEN srcaddr < dstaddr THEN bytes ELSE 0 END)
                      AS BIGINT) AS f_bytes,
                 CAST(sum(CASE WHEN srcaddr < dstaddr THEN 0 ELSE bytes END)
                      AS BIGINT) AS r_bytes
          FROM f GROUP BY 1, 2
        )
        SELECT CASE WHEN f_bytes >= r_bytes THEN lo ELSE hi END AS sender,
               CASE WHEN f_bytes >= r_bytes THEN hi ELSE lo END AS receiver,
               greatest(f_bytes, r_bytes) AS out_bytes,
               least(f_bytes, r_bytes) AS in_bytes,
               round(CAST(greatest(f_bytes, r_bytes) AS DOUBLE)
                     / least(f_bytes, r_bytes), 6) AS asym
        FROM und
        WHERE least(f_bytes, r_bytes) > 0
          AND CAST(greatest(f_bytes, r_bytes) AS DOUBLE)
              / least(f_bytes, r_bytes) >= {EXFIL_RATIO}
    """,
)
def flow_exfil_asymmetry(spark, sf_dir):
    """Exfiltration screening on flow logs: two-way conversations whose
    byte volume is >= {EXFIL_RATIO}x asymmetric (a host pushing far
    more than it receives on an established session — the data-
    staging signature volumetric per-flow alerts miss). Reported from
    the heavy side's perspective (sender/receiver).

    Rides the flow_bidirectional_pairs rig: the same %3 response-leg
    augmentation (the raw fixture is strictly one-way, so the
    two-way predicate would otherwise be structurally empty), the
    same join-free canonical-undirected-key aggregation — per-pair
    byte totals for both directions come out of ONE map-side-
    combinable shuffle, then the asymmetry test is a scalar
    expression. Per-pair %3-leg byte sums vary with the draw, so the
    >= {EXFIL_RATIO} edge genuinely selects (some conversations pass,
    some fail). Exact integer sums; one double division at the end."""
    raw = _parsed(spark, sf_dir)
    fwd_leg = F.struct(
        F.col("srcaddr").alias("srcaddr"),
        F.col("dstaddr").alias("dstaddr"),
        F.col("bytes").alias("bytes"),
    )
    rev_leg = F.struct(
        F.col("dstaddr").alias("srcaddr"),
        F.col("srcaddr").alias("dstaddr"),
        F.col("bytes").alias("bytes"),
    )
    legs = F.when(
        F.col("event_id") % 3 == 0, F.array(fwd_leg, rev_leg)
    ).otherwise(F.array(fwd_leg))
    p = raw.select(F.explode(legs).alias("l")).select("l.*")
    fwd = F.col("srcaddr") < F.col("dstaddr")
    und = (
        p.select(
            F.least("srcaddr", "dstaddr").alias("lo"),
            F.greatest("srcaddr", "dstaddr").alias("hi"),
            F.when(fwd, F.col("bytes")).otherwise(0).alias("fb"),
            F.when(~fwd, F.col("bytes")).otherwise(0).alias("rb"),
        )
        .groupBy("lo", "hi")
        .agg(F.sum("fb").alias("f_bytes"), F.sum("rb").alias("r_bytes"))
    )
    out_b = F.greatest("f_bytes", "r_bytes")
    in_b = F.least("f_bytes", "r_bytes")
    asym = out_b.cast("double") / in_b
    return (
        und.filter((in_b > 0) & (asym >= EXFIL_RATIO))
        .select(
            F.when(F.col("f_bytes") >= F.col("r_bytes"), F.col("lo"))
            .otherwise(F.col("hi"))
            .alias("sender"),
            F.when(F.col("f_bytes") >= F.col("r_bytes"), F.col("hi"))
            .otherwise(F.col("lo"))
            .alias("receiver"),
            out_b.alias("out_bytes"),
            in_b.alias("in_bytes"),
            F.round(asym, 6).alias("asym"),
        )
    )


# Idle gap that splits two flows of the same interface into separate
# sessions. The fixture's per-user inter-flow median is ~7 h (sparse
# synthetic month), so 12 h yields a real mix of single- and
# multi-flow sessions; production VPC pipelines would use minutes.
SESSION_GAP_S = 43200


@register(
    "flow_session_reassembly",
    oracle=f"""
        WITH f AS (
          SELECT 'eni-' || CAST(user_id AS VARCHAR) AS interface_id,
                 '10.1.' || CAST(({SQL_K}*3) % 256 AS VARCHAR) || '.'
                         || CAST(({SQL_K}*11) % 256 AS VARCHAR) AS dstaddr,
                 CAST({SQL_K} + 1024 AS INT) AS srcport,
                 {SQL_EPOCH} AS t_start,
                 {SQL_EPOCH} + 60 AS t_end,
                 CAST(round(value*100) AS BIGINT) AS bytes,
                 CAST(round(value) AS BIGINT) AS packets
          FROM events
        ),
        g AS (
          SELECT *, CASE WHEN t_start - lag(t_start) OVER w > {SESSION_GAP_S}
                         THEN 1 ELSE 0 END AS new_s
          FROM f
          WINDOW w AS (PARTITION BY interface_id ORDER BY t_start, srcport)
        ),
        s AS (
          SELECT *, sum(new_s) OVER (PARTITION BY interface_id
                                     ORDER BY t_start, srcport
                                     ROWS UNBOUNDED PRECEDING) AS sess
          FROM g
        )
        SELECT interface_id,
               min(t_start) AS session_start,
               max(t_end) AS session_end,
               count(*) AS n_flows,
               count(DISTINCT dstaddr) AS n_peers,
               CAST(sum(bytes) AS BIGINT) AS total_bytes,
               CAST(sum(packets) AS BIGINT) AS total_packets
        FROM s GROUP BY interface_id, sess
    """,
)
def flow_session_reassembly(spark, sf_dir):
    """Reassemble per-interface flow records into activity sessions
    split on >12 h idle gaps — the gaps-and-islands shape every flow
    analytics tier runs (NetFlow/VPC "conversation" rollups), fused
    with the parse path so it is value-checked end to end.

    Plan: one shuffle on interface_id serves BOTH window passes (lag
    flag, then running-sum session id) and the final groupBy — the
    session key (interface_id, sess) is a strict refinement of the
    window partitioning, so Catalyst reuses the exchange instead of
    reshuffling. At 100 TB the partition key is the interface (ENI)
    id: millions of interfaces, bounded per-interface history, no
    global ordering anywhere. Ties on t_start are broken by srcport
    (unique per synthesized flow) so the running session id is
    bit-deterministic across engines and retries."""
    p = _parsed(spark, sf_dir)
    w = Window.partitionBy("interface_id").orderBy("start", "srcport")
    new_s = (
        F.when(F.col("start") - F.lag("start").over(w) > SESSION_GAP_S, 1)
        .otherwise(0)
    )
    sess = F.sum("new_s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        p.withColumn("new_s", new_s)
        .withColumn("sess", sess)
        .groupBy("interface_id", "sess")
        .agg(
            F.min("start").alias("session_start"),
            F.max("end").alias("session_end"),
            F.count(F.lit(1)).alias("n_flows"),
            F.countDistinct("dstaddr").alias("n_peers"),
            F.sum("bytes").alias("total_bytes"),
            F.sum("packets").alias("total_packets"),
        )
        .drop("sess")
    )


@register(
    "flow_analytics_report_e2e",
    oracle="""
        WITH f AS (
          SELECT 'eni-' || CAST(user_id AS VARCHAR) AS interface_id,
                 CAST(round(value * 100) AS BIGINT) AS bytes,
                 CAST(event_type = 'error' AS BIGINT) AS is_reject
          FROM events
        ),
        g AS (
          SELECT interface_id,
                 CAST(count(*) AS BIGINT) AS n_flows,
                 CAST(sum(bytes) AS BIGINT) AS total_bytes,
                 CAST(sum(is_reject) AS BIGINT) AS n_rejects
          FROM f GROUP BY 1
        ),
        tot AS (SELECT CAST(sum(total_bytes) AS BIGINT) AS tb FROM g)
        SELECT interface_id, n_flows, total_bytes, n_rejects,
               round(CAST(n_rejects AS DOUBLE) / n_flows, 6)
                 AS reject_ratio,
               round(CAST(total_bytes AS DOUBLE) / tot.tb, 6)
                 AS bytes_share,
               CAST(rank() OVER (ORDER BY total_bytes DESC, interface_id)
                    AS BIGINT) AS bytes_rank,
               CAST(rank() OVER (ORDER BY total_bytes DESC, interface_id)
                    <= 10 AS BIGINT) AS heavy_hitter
        FROM g, tot
    """,
)
def flow_analytics_report_e2e(spark, sf_dir):
    """Consolidated per-interface flow-log analytics report — the
    whole batch tier of the reference pipeline in ONE relation:
    synthesize → PARSE (from_csv over real v2 lines, the same
    JVM-side path every flow_* op exercises) → per-ENI rollup →
    reject ratio, traffic share, byte rank, heavy-hitter flag. One
    query answers "which interfaces carry the traffic, which are
    being firewalled, and who makes the top-10 watchlist" — the
    dashboard a flow-log pipeline ships first, value-checked end to
    end against the synthesis twins.

    Scale: the render and parse are map-only (fanned across the
    cluster by the shared _parsed fan-out); the rollup is
    map-side-combinable to the interface spine (one row per ENI —
    bounded by fleet size, not traffic), and the ranking window runs
    on that spine only."""
    p = _parsed(spark, sf_dir)
    g = p.groupBy("interface_id").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("bytes").alias("total_bytes"),
        F.sum((F.col("action") == "REJECT").cast("long")).alias(
            "n_rejects"
        ),
    )
    tot = g.agg(F.sum("total_bytes").alias("tb"))
    w = Window.orderBy(F.desc("total_bytes"), F.asc("interface_id"))
    return g.crossJoin(F.broadcast(tot)).select(
        "interface_id",
        "n_flows",
        "total_bytes",
        "n_rejects",
        F.round(
            F.col("n_rejects").cast("double") / F.col("n_flows"), 6
        ).alias("reject_ratio"),
        F.round(
            F.col("total_bytes").cast("double") / F.col("tb"), 6
        ).alias("bytes_share"),
        F.rank().over(w).cast("long").alias("bytes_rank"),
        (F.rank().over(w) <= 10).cast("long").alias("heavy_hitter"),
    )


PORT_KMV_K = 64  # same bottom-K size as the agg-tier KMV sketches
PORT_ALARM = 50  # estimated concurrent ports that trips the alarm


@register(
    "flow_port_cardinality_kmv",
    oracle=f"""
        WITH f AS (
            SELECT '10.0.' || CAST({SQL_K} % 256 AS VARCHAR) || '.'
                   || CAST(({SQL_K}*7) % 256 AS VARCHAR) AS srcaddr,
                   {SQL_K} + 1024 AS srcport
            FROM events),
        h AS (
            SELECT DISTINCT srcaddr,
                   CAST(('0x' || substr(md5(CAST(srcport AS VARCHAR)), 1, 8))
                        AS BIGINT) AS hv
            FROM f),
        kth AS (
            SELECT srcaddr, max(hv) AS hk,
                   CAST(count(*) AS BIGINT) AS n_kept
            FROM (SELECT srcaddr, hv,
                         row_number() OVER (PARTITION BY srcaddr
                                            ORDER BY hv) AS rn
                  FROM h) WHERE rn <= {PORT_KMV_K}
            GROUP BY srcaddr),
        est AS (
            SELECT srcaddr,
                   CASE WHEN n_kept < {PORT_KMV_K} THEN n_kept
                        ELSE ({PORT_KMV_K - 1} * 4294967296) // hk
                   END AS est_ports
            FROM kth),
        ex AS (
            SELECT srcaddr,
                   CAST(count(DISTINCT srcport) AS BIGINT) AS exact_ports
            FROM f GROUP BY srcaddr)
        SELECT e.srcaddr, e.est_ports, x.exact_ports,
               CAST(CASE WHEN e.est_ports >= {PORT_ALARM}
                         THEN 1 ELSE 0 END AS BIGINT) AS port_alarm
        FROM est e JOIN ex x ON x.srcaddr = e.srcaddr
        ORDER BY e.est_ports DESC, e.srcaddr LIMIT 20
    """,
)
def flow_port_cardinality_kmv(spark, sf_dir):
    """Per-source source-port cardinality via the KMV sketch — the
    NAT port-exhaustion / connection-count monitor a flow-log
    pipeline alarms on: a talker's distinct ephemeral ports
    approximate its concurrent connections, and at 100 TB the exact
    per-source distinct state is unbounded while the sketch is O(K)
    per source forever. Runs over the PARSED flow lines, so the
    synth → parse → sketch path is value-checked end to end against
    the oracle's direct restatement from events; exact counts ride
    alongside for the report (at scale you would drop them — that is
    the point of the sketch). Top-20 by estimate under the
    deterministic (est desc, srcaddr) order.

    Scale: same WindowGroupLimit bottom-K shape as agg_kmv_distinct
    (single rank filter over a single window function — a second
    window expression would silently block the map-side prune);
    the exact column is one distinct-agg over the same scan."""
    p = _parsed(spark, sf_dir)
    h = (
        p.select(
            "srcaddr",
            F.conv(
                F.substring(F.md5(F.col("srcport").cast("string")), 1, 8),
                16,
                10,
            )
            .cast("long")
            .alias("hv"),
        )
        .distinct()
    )
    # NOTE (r13): an explicit srcaddr repartition here beat the
    # AQE-coalesced single-partition rank pass in isolation
    # (1.52→1.03 s) but regressed the FULL op (3.00→3.46 s best-of-2,
    # faster sentinel window) — the extra exchange perturbs the
    # exact-count join downstream. Left on AQE defaults; measured,
    # not guessed.
    w = Window.partitionBy("srcaddr").orderBy("hv")
    kth = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PORT_KMV_K)
        .groupBy("srcaddr")
        .agg(F.max("hv").alias("hk"), F.count(F.lit(1)).alias("n_kept"))
    )
    est = F.when(F.col("n_kept") < PORT_KMV_K, F.col("n_kept")).otherwise(
        F.expr(f"({PORT_KMV_K - 1} * 4294967296) div hk")
    )
    ex = p.groupBy("srcaddr").agg(
        F.countDistinct("srcport").alias("exact_ports")
    )
    return (
        kth.select("srcaddr", est.alias("est_ports"))
        .join(ex, "srcaddr")
        .select(
            "srcaddr",
            "est_ports",
            "exact_ports",
            (F.col("est_ports") >= PORT_ALARM).cast("long").alias("port_alarm"),
        )
        .orderBy(F.desc("est_ports"), F.asc("srcaddr"))
        .limit(20)
    )


NETFLOW_SHARDS = 8
NETFLOW_MAX_RECORDS = 30  # NetFlow v5 hard packet limit


def _netflow_encode_group(pdf):
    """One exporter blob per shard: flows sorted by id, chunked into
    packets of ≤{MAX} records (the v5 hard limit), each packet a real
    24-byte big-endian header (version 5, record count, cumulative
    flow_sequence — the spec's total-flows-seen counter, verified on
    decode) followed by 48-byte records."""
    import struct

    import pandas as pd

    ids = sorted(int(i) for i in pdf["event_id"])
    # the 32-bit First/Last timestamp fields carry event_id (and
    # event_id + duration) — ids at or past 2^32 would silently alias
    # through the % 2**32 packing and mis-round-trip; fail loudly
    # instead (ADVICE r7). Bound is on First AND Last: Last adds the
    # i % 50000 duration, so the id itself must leave headroom.
    if ids and max(i + i % 50000 for i in ids) >= 2**32:
        raise ValueError(
            "event_id overflows the NetFlow v5 32-bit First/Last encoding"
        )
    shard = int(pdf["shard_id"].iloc[0])
    out, seq = [], 0
    for off in range(0, len(ids), NETFLOW_MAX_RECORDS):
        chunk = ids[off : off + NETFLOW_MAX_RECORDS]
        out.append(
            struct.pack(
                ">HHIIIIBBH",
                5,  # version
                len(chunk),  # count
                shard * 1000,  # SysUptime
                1704067200,  # unix_secs
                0,  # unix_nsecs
                seq,  # flow_sequence: flows BEFORE this packet
                0,  # engine_type
                shard,  # engine_id
                0,  # sampling_interval
            )
        )
        for i in chunk:
            out.append(
                struct.pack(
                    ">IIIHHIIIIHHBBBBHHBBH",
                    (10 << 24) | (i * 7 % 65536),  # srcaddr
                    (172 << 24) | (16 << 16) | (i * 13 % 65536),  # dstaddr
                    0,  # nexthop
                    1,  # input if
                    2,  # output if
                    i % 1000 + 1,  # dPkts
                    i * i % 1000000,  # dOctets
                    i % 4294967296,  # First
                    (i + i % 50000) % 4294967296,  # Last
                    i * 31 % 65536,  # srcport
                    443 if i % 2 else 80,  # dstport
                    0,  # pad1
                    0x18,  # tcp_flags
                    6 + 11 * (i % 2),  # prot: 6 / 17
                    0,  # tos
                    0,
                    0,  # src_as, dst_as
                    24,
                    24,  # masks
                    0,  # pad2
                )
            )
        seq += len(chunk)
    return pd.DataFrame(
        {"shard_id": [shard], "blob": [b"".join(out)]}
    )


NETFLOW_DECODE_SCHEMA = (
    "event_id long, shard_id long, packet_seq long, srcaddr string,"
    " dstaddr string, srcport long, dstport long, prot long,"
    " d_pkts long, d_octets long, duration long"
)


def _netflow_decode_batches(batches):
    """Pure-Python NetFlow v5 wire decode: walk back-to-back packets,
    verify version, the ≤30-record bound, and flow_sequence CONTINUITY
    (the header's cumulative counter must equal the flows already seen
    from this exporter — the field collectors use to detect drops),
    then unpack each 48-byte record. Raises on any malformed byte."""
    import struct

    import pandas as pd

    def dotted(a):
        return f"{(a >> 24) & 255}.{(a >> 16) & 255}.{(a >> 8) & 255}.{a & 255}"

    for pdf in batches:
        out = {k: [] for k in (
            "event_id", "shard_id", "packet_seq", "srcaddr", "dstaddr",
            "srcport", "dstport", "prot", "d_pkts", "d_octets", "duration",
        )}
        for shard_id, blob in zip(pdf["shard_id"], pdf["blob"]):
            data, pos, seen, pkt = bytes(blob), 0, 0, 0
            while pos < len(data):
                (ver, cnt, _up, _secs, _ns, fseq, _et, _eid, _si) = (
                    struct.unpack(">HHIIIIBBH", data[pos : pos + 24])
                )
                if ver != 5:
                    raise ValueError(f"bad NetFlow version {ver}")
                if not 0 < cnt <= NETFLOW_MAX_RECORDS:
                    raise ValueError(f"record count {cnt} out of range")
                if fseq != seen:
                    raise ValueError(
                        f"flow_sequence gap: header {fseq}, seen {seen}"
                    )
                pos += 24
                for _ in range(cnt):
                    (sa, da, _nh, _i, _o, pk, oc, first, last, sp, dp,
                     _p1, _fl, prot, _tos, _sas, _das, _sm, _dm, _p2) = (
                        struct.unpack(">IIIHHIIIIHHBBBBHHBBH",
                                      data[pos : pos + 48])
                    )
                    out["event_id"].append(first)
                    out["shard_id"].append(int(shard_id))
                    out["packet_seq"].append(pkt)
                    out["srcaddr"].append(dotted(sa))
                    out["dstaddr"].append(dotted(da))
                    out["srcport"].append(sp)
                    out["dstport"].append(dp)
                    out["prot"].append(prot)
                    out["d_pkts"].append(pk)
                    out["d_octets"].append(oc)
                    out["duration"].append(last - first)
                    pos += 48
                seen += cnt
                pkt += 1
            if pos != len(data):
                raise ValueError("trailing bytes after last packet")
        yield pd.DataFrame(out)


@register(
    "ingest_netflow_v5",
    oracle=f"""
        SELECT event_id,
               event_id % {NETFLOW_SHARDS} AS shard_id,
               CAST((row_number() OVER (PARTITION BY event_id % {NETFLOW_SHARDS}
                    ORDER BY event_id) - 1) // {NETFLOW_MAX_RECORDS}
                    AS BIGINT) AS packet_seq,
               '10.0.' || CAST((event_id * 7 % 65536) // 256 AS VARCHAR)
                 || '.' || CAST(event_id * 7 % 256 AS VARCHAR) AS srcaddr,
               '172.16.' || CAST((event_id * 13 % 65536) // 256 AS VARCHAR)
                 || '.' || CAST(event_id * 13 % 256 AS VARCHAR) AS dstaddr,
               event_id * 31 % 65536 AS srcport,
               CASE WHEN event_id % 2 = 1 THEN 443 ELSE 80 END AS dstport,
               6 + 11 * (event_id % 2) AS prot,
               event_id % 1000 + 1 AS d_pkts,
               event_id * event_id % 1000000 AS d_octets,
               event_id % 50000 AS duration
        FROM events
    """,
)
def ingest_netflow_v5(spark, sf_dir):
    """NetFlow v5 BINARY ingest — the wire format the reference
    pipeline's domain (network flow telemetry) actually ships before
    it ever becomes text flow logs: every event becomes one flow
    record, packed per exporter shard into real big-endian v5 packets
    (24-byte headers, 48-byte records, the ≤30-records-per-packet
    limit, and the CUMULATIVE flow_sequence counter collectors use to
    detect drops), round-tripped through a parquet binary column and
    decoded with a struct-level pure-Python reader inside mapInPandas
    that verifies version, record-count bounds, sequence continuity,
    and exact byte consumption. Every decoded field is closed-form in
    the flow id, so the oracle checks the full round trip — a single
    misaligned offset anywhere breaks the hash.

    Scale shape: encode is applyInPandas per exporter shard; decode is
    map-only over exporter blobs — at 100 TB the unit of parallelism
    is the exporter×window object count, no shuffle until analytics."""
    e = table(spark, sf_dir, "events").select("event_id")
    payloads = (
        e.withColumn("shard_id", F.pmod("event_id", F.lit(NETFLOW_SHARDS)))
        .groupBy("shard_id")
        .applyInPandas(_netflow_encode_group, "shard_id long, blob binary")
    )
    from ..registry import scratch_dir

    base = scratch_dir("ingest_netflow_v5")
    payloads.write.mode("overwrite").parquet(base)
    return spark.read.parquet(base).mapInPandas(
        _netflow_decode_batches, NETFLOW_DECODE_SCHEMA
    )


@register(
    "stream_netflow_rollup_e2e",
    oracle=f"""
        WITH f AS (
          SELECT event_id,
                 '10.0.' || CAST((event_id * 7 % 65536) // 256 AS VARCHAR)
                   || '.' || CAST(event_id * 7 % 256 AS VARCHAR) AS srcaddr,
                 6 + 11 * (event_id % 2) AS prot,
                 event_id % 1000 + 1 AS d_pkts,
                 event_id * event_id % 1000000 AS d_octets
          FROM events
        )
        SELECT srcaddr, CAST(prot AS BIGINT) AS prot,
               CAST(count(*) AS BIGINT) AS n_flows,
               CAST(sum(d_pkts) AS BIGINT) AS total_pkts,
               CAST(sum(d_octets) AS BIGINT) AS total_octets
        FROM f GROUP BY 1, 2
    """,
)
def stream_netflow_rollup_e2e(spark, sf_dir):
    """The reference pipeline's complete shape on the REAL wire
    format: NetFlow v5 exporter blobs land as files (the Kinesis
    delivery-object stand-in) → Structured Streaming file source →
    stateless mapInPandas BINARY decode per micro-batch (the
    sequence-verified reader of ingest_netflow_v5) → checkpointed
    parquet landing zone → per-(srcaddr, protocol) traffic rollup over
    the landed records, exactly how the reference queries its S3
    parquet with Athena. Every byte is value-hashed: the flow set is
    closed-form, so the oracle restates source, decode, AND
    aggregation in one statement.

    Scale shape: decode parallelism = delivery objects per micro-batch
    with zero shuffle before the sink; the rollup is one combinable
    groupBy over the landing zone — the lake-then-aggregate split that
    lets the same landed bytes serve any later query."""
    from ..registry import scratch_dir

    e = table(spark, sf_dir, "events").select("event_id")
    base = scratch_dir("stream_netflow_rollup_e2e")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    (
        e.withColumn("shard_id", F.pmod("event_id", F.lit(NETFLOW_SHARDS)))
        .groupBy("shard_id")
        .applyInPandas(_netflow_encode_group, "shard_id long, blob binary")
        .write.mode("overwrite")
        .parquet(src)
    )
    stream = spark.readStream.schema("shard_id long, blob binary").parquet(
        src
    )
    decoded = stream.mapInPandas(
        _netflow_decode_batches, NETFLOW_DECODE_SCHEMA
    )
    run_available_now(
        decoded.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt),
        "stream_netflow_rollup_e2e",
        300,
    )
    landed = spark.read.schema(NETFLOW_DECODE_SCHEMA).parquet(sink)
    return landed.groupBy("srcaddr", "prot").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("d_pkts").cast("long").alias("total_pkts"),
        F.sum("d_octets").cast("long").alias("total_octets"),
    )
