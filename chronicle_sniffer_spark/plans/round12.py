"""Round-12 catalog additions (SURVEY.md §2B growth).

Families this round:

- WARC crawl-container ingestion (s20_*) — the stage UPSTREAM of the
  round-11 HTML → text extractor: container bytes → records →
  extracted training text, end-to-end (the round-11 verdict's named
  gap).  Reference analogue: R9 container decode
  (processor/processor_app.py:150-155) — pcap-side, same shape.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronicle_sniffer_spark.operators.graph import G13_DEG_CAP
from chronicle_sniffer_spark.operators.html import (
    _DENSITY_PCT,
    HTML_PAGE_SQL,
    _block_cte,
    html_extract,
)
from chronicle_sniffer_spark.plans.catalog import query
from chronicle_sniffer_spark.sources.warc import _warc_dir
from chronicle_sniffer_spark.tables import load_table, session_memo, session_tmpdir, spread


# ---------------------------------------------------------------------------
# S20: WARC crawl-container scan + end-to-end crawl pipeline
# ---------------------------------------------------------------------------

_S20_SCAN_ORACLE = f"""
    WITH pages AS (
      SELECT doc_id, {HTML_PAGE_SQL} AS html FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           'https://example.org/doc/' || CAST(doc_id AS STRING) AS target_uri,
           CAST(200 AS INTEGER) AS http_status,
           CAST(length(html) AS BIGINT) AS payload_len,
           md5(html) AS payload_md5
    FROM pages
"""


@query("s20_warc_scan", section="S2", oracle=_S20_SCAN_ORACLE)
def s20_warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC (ISO 28500) crawl-container ingestion — what a 100 TB
    crawl actually arrives as: concatenated-gzip-member archives, one
    WARC record per member, each carrying a full HTTP response.  The
    scan splits members with a sequential zlib walk per FILE (the
    only order gzip admits — the s18 single-member lesson generalized
    to member level) while parallelizing ACROSS files, exactly the
    Common Crawl layout (~64k files per snapshot); the fixture is
    built by the distributed writer in sources/warc.py from the
    round-11 shared HTML page expression, so the oracle re-derives
    every record's URI, status, payload length, and payload md5 from
    the documents table alone — the container round-trips losslessly
    or the hash catches it.

    The fixture carries the full realism mix (request/metadata/revisit
    records, chunked transfer-encoding on the CHUNKED_MOD grid,
    correctly- and MIS-declared latin-1 responses — sources/warc.py);
    this entry filters to the main document responses, so the oracle
    stays derivable from the documents table alone — and the chunked
    docs pass through the de-chunker invisibly: their payload md5 must
    still equal md5(html).  payload_len counts CHARACTERS of the
    charset-decoded text on both sides (round-12 advisor finding: byte
    length vs char length agreed only because the corpus was ASCII).

    Spark shapes: binaryFile scan → one Arrow-batched decode pass
    (mapInPandas at the DAG edge, yielding per FILE) → narrow column
    extraction; ZERO shuffles."""
    from chronicle_sniffer_spark.sources.warc import read_warc

    recs = read_warc(spark, _warc_dir(spark, sf_dir))
    return recs.filter(
        (F.col("warc_type") == "response")
        & F.col("target_uri").rlike(r"/doc/\d+$")
    ).select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        "target_uri",
        F.col("http_status").cast("int").alias("http_status"),
        F.length("text").cast("bigint").alias("payload_len"),
        F.md5("payload").alias("payload_md5"),
    )


@query(
    "s20_warc_html_pipeline",
    section="S2/L4",
    oracle=_block_cte()
    + """
    , agg AS (
      SELECT doc_id,
             string_agg(CASE WHEN kept THEN text END, ' ' ORDER BY pos) AS text,
             CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
             CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS INTEGER) AS n_dropped
      FROM nonempty GROUP BY doc_id
    )
    SELECT c.doc_id, c.title,
           coalesce(a.text, '') AS text,
           coalesce(a.n_kept, 0) AS n_kept,
           coalesce(a.n_dropped, 0) AS n_dropped
    FROM clean c LEFT JOIN agg a ON a.doc_id = c.doc_id
    """,
)
def s20_warc_html_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl pipeline's first two stages COMPOSED end-to-end:
    container bytes → WARC records (sources/warc.py) → HTML → training
    text (operators/html.py, the round-11 extractor unchanged) — the
    full path a 100 TB pretraining corpus takes from archive to text,
    against the l4_html_extract oracle VERBATIM: extraction through
    the container must be byte-identical to extraction straight off
    the page column, or the container stage corrupted something.

    Spark shapes: per-file member decode (parallel across files) →
    spread() → the extractor's pure-codegen regex pipeline → one
    posexplode + one doc_id shuffle (inherited from l4_html_extract).
    The html comes from the source's CHARSET-AWARE ``text`` column
    (decoded per the declared Content-Type charset with counted
    replacements), not a blind utf-8 cast — the round-12 advisor's
    silent-mangling channel for non-UTF-8 crawls."""
    from chronicle_sniffer_spark.sources.warc import read_warc

    recs = read_warc(spark, _warc_dir(spark, sf_dir))
    pages = spread(
        recs.filter(
            (F.col("warc_type") == "response")
            & F.col("target_uri").rlike(r"/doc/\d+$")
        ).select(
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("text").alias("html"),
        )
    )
    return html_extract(pages, max_density_pct=_DENSITY_PCT)


# ---------------------------------------------------------------------------
# L4: URL canonicalization (crawl-frontier dedup key)
# ---------------------------------------------------------------------------

# Two raw variants per doc, shared VERBATIM between engines: they
# differ ONLY in ways canonicalization must erase (case, default
# port, utm_* params, param order, duplicate/trailing slashes, a
# fragment), so n_canon == 1 is a per-row self-check the oracle hash
# enforces for every document.
URL_V1_SQL = (
    "'https://Example.COM:443/doc/' || CAST(doc_id AS STRING)"
    " || '//page?b=2&a=' || CAST(doc_id % 7 AS STRING) || '&utm_source=feed#frag'"
)
URL_V2_SQL = (
    "'HTTPS://example.com/doc/' || CAST(doc_id AS STRING)"
    " || '/page/?a=' || CAST(doc_id % 7 AS STRING) || '&utm_campaign=x&b=2'"
)

_CANON_DUCK = """
  lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://'
  || lower(regexp_extract(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^([^:]*)', 1))
  || CASE
       WHEN regexp_extract(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), ':([0-9]+)$', 1) IN ('',
            CASE lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                 WHEN 'https' THEN '443' WHEN 'http' THEN '80' ELSE '' END)
       THEN ''
       ELSE ':' || regexp_extract(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), ':([0-9]+)$', 1)
     END
  || regexp_replace(regexp_replace(
       regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
       '/{{2,}}', '/', 'g'), '/+$', '', 'g')
  || CASE
       WHEN len(list_filter(string_split(regexp_extract(u, '\\?([^#]*)', 1), '&'),
                p -> p <> '' AND NOT starts_with(p, 'utm_'))) > 0
       THEN '?' || array_to_string(
              list_sort(list_filter(string_split(regexp_extract(u, '\\?([^#]*)', 1), '&'),
                        p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&')
       ELSE ''
     END
"""

_L4URL_ORACLE = f"""
    WITH raw AS (
      SELECT doc_id, unnest([{URL_V1_SQL}, {URL_V2_SQL}]) AS u FROM documents
    ),
    canon AS (
      SELECT doc_id, u, {_CANON_DUCK.replace('{{', '{').replace('}}', '}')} AS cu
      FROM raw
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST(count(DISTINCT cu) AS BIGINT) AS n_canon,
           min(cu) AS canon_url
    FROM canon GROUP BY doc_id
"""


def canonical_url(u):
    """Pure-expression URL canonicalizer (Java∩RE2 regex subset):
    lowercase scheme+host, strip the scheme's default port, drop the
    fragment and utm_* / empty params, sort surviving params, collapse
    duplicate slashes, strip trailing slashes."""
    scheme = F.lower(F.regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    host = F.lower(F.regexp_extract(hostport, "^([^:]*)", 1))
    port = F.regexp_extract(hostport, ":([0-9]+)$", 1)
    default = (
        F.when(scheme == "https", F.lit("443"))
        .when(scheme == "http", F.lit("80"))
        .otherwise(F.lit(""))
    )
    port_part = F.when(
        (port == "") | (port == default), F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(F.regexp_replace(path, "/{2,}", "/"), "/+$", "")
    q = F.regexp_extract(u, r"\?([^#]*)", 1)
    # drop utm_*/empty params and sort the survivors WITHOUT a
    # higher-order-function lambda (filter/array_sort lambdas are
    # CodegenFallback — the round-12 audit regression): pad with '&',
    # regex-strip '&utm_…' params, collapse the empty slots, then
    # sort_array (SortArray, whole-stage codegen) the split
    padded = F.concat(F.lit("&"), q, F.lit("&"))
    cleaned = F.regexp_replace(padded, "&utm_[^&]*", "&")
    cleaned = F.regexp_replace(cleaned, "&{2,}", "&")
    cleaned = F.regexp_replace(cleaned, "^&|&$", "")
    params = F.sort_array(F.split(cleaned, "&"))
    qs = F.when(
        cleaned != "", F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port_part, path, qs)


@query("l4_url_canonicalize", section="L4", oracle=_L4URL_ORACLE)
def l4_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the crawl frontier's dedup key: the same
    resource arrives under case variants, explicit default ports,
    tracking (utm_*) params, permuted query order, duplicate/trailing
    slashes, and fragments; fetching each variant re-crawls the same
    page.  Canonicalize (lowercase scheme+host, strip default port,
    drop fragment + utm_*/empty params, sort params, collapse
    duplicate and trailing slashes) and verify both synthetic variants
    of every doc's URL collapse to ONE canonical form (n_canon = 1 is
    hash-enforced per row by the oracle).

    Spark shapes: one explode + pure-codegen regex/array expressions
    (Java∩RE2 subset, the html.py policy) + one doc_id partial agg —
    a single narrow shuffle; no UDFs anywhere."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    raw = d.select(
        "doc_id",
        F.explode(F.array(F.expr(URL_V1_SQL), F.expr(URL_V2_SQL))).alias("u"),
    )
    canon = raw.select("doc_id", canonical_url(F.col("u")).alias("cu"))
    return canon.groupBy("doc_id").agg(
        F.count("*").alias("n_raw"),
        F.count_distinct("cu").alias("n_canon"),
        F.min("cu").alias("canon_url"),
    )


# ---------------------------------------------------------------------------
# TS23: autocorrelation function (per-key, lags 1..K)
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 3
ACF_MIN_PAIRS = 8

_TS23_ORACLE = f"""
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS d,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY user_id, date_trunc('day', ts)
    ),
    s AS (
      SELECT user_id, x,
             row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
      FROM daily
    ),
    lagged AS (
      SELECT a.user_id, l.lag, a.x AS x, b.x AS y
      FROM s a
      JOIN (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag) l ON TRUE
      JOIN s b ON b.user_id = a.user_id AND b.rn = a.rn + l.lag
    ),
    mom AS (
      SELECT user_id, lag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM lagged GROUP BY user_id, lag
    )
    SELECT user_id, CAST(lag AS INTEGER) AS lag, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS acf
    FROM mom
    WHERE n >= {ACF_MIN_PAIRS}
      AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
"""


@query("ts23_acf", section="TS4", oracle=_TS23_ORACLE)
def ts23_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key autocorrelation function at lags 1..{K} over each
    user's DAILY activity series — the seasonality/persistence
    fingerprint every forecasting stack computes before model choice
    (is this series AR-ish?  does lag-2 structure survive?).
    Distinct from ts15 (cross-correlation between two DIFFERENT
    day-grain series via a broadcast lag grid): ACF pairs each key's
    series with ITSELF through per-key lag windows — no self-join, no
    grid.

    Determinism (the ts15 policy): the series is integer daily
    counts, so the five Pearson moments are exact small BIGINTs and
    every int→double conversion is value-exact (all magnitudes
    ≪ 2⁵³ — measured this round: DuckDB's HUGEINT→DOUBLE cast is NOT
    round-to-nearest past 2⁵³, so keeping moment magnitudes under the
    exact range is the only airtight cross-engine contract); r is ONE
    identically-shaped double expression, two separate sqrt casts.
    Groups with fewer than {M} pairs or zero variance drop (both
    engines, same predicate).

    Spark shapes: one day-grain partial agg (map-side combinable —
    the event volume collapses FIRST, the ts15 move), then ONE
    user_id shuffle shared by every lag window; output is
    (users × lags)."""
    from pyspark.sql import Window

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("d"))
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    w = Window.partitionBy("user_id").orderBy("d")
    lagged = None
    for k in range(1, ACF_MAX_LAG + 1):
        pair = daily.select(
            "user_id",
            F.lit(k).alias("lag"),
            F.col("x").alias("y"),
            F.lag("x", k).over(w).alias("x"),
        ).filter(F.col("x").isNotNull())
        lagged = pair if lagged is None else lagged.unionByName(pair)
    mom = lagged.groupBy("user_id", "lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return (
        mom.withColumn("acf", num / (F.sqrt(dx) * F.sqrt(dy)))
        .filter((F.col("n") >= ACF_MIN_PAIRS) & (dx > 0) & (dy > 0))
        .select("user_id", F.col("lag").cast("int").alias("lag"), "n", "acf")
    )


ts23_acf.__doc__ = ts23_acf.__doc__.format(K=ACF_MAX_LAG, M=ACF_MIN_PAIRS)


# ---------------------------------------------------------------------------
# ML24: Welch's unequal-variance t-test (A/B testing)
# ---------------------------------------------------------------------------

_ML24_ORACLE = """
    WITH x AS (
      SELECT event_type, user_id % 2 AS arm,
             CAST(round(value * 100) AS BIGINT) AS xc
      FROM events
    ),
    mom AS (
      SELECT event_type, arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xc) AS BIGINT) AS s,
             CAST(sum(xc * xc) AS BIGINT) AS s2
      FROM x GROUP BY event_type, arm
    ),
    ab AS (
      SELECT a.event_type,
             a.n AS n_a, a.s AS s_a, a.s2 AS s2_a,
             b.n AS n_b, b.s AS s_b, b.s2 AS s2_b
      FROM mom a JOIN mom b USING (event_type)
      WHERE a.arm = 0 AND b.arm = 1
    ),
    se AS (
      SELECT event_type, n_a, n_b,
             CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS m_a,
             CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m_b,
             ((CAST(s2_a AS DOUBLE)
               - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
              / CAST(n_a - 1 AS DOUBLE)) / CAST(n_a AS DOUBLE) AS se2_a,
             ((CAST(s2_b AS DOUBLE)
               - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
              / CAST(n_b - 1 AS DOUBLE)) / CAST(n_b AS DOUBLE) AS se2_b
      FROM ab
    )
    SELECT event_type, n_a, n_b,
           (m_a - m_b) / sqrt(se2_a + se2_b) AS t_stat,
           ((se2_a + se2_b) * (se2_a + se2_b))
             / (se2_a * se2_a / CAST(n_a - 1 AS DOUBLE)
                + se2_b * se2_b / CAST(n_b - 1 AS DOUBLE)) AS welch_df
    FROM se
"""


@query("ml24_welch_ttest", section="ML3", oracle=_ML24_ORACLE)
def ml24_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test per metric — the A/B-test
    statistic for continuous outcomes (the chi-square entry ml11
    covers proportions; this covers means with no equal-variance
    assumption, plus the Welch–Satterthwaite degrees of freedom the
    p-value lookup needs).  Arms split deterministically on
    user_id % 2; one t and df per event_type.

    Determinism: values quantize to exact centi BIGINTs; the per-arm
    moments (n, Σx, Σx²) stay inside int64 at ANY shipped scale
    (Σx² ≤ n·1e10 — int64-safe to ~10⁸ rows per arm-metric; the
    round-12 measurement showed DuckDB's HUGEINT→double cast is NOT
    round-to-nearest, so int64 moments + int64→double casts — which
    ARE correctly rounded in both engines — are the airtight
    contract); every downstream double expression is shaped
    identically in both engines, so t and df agree to the last bit
    with NO output rounding.

    Spark shapes: one map-side-combinable (metric, arm) partial agg
    over the event stream, then an arm self-join on the ≤#metrics-row
    aggregate — the statistic costs one scan."""
    x = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2).alias("arm"),
        F.round(F.col("value") * 100).cast("bigint").alias("xc"),
    )
    mom = x.groupBy("event_type", "arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("s"),
        F.sum(F.col("xc") * F.col("xc")).cast("bigint").alias("s2"),
    )
    a = mom.filter(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("s2").alias("s2_a"),
    )
    b = mom.filter(F.col("arm") == 1).select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("s2").alias("s2_b"),
    )
    ab = a.join(b, "event_type")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    m_a, m_b = d("s_a") / d("n_a"), d("s_b") / d("n_b")
    se2_a = ((d("s2_a") - d("s_a") * d("s_a") / d("n_a")) / (d("n_a") - F.lit(1.0))) / d("n_a")
    se2_b = ((d("s2_b") - d("s_b") * d("s_b") / d("n_b")) / (d("n_b") - F.lit(1.0))) / d("n_b")
    return ab.select(
        "event_type",
        "n_a",
        "n_b",
        ((m_a - m_b) / F.sqrt(se2_a + se2_b)).alias("t_stat"),
        (
            ((se2_a + se2_b) * (se2_a + se2_b))
            / (
                se2_a * se2_a / (d("n_a") - F.lit(1.0))
                + se2_b * se2_b / (d("n_b") - F.lit(1.0))
            )
        ).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# G13: neighbor-overlap link prediction (common neighbors + Jaccard)
# ---------------------------------------------------------------------------

G13_TOPK = 25
# Phase-1 survivors re-scored exactly in phase 2: 8× the emitted
# top-k.  The verification recount is bounded by
# OVERFETCH × (deg(s1) + deg(s2)) rows — hundreds of pairs, never the
# corpus (the first exact-credit draft joined EVERY candidate against
# the full edge set and OOM'd at sf1: ~5M candidates × supplier
# degree ~400 ≈ 2×10⁹ join rows).
G13_OVERFETCH = 8 * G13_TOPK
# Broadcast ceiling for the verify expansion (survivors × N(s1) rows,
# three int64 columns ≈ 24 B/row → ~120 MB at the cap).  An explicit
# broadcast() hint OVERRIDES Spark's size checks, and on a power-law
# graph one hub supplier (deg 10⁶⁺) in the survivor set would turn
# the unconditional hint into a driver/executor OOM instead of a plan
# choice (round-13 verdict) — so the hint is GATED on the exact
# expansion size (Σ deg(s1) over survivors, computed from the already-
# materialized degree dim; one O(1)-row driver fold), falling back to
# a shuffle-hash hint above the ceiling.
G13_BCAST_VERIFY_ROWS = 5_000_000

_G13_ORACLE = f"""
    WITH e AS (
      SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    deg AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY s),
    capped AS (
      SELECT s, c FROM (
        SELECT s, c, row_number() OVER (PARTITION BY c ORDER BY s) AS rn
        FROM e
      ) WHERE rn <= {G13_DEG_CAP}
    ),
    cpairs AS (
      SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS capped_common
      FROM capped a JOIN capped b ON a.c = b.c AND a.s < b.s
      GROUP BY a.s, b.s
    ),
    survivors AS (
      SELECT p.s1, p.s2
      FROM cpairs p
      JOIN deg d1 ON d1.s = p.s1
      JOIN deg d2 ON d2.s = p.s2
      ORDER BY CAST(p.capped_common AS DOUBLE)
                 / CAST(d1.d + d2.d - p.capped_common AS DOUBLE) DESC,
               p.s1, p.s2
      LIMIT {G13_OVERFETCH}
    ),
    pairs AS (
      SELECT sv.s1, sv.s2, CAST(count(*) AS BIGINT) AS common
      FROM survivors sv
      JOIN e a ON a.s = sv.s1
      JOIN e b ON b.s = sv.s2 AND b.c = a.c
      GROUP BY sv.s1, sv.s2
    ),
    scored AS (
      SELECT p.s1, p.s2, p.common,
             CAST(p.common AS DOUBLE)
               / CAST(d1.d + d2.d - p.common AS DOUBLE) AS jaccard
      FROM pairs p
      JOIN deg d1 ON d1.s = p.s1
      JOIN deg d2 ON d2.s = p.s2
    )
    SELECT s1, s2, common, jaccard FROM scored
    ORDER BY jaccard DESC, s1, s2 LIMIT {G13_TOPK}
"""


@query("g13_common_neighbors", section="G2", oracle=_G13_ORACLE)
def g13_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-overlap link prediction on the supplier–customer
    bipartite graph: for supplier pairs sharing at least one
    customer, the common-neighbor count and neighbor-set Jaccard
    |N(a)∩N(b)| / |N(a)∪N(b)| — the classic "who should trade next"
    score (Liben-Nowell & Kleinberg, 2003), and the graph-side
    sibling of the document near-dup family.

    Scale shapes — the classic FILTER-AND-VERIFY similarity join
    (same architecture as the ANN probe + exact re-score):

    1. *Filter*: candidates and lower-bound scores come from the
       DEGREE-CAPPED wedge join — each customer contributes wedges
       among at most its {G13_DEG_CAP} smallest suppliers (a window
       rank on the SAME key the wedge join shuffles on, so the cap
       adds no exchange), bounding join volume at C(CAP,2) per
       customer where the uncapped form is Σ_c deg(c)² — one hot
       customer on a power-law graph would otherwise own the job
       (the n-gram family's max_df lesson; measured here: sf1 wedge
       volume 111M → 18M rows, exact-pass wall ~10 s → see soak).
    2. *Verify*: the top {G13_OVERFETCH} survivors by capped score
       are re-counted EXACTLY against the full edge set — a recount
       bounded by overfetch × degree (thousands of rows), so every
       EMITTED pair carries its true common count and Jaccard: the
       cap can only cost recall, never precision.  Recall exposure is
       quantified corpus-wide by g13_degree_cap_audit, and at this
       corpus's degree profile the capped top-k equals the uncapped
       top-k (pytest-asserted at fixture scale).

    Degrees join in as two broadcast-sized dimension tables; Jaccard
    is one exact-int division (int64→double casts, correctly rounded
    in both engines); deterministic everywhere: rank truncation by
    supplier id, survivor cut by (capped score, s1, s2), final top-k
    by (jaccard, s1, s2).

    The union in the denominator needs no union materialization:
    |A∪B| = d(a) + d(b) − common, all exact BIGINTs."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    # the edge table feeds FIVE consumers (window cap, both verify
    # sides, the degree dim twice): materialize it once (g9/g12
    # policy) — unchecked, the sf10 spot re-ran the 17 s scan+join per
    # reference and the plan cost ~5× its true work
    e = e.localCheckpoint(eager=True)
    # the degree dim feeds FIVE broadcast builds (filter scoring d1+d2,
    # the expansion-size gate, verify scoring d1+d2), and every lazy
    # broadcast re-ran the degree aggregate over e; one tiny
    # materialization (|suppliers| rows) serves them all
    deg = (
        e.groupBy("s")
        .agg(F.count("*").cast("bigint").alias("d"))
        .localCheckpoint(eager=True)
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("d2"))
    from pyspark.sql import Window as W

    capped = (
        e.withColumn(
            "rn", F.row_number().over(W.partitionBy("c").orderBy("s"))
        )
        .filter(F.col("rn") <= G13_DEG_CAP)
        .select("s", "c")
    )
    cpairs = (
        capped.select(F.col("s").alias("s1"), "c")
        .join(capped.select(F.col("s").alias("s2"), "c"), "c")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").cast("bigint").alias("capped_common"))
    )
    survivors = (
        cpairs.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .orderBy(
            (
                F.col("capped_common").cast("double")
                / (
                    F.col("d1") + F.col("d2") - F.col("capped_common")
                ).cast("double")
            ).desc(),
            "s1",
            "s2",
        )
        .limit(G13_OVERFETCH)
        .select("s1", "s2")
        # OVERFETCH rows; materialized so the wedge join runs once —
        # both the size gate below and the verify read this
        .localCheckpoint(eager=True)
    )
    # verify: exact credit against the FULL edge set, bounded by
    # overfetch × degree rows.  Both verify joins keep their SMALL
    # side broadcast — survivors (OVERFETCH rows) into the first, the
    # survivors×N(s1) expansion (overfetch × degree ≈ 10⁵ rows here)
    # into the second — so the edge table is only ever STREAMED, never
    # shuffled (the un-hinted form sort-merge-shuffled the 58M-row
    # edge table twice at sf10: 40 s of the entry's wall).  The
    # expansion hint is GATED on its exact row count Σ deg(s1):
    # explicit broadcast() bypasses Spark's size checks, and a hub
    # supplier surviving to the verify set must flip the plan to a
    # shuffle-hash join, not OOM the driver (G13_BCAST_VERIFY_ROWS).
    expansion_rows = (
        survivors.join(F.broadcast(d1), "s1")
        .agg(F.sum("d1").cast("bigint").alias("n"))
        .collect()[0]["n"]
        or 0
    )
    expanded = F.broadcast(survivors).join(
        e.select(F.col("s").alias("s1"), "c"), "s1"
    )
    expanded = (
        F.broadcast(expanded)
        if expansion_rows <= G13_BCAST_VERIFY_ROWS
        else expanded.hint("shuffle_hash")
    )
    pairs = (
        expanded.join(e.select(F.col("s").alias("s2"), "c"), ["s2", "c"])
        .groupBy("s1", "s2")
        .agg(F.count("*").cast("bigint").alias("common"))
    )
    scored = (
        pairs.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "common",
            (
                F.col("common").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), "s1", "s2"
    ).limit(G13_TOPK)


g13_common_neighbors.__doc__ = g13_common_neighbors.__doc__.format(
    G13_DEG_CAP=G13_DEG_CAP, G13_OVERFETCH=G13_OVERFETCH
)


# ---------------------------------------------------------------------------
# L5: image resize (nearest-neighbor, real bytes end-to-end)
# ---------------------------------------------------------------------------

RESIZE_OUT = 8  # output grid: 8×8

_L5RESIZE_ORACLE = f"""
    WITH g AS (
      SELECT doc_id AS d,
             16 + (doc_id % 8) * 4 AS w,
             16 + (doc_id % 5) * 4 AS h
      FROM documents WHERE doc_id % 3 = 0
    ),
    px AS (
      SELECT d, (i * w) // {RESIZE_OUT} AS sx, (j * h) // {RESIZE_OUT} AS sy
      FROM g, range(0, {RESIZE_OUT}) t1(i), range(0, {RESIZE_OUT}) t2(j)
    )
    SELECT d AS media_id,
           CAST({RESIZE_OUT} AS INTEGER) AS out_w,
           CAST({RESIZE_OUT} AS INTEGER) AS out_h,
           CAST(sum((sx * 3 + sy * 5 + d) % 256) AS BIGINT) AS sum_r,
           CAST(sum((sx * 7 + d) % 256) AS BIGINT) AS sum_g,
           CAST(sum((sy * 11 + d) % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY d
"""


@query("l5_image_resize", section="L5", oracle=_L5RESIZE_ORACLE)
def l5_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize through bytes — the preprocessing step every
    multimodal training pipeline runs between decode and the vision
    encoder: gradient 24-bit BMPs (pixel (x,y) channel values are
    closed-form in doc_id, so the ORACLE recomputes the resize from
    arithmetic alone) encode → decode → nearest-neighbor resample to
    an {K}×{K} grid (source index = (i·W)//{K}, the standard floor
    convention) → exact integer pixel sums per channel.  A solid-color
    corpus could not catch a wrong source-index formula; the gradient
    makes every selected pixel matter.

    Spark shapes: doc_id-only pruned scan → spread() → one
    Arrow-batched encode pass and one decode+resize pass (mapInPandas
    at the DAG edge, the multimodal.py policy); only the 6 stat
    columns leave the stage; no shuffle."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    from chronicle_sniffer_spark.operators.codecs import decode_bmp, encode_bmp
    from chronicle_sniffer_spark.operators.multimodal import _spread_ids

    K = RESIZE_OUT

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                if d % 3 != 0:
                    continue
                w, h = 16 + (d % 8) * 4, 16 + (d % 5) * 4
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                px = np.stack(
                    [
                        (x * 3 + y * 5 + d) % 256,
                        (x * 7 + np.zeros_like(y) + d) % 256,
                        (np.zeros_like(x) + y * 11 + d) % 256,
                    ],
                    axis=-1,
                ).astype(np.uint8)
                ids.append(d)
                payloads.append(encode_bmp(px))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k: []
                for k in ("media_id", "out_w", "out_h", "sum_r", "sum_g", "sum_b")
            }
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                px = decode_bmp(bytes(b))
                h, w, _ = px.shape
                sy = (np.arange(K) * h) // K
                sx = (np.arange(K) * w) // K
                small = px[sy][:, sx]
                s = small.reshape(-1, 3).astype(np.int64).sum(axis=0)
                out["media_id"].append(int(mid))
                out["out_w"].append(K)
                out["out_h"].append(K)
                out["sum_r"].append(int(s[0]))
                out["sum_g"].append(int(s[1]))
                out["sum_b"].append(int(s[2]))
            yield pd.DataFrame(out)

    media = _spread_ids(load_table(spark, sf_dir, "documents")).mapInPandas(
        encode, "media_id bigint, payload binary"
    )
    return media.mapInPandas(
        resize,
        "media_id bigint, out_w int, out_h int,"
        " sum_r bigint, sum_g bigint, sum_b bigint",
    )


l5_image_resize.__doc__ = l5_image_resize.__doc__.format(K=RESIZE_OUT)


# ---------------------------------------------------------------------------
# S21: manifest-store compaction (Delta OPTIMIZE / Iceberg rewrite shape)
# ---------------------------------------------------------------------------

_S21_ORACLE = """
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           CAST(1 AS INTEGER) AS n_live_commit_dirs
    FROM events
"""


@query("s21_manifest_compaction", section="S8", oracle=_S21_ORACLE)
def s21_manifest_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction on the atomic-manifest bucket store — the
    maintenance operation every table format needs once a stream has
    committed many epochs (each epoch leaves its own commit directory;
    a full scan touches O(epochs) dirs).  Builds a private 3-epoch
    store through the production merge path, compacts it with ONE
    write-once epoch rewrite + ONE manifest flip
    (streaming/incremental.py::compact_table), and scans the result:
    totals must equal the raw-events rollup EXACTLY (compaction moves
    bytes, never values — decimal-exact accumulators), and the live
    manifest must resolve every bucket from a single commit directory.

    Spark shapes: the compaction rewrite is one repartition(bucket) +
    partitioned write (one file per bucket); the scan reads
    manifest-resolved paths only.  Crash safety inherits the s19
    protocol: a reader holds either the old or the new manifest,
    never a mix (crash-injection pytest in tests/test_round12.py)."""
    from chronicle_sniffer_spark.streaming import manifest as mf
    from chronicle_sniffer_spark.streaming.incremental import (
        _read_table,
        compact_table,
        merge_batch,
    )

    def build() -> str:
        table = session_tmpdir("css_s21_")
        ev = load_table(spark, sf_dir, "events")
        for epoch in range(3):
            merge_batch(spark, table, ev.filter(F.col("event_id") % 3 == epoch), epoch)
        compact_table(spark, table)
        return table

    table = session_memo(spark, ("s21_compacted", os.path.abspath(sf_dir)), build)
    m = mf.read_manifest(table)
    n_dirs = len({e["path"] for e in m["buckets"].values()})
    return _read_table(spark, table).agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum("total_value").cast("double").alias("total_value"),
        F.lit(n_dirs).cast("int").alias("n_live_commit_dirs"),
    )


# ---------------------------------------------------------------------------
# ML25: Brier score + Murphy decomposition (probability-forecast eval)
# ---------------------------------------------------------------------------

_ML25_ORACLE = """
    WITH x AS (
      SELECT (user_id * 37) % 101 AS k,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS o,
             CAST(sum((k - 100 * y) * (k - 100 * y)) AS BIGINT) AS s
      FROM x
    ),
    b AS (
      SELECT k, CAST(count(*) AS BIGINT) AS nk, CAST(sum(y) AS BIGINT) AS ok
      FROM x GROUP BY k
    ),
    terms AS (
      SELECT
        CAST(floor(CAST(nk AS DOUBLE)
             * (CAST(k AS DOUBLE) / 100.0 - CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE))
             * (CAST(k AS DOUBLE) / 100.0 - CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE))
             * 1000000000000.0) AS BIGINT) AS rel_pico,
        CAST(floor(CAST(nk AS DOUBLE)
             * (CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE)
                - CAST(tot.o AS DOUBLE) / CAST(tot.n AS DOUBLE))
             * (CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE)
                - CAST(tot.o AS DOUBLE) / CAST(tot.n AS DOUBLE))
             * 1000000000000.0) AS BIGINT) AS res_pico
      FROM b, tot
    )
    SELECT tot.n,
           CAST(tot.s AS DOUBLE) / (10000.0 * CAST(tot.n AS DOUBLE)) AS brier,
           CAST(sum(terms.rel_pico) AS BIGINT) / 1000000000000.0
             / CAST(tot.n AS DOUBLE) AS reliability,
           CAST(sum(terms.res_pico) AS BIGINT) / 1000000000000.0
             / CAST(tot.n AS DOUBLE) AS resolution,
           (CAST(tot.o AS DOUBLE) / CAST(tot.n AS DOUBLE))
             * (1.0 - CAST(tot.o AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS uncertainty
    FROM terms, tot GROUP BY tot.n, tot.s, tot.o
"""


@query("ml25_brier_decomposition", section="ML3", oracle=_ML25_ORACLE)
def ml25_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with Murphy's reliability/resolution/uncertainty
    decomposition — the eval that tells you WHY a probability
    forecaster is bad (mis-calibrated vs uninformative), next to ml7's
    calibration curve and ml23's PR curve.  Forecasts are the
    deterministic 101-level grid p = ((user·37) mod 101)/100 and the
    decomposition is EXACT because every sample in a bucket shares the
    identical forecast (Murphy's condition).

    Determinism: the direct Brier term is an exact integer sum
    (Σ(k−100y)², BIGINT); the per-bucket reliability/resolution terms
    are doubles with IDENTICAL expression shape in both engines,
    floored to integer picos BEFORE the cross-bucket sum (the
    quantized-ln idiom — floor, not round, because both engines floor
    the same double to the same integer while round semantics differ)
    so accumulation order can never matter.

    Spark shapes: one map-side (k) partial agg + one scalar agg, the
    101-row bucket table cross-joined against the 1-row totals —
    event volume is scanned once."""
    x = load_table(spark, sf_dir, "events").select(
        ((F.col("user_id") * 37) % 101).alias("k"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    tot = x.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("o"),
        F.sum((F.col("k") - 100 * F.col("y")) * (F.col("k") - 100 * F.col("y")))
        .cast("bigint")
        .alias("s"),
    )
    b = x.groupBy("k").agg(
        F.count("*").cast("bigint").alias("nk"),
        F.sum("y").cast("bigint").alias("ok"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    joined = b.crossJoin(F.broadcast(tot))
    rel_diff = d(F.col("k")) / F.lit(100.0) - d(F.col("ok")) / d(F.col("nk"))
    res_diff = d(F.col("ok")) / d(F.col("nk")) - d(F.col("o")) / d(F.col("n"))
    terms = joined.select(
        "n",
        "s",
        "o",
        F.floor(d(F.col("nk")) * rel_diff * rel_diff * F.lit(1e12))
        .cast("bigint")
        .alias("rel_pico"),
        F.floor(d(F.col("nk")) * res_diff * res_diff * F.lit(1e12))
        .cast("bigint")
        .alias("res_pico"),
    )
    return terms.groupBy("n", "s", "o").agg(
        F.sum("rel_pico").cast("bigint").alias("rp"),
        F.sum("res_pico").cast("bigint").alias("sp"),
    ).select(
        "n",
        (d(F.col("s")) / (F.lit(10000.0) * d(F.col("n")))).alias("brier"),
        (d(F.col("rp")) / F.lit(1e12) / d(F.col("n"))).alias("reliability"),
        (d(F.col("sp")) / F.lit(1e12) / d(F.col("n"))).alias("resolution"),
        (
            (d(F.col("o")) / d(F.col("n")))
            * (F.lit(1.0) - d(F.col("o")) / d(F.col("n")))
        ).alias("uncertainty"),
    )


# ---------------------------------------------------------------------------
# L2: content-defined chunking dedup (Rabin-style rolling boundary)
# ---------------------------------------------------------------------------

CDC_W = 4  # boundary window (chars)
CDC_MOD = 61  # boundary divisor (prime): E[chunk] ≈ 61 chars
CDC_TARGET = 7  # boundary residue

_CDC_BOUNDARY_DUCK = f"""
      list_sort(list_distinct(
        list_append(
          list_filter(generate_series(4, n),
            i -> (ascii(substr(text, i, 1)) + ascii(substr(text, i - 1, 1))
                  + ascii(substr(text, i - 2, 1)) + ascii(substr(text, i - 3, 1)))
                 % {CDC_MOD} = {CDC_TARGET}),
          n)))
"""

_L2CDC_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, text, length(text) AS n FROM documents
      WHERE length(text) >= 4
    ),
    cuts AS (
      SELECT doc_id, text, {_CDC_BOUNDARY_DUCK} AS cs FROM t
    ),
    chunks AS (
      SELECT doc_id,
             substr(text, coalesce(cs[j - 1], 0) + 1,
                    cs[j] - coalesce(cs[j - 1], 0)) AS chunk
      FROM cuts, unnest(generate_series(1, len(cs))) u(j)
    ),
    hashed AS (SELECT md5(chunk) AS h, length(chunk) AS bytes FROM chunks)
    SELECT CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
           CAST(sum(bytes) AS BIGINT) AS bytes_total,
           CAST((SELECT sum(bytes) FROM (SELECT DISTINCT h, bytes FROM hashed))
                AS BIGINT) AS bytes_unique,
           CAST((SELECT sum(bytes) FROM (SELECT DISTINCT h, bytes FROM hashed))
                AS DOUBLE) / CAST(sum(bytes) AS DOUBLE) AS dedup_ratio
    FROM hashed
"""


@query("l2_cdc_chunk_dedup", section="L2", oracle=_L2CDC_ORACLE)
def l2_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the rsync/LBFS/FastCDC family):
    cut each document where a {W}-char window's rolling sum hits a
    fixed residue mod {M} — boundaries move WITH the content, so an
    insertion early in a document shifts only the chunk it lands in,
    and identical passages chunk identically across documents (the
    property fixed-size blocks lack, and the reason crawl-snapshot
    storage dedups at 10–20× with CDC).  Corpus-level report: chunk
    count, distinct chunks, byte totals, and the storage dedup ratio.

    Determinism: the boundary function is pure integer arithmetic on
    char codes (same substr/ascii semantics both engines); chunks
    key on md5.  Expected chunk length is the boundary divisor
    ({M} chars) — min/max clamps are the production FastCDC add-on
    and would compose as extra terms in the same filter.

    Spark shapes: the per-character boundary scan is a vectorized
    numpy pass over Arrow batches (operators/chunking.py) — the
    expression form (filter(sequence(...)) lambda feeding an
    aggregate() fold) is CodegenFallback and evaluates INTERPRETED,
    the round-12 audit regression: measured at sf1, 2.6 s interpreted
    vs 0.5 s Arrow for the identical (doc_id, chunk) multiset
    (exceptAll-verified both directions).  Downstream stays JVM-side:
    one explode + two hash-keyed partial aggs."""
    t = (
        spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
        .filter(F.length("text") >= 4)
    )
    from chronicle_sniffer_spark.operators.chunking import make_cdc_chunker

    chunker = make_cdc_chunker(CDC_MOD, CDC_TARGET, CDC_W)
    chunks = t.select("doc_id", F.explode(chunker(F.col("text"))).alias("chunk"))
    hashed = chunks.select(
        F.md5("chunk").alias("h"), F.length("chunk").alias("bytes")
    )
    tot = hashed.agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.count_distinct("h").cast("bigint").alias("n_distinct"),
        F.sum("bytes").cast("bigint").alias("bytes_total"),
    )
    uniq = (
        hashed.dropDuplicates(["h"])
        .agg(F.sum("bytes").cast("bigint").alias("bytes_unique"))
    )
    return tot.crossJoin(uniq).select(
        "n_chunks",
        "n_distinct",
        "bytes_total",
        "bytes_unique",
        (
            F.col("bytes_unique").cast("double")
            / F.col("bytes_total").cast("double")
        ).alias("dedup_ratio"),
    )


# ---------------------------------------------------------------------------
# J22: interval ANTI join (blackout-window exclusion without a nested loop)
# ---------------------------------------------------------------------------

J22_N_WINDOWS = 12

_J22_ORACLE = f"""
    WITH days AS (
      SELECT d FROM (
        SELECT DISTINCT o_orderdate AS d FROM orders
      ) ORDER BY d LIMIT {J22_N_WINDOWS}
    ),
    win AS (
      SELECT CAST(d AS TIMESTAMP) + INTERVAL 10 HOUR AS s,
             CAST(d AS TIMESTAMP) + INTERVAL 11 HOUR + INTERVAL 30 MINUTE AS e
      FROM days
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN EXISTS (
                  SELECT 1 FROM win WHERE ev.ts >= win.s AND ev.ts < win.e
                ) THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN EXISTS (
                  SELECT 1 FROM win WHERE ev.ts >= win.s AND ev.ts < win.e
                ) THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
    FROM events ev
    GROUP BY event_type
"""


@query("j22_interval_anti_join", section="J9", oracle=_J22_ORACLE)
def j22_interval_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval ANTI join — keep every event NOT inside any blackout
    window (maintenance exclusion, the complement of j9/t9's interval
    joins).  The naive Spark plan for an anti join on a pure range
    predicate is a BroadcastNestedLoopJoin (every fact row probes
    every window); fine for 12 windows, catastrophic for a million.
    This plan applies the j14 bucketing lesson to ANTI semantics:
    each window lies inside one calendar DAY, so candidates come from
    a day-keyed EQUI join (hash, broadcastable, never a loop), the
    exact range check filters candidates, and the anti step is a
    key-based left anti join on the matched event ids — every join in
    the plan is an equi join at any window count.

    Windows derive deterministically from the first {W} order dates
    (10:00–11:30 each); timestamp comparisons are exact micros in
    both engines.  Output: per event_type totals, dropped, kept —
    dropped + kept = total is an internal consistency the oracle hash
    enforces."""
    o = load_table(spark, sf_dir, "orders").select("o_orderdate")
    days = (
        o.distinct().orderBy("o_orderdate").limit(J22_N_WINDOWS).select(
            F.col("o_orderdate").alias("d")
        )
    )
    win = days.select(
        F.col("d"),
        (F.col("d").cast("timestamp") + F.expr("INTERVAL 10 HOURS")).alias("s"),
        (
            F.col("d").cast("timestamp")
            + F.expr("INTERVAL 11 HOURS")
            + F.expr("INTERVAL 30 MINUTES")
        ).alias("e"),
    )
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    cand = ev.withColumn("d", F.to_date("ts")).join(F.broadcast(win), "d")
    matched = (
        cand.filter((F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e")))
        .select("event_id")
        .distinct()
    )
    flagged = ev.join(
        matched.withColumn("hit", F.lit(1)), "event_id", "left"
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
        F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
    )


j22_interval_anti_join.__doc__ = j22_interval_anti_join.__doc__.format(
    W=J22_N_WINDOWS
)


# ---------------------------------------------------------------------------
# U17: cogrouped applyInPandas (two-table grouped map)
# ---------------------------------------------------------------------------

_U17_ORACLE = """
    WITH c AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_clicks, min(ts) AS mn
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    p AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    conv AS (
      SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_converted
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.mn
      GROUP BY e.user_id
    )
    SELECT coalesce(c.user_id, p.user_id) AS user_id,
           coalesce(c.n_clicks, 0) AS n_clicks,
           coalesce(p.n_purchases, 0) AS n_purchases,
           coalesce(conv.n_converted, 0) AS n_converted
    FROM c FULL OUTER JOIN p ON p.user_id = c.user_id
    LEFT JOIN conv ON conv.user_id = coalesce(c.user_id, p.user_id)
"""


@query("u17_cogrouped_map", section="U3", oracle=_U17_ORACLE)
def u17_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped ``applyInPandas`` — the last uncovered pandas-UDF
    surface (U1/U2 scalar, U3 grouped map, U4 UDAF, U5 UDTF, U9
    iterator, U11 Arrow, U14 window): BOTH sides of a key arrive as
    pandas frames in ONE call, the API for per-key logic that needs
    two tables at once (as-of matching, per-key reconciliation)
    without materializing a join.  Here: per user, click count,
    purchase count, and purchases after the first click — simple
    enough for a hard SQL oracle, shaped like the real use.

    Scale shape: one shuffle per side on the cogroup key, Arrow
    batches per key group; keys parallelize.  Keys present on only
    ONE side still produce a row (the full-outer contract — pinned by
    the oracle's FULL OUTER twin)."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")

    def fn(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        n_conv = 0
        if len(left) and len(right):
            n_conv = int((right["ts"] > left["ts"].min()).sum())
        return pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_clicks": [len(left)],
                "n_purchases": [len(right)],
                "n_converted": [n_conv],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(buys.groupBy("user_id"))
        .applyInPandas(
            fn,
            "user_id bigint, n_clicks bigint, n_purchases bigint,"
            " n_converted bigint",
        )
    )
