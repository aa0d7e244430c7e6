"""HTML/markup → text extraction (SURVEY.md §2B L4) — the first
stage of a crawl-based training-data pipeline, upstream of the
quality gates that already exist (l4_c4_quality_filter,
l7_template_dedup, l4_pii_scrub all assume extracted text).

Design: every step is a pure column expression (regexp_replace /
regexp_extract_all / split / replace chains) restricted to the
Java-regex ∩ RE2 common subset — no lookaround, no backreferences,
non-greedy ``.*?`` only — so the identical semantics run on Spark
(whole-stage codegen, no Python in the path) AND in the DuckDB
oracle.  This is the deterministic 80/20 crawl-cleanup pass
(boilerplate/nav removal by link density, tag stripping, entity
decoding), NOT an HTML5 spec parser: quoted ``>`` inside attribute
values, comments, and CDATA are out of scope.  A full spec-compliant
parse belongs in an Arrow-edge ``mapInPandas`` stage with an html
parser library, gated on import — the block pipeline here is the
schema- and shuffle-identical scale path.

Scale shape (100 TB): the whole extraction is a narrow per-row map
(regex work linear in page bytes) followed by one posexplode whose
fan-out is the block count (~10× rows, ~1× bytes) and one
doc_id-keyed aggregate — a single shuffle, partial-aggregated
map-side.  Nothing is collected; thresholds are integer literals.

Reference tie-in: the reference engine is packet-side and has no
markup stage (processor/json2udm_cloud.py); this extends the declared
LLM-pipeline surface (SURVEY.md §2B L4, BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from chronicle_sniffer_spark.tables import load_table, spread

# block-level elements whose CLOSE tag ends a text block; the split
# regex is shared verbatim with the DuckDB oracle
BLOCK_CLOSE_RE = "</(nav|h1|h2|h3|p|div|li|footer|header|article|section|td)>"

# entity decode order matters: &amp; LAST so "&amp;lt;" decodes to the
# literal "&lt;" (not twice to "<") — the standard single-pass rule
ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

_ANCHOR_RE = "(?s)<a[^>]*>(.*?)</a>"


def extract_title(html: Column) -> Column:
    """Entity-decoded, whitespace-normalized <title> content
    ('' when absent)."""
    return normalize_ws(
        decode_entities(F.regexp_extract(html, "(?s)<title>(.*?)</title>", 1))
    )


def extract_body(html: Column) -> Column:
    """Content between <body…> and </body>; the whole document when
    no body element exists (fragment input).  Presence is tested with
    rlike, not ''-equality — an EMPTY <body></body> legitimately
    extracts to ''.  (?s) makes . cross newlines (real pages are
    multi-line; the flag is in the Java∩RE2 common subset)."""
    return F.when(
        html.rlike("(?s)<body[^>]*>.*</body>"),
        F.regexp_extract(html, "(?s)<body[^>]*>(.*)</body>", 1),
    ).otherwise(html)


def strip_invisible(col: Column) -> Column:
    """Remove <script>/<style> elements INCLUDING their content —
    tag-stripping alone would leak code into extracted text.  Two
    passes (one per element) because RE2 has no backreferences to
    pair open/close tags in one alternation."""
    out = F.regexp_replace(col, "(?s)<script[^>]*>.*?</script>", " ")
    return F.regexp_replace(out, "(?s)<style[^>]*>.*?</style>", " ")


def strip_tags(col: Column) -> Column:
    """Replace every remaining tag with a space (space, not '', so
    'a</p><p>b' keeps a word boundary)."""
    return F.regexp_replace(col, "<[^>]*>", " ")


def decode_entities(col: Column) -> Column:
    for ent, ch in ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def normalize_ws(col: Column) -> Column:
    # explicit class, NOT \s: Java's \s includes \x0B where RE2's does
    # not, and real crawl pages carry \r (CRLF) and \t that the earlier
    # '[\n ]+' let through into text_len / link-density (round-11
    # advisor finding) — the explicit chars are the Java∩RE2 subset
    return F.trim(F.regexp_replace(col, "[ \t\n\r\f]+", " "))


def block_text(block: Column) -> Column:
    """Visible text of one block: strip tags, decode entities,
    normalize whitespace (tag-strip FIRST, so a decoded '&lt;draft&gt;'
    survives as literal text — entities are content, not markup)."""
    return normalize_ws(decode_entities(strip_tags(block)))


def anchor_text_len(block: Column) -> Column:
    """Total characters of anchor (link) text in the block — the
    numerator of link density."""
    return F.length(F.array_join(F.regexp_extract_all(block, F.lit(_ANCHOR_RE), 1), ""))


def html_blocks(docs: DataFrame, html_col: str = "html", max_density_pct: int = 40) -> DataFrame:
    """Per-block extraction audit: (doc_id, pos, text, text_len,
    anchor_len, kept) for every non-empty block.

    ``kept`` is the boilerplate judgment: a block survives when its
    link density anchor_len/text_len ≤ max_density_pct% — evaluated in
    INTEGER math (100·anchor_len ≤ pct·text_len) so no float boundary
    can flip across engines.  Nav bars, related-links boxes, and
    footers are link-dense and drop; prose keeps.
    """
    clean = strip_invisible(extract_body(F.col(html_col)))
    exploded = docs.select(
        "doc_id",
        F.posexplode(F.split(clean, BLOCK_CLOSE_RE)).alias("pos", "block"),
    )
    txt = block_text(F.col("block"))
    a_len = anchor_text_len(F.col("block"))
    return (
        exploded.select(
            "doc_id",
            "pos",
            txt.alias("text"),
            F.length(txt).cast("int").alias("text_len"),
            a_len.cast("int").alias("anchor_len"),
        )
        .filter(F.col("text_len") > 0)
        .withColumn(
            "kept",
            (100 * F.col("anchor_len")) <= (max_density_pct * F.col("text_len")),
        )
    )


def html_extract(docs: DataFrame, html_col: str = "html", max_density_pct: int = 40) -> DataFrame:
    """Document-level extraction: title + visible text of the kept
    blocks (in original block order), with kept/dropped counts.

    One doc_id shuffle; block order is restored with the
    sort_array(collect_list(struct(pos, text))) idiom (codegen-side
    GetArrayStructFields, no lambda)."""
    blocks = html_blocks(docs, html_col, max_density_pct)
    titles = docs.select(
        "doc_id", extract_title(F.col(html_col)).alias("title")
    )
    agg = blocks.groupBy("doc_id").agg(
        F.array_join(
            F.sort_array(
                F.collect_list(F.when(F.col("kept"), F.struct("pos", "text")))
            ).getField("text"),
            " ",
        ).alias("text"),
        F.sum(F.col("kept").cast("int")).cast("int").alias("n_kept"),
        F.sum((~F.col("kept")).cast("int")).cast("int").alias("n_dropped"),
    )
    return titles.join(agg, "doc_id", "left").select(
        "doc_id",
        "title",
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
        F.coalesce("n_dropped", F.lit(0)).cast("int").alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# The synthetic HTML page fixture and its DuckDB twin, shared by the
# html-extraction, WARC-container and crawl entries
# ---------------------------------------------------------------------------


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic page table: spread() BEFORE the html construction so
    the per-row regex work never inherits the single-file scan's one
    task (the recurring sf1 soak trap, BASELINE.md round-10 notes)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return spread(docs).select("doc_id", F.expr(HTML_PAGE_SQL).alias("html"))


# Deterministic page construction, shared VERBATIM between the Spark
# plan (F.expr) and the DuckDB oracle so the fixture cannot drift.
# Layout exercises every extraction rule: a <style> and TWO <script>
# elements (one inside <body>) whose content must not leak; a
# link-only <nav>; an <h1> with entities that must survive as text
# ("&lt;draft&gt;" is content, not markup); the document text as a
# paragraph; a summary paragraph that gains an inline <a> on every
# 5th doc (low-density → anchor text is KEPT); a link-dense related
# box and footer (dropped).  Word-salad corpus text contains no '<',
# so the construction is unambiguous.
HTML_PAGE_SQL = (
    "'<html><head><title>Doc ' || CAST(doc_id AS STRING) || ' &amp; notes ["
    "' || lang || ']</title>'"
    " || '<style>p { color: #222; }</style>'"
    " || '<script>var t = \"x-' || CAST(doc_id AS STRING) || '\"; if (1 &lt; 2) { track(); }</script>'"
    " || '</head><body>'"
    " || '<nav><a href=\"/\">Home</a> <a href=\"/archive\">Archive</a> <a href=\"/contact\">Contact</a></nav>'"
    " || '<h1>Doc ' || CAST(doc_id AS STRING) || ' &lt;draft&gt;</h1>'"
    " || '<script>inline(\"s\", 3 &gt; 2);</script>'"
    " || '<p>' || text || '</p>'"
    " || '<p>Summary: ' || substr(text, 1, 80) ||"
    " CASE WHEN doc_id % 5 = 0"
    "      THEN ' see <a href=\"/doc/' || CAST(doc_id AS STRING) || '\">related doc '"
    "           || CAST(doc_id AS STRING) || '</a>'"
    "      ELSE '' END || '</p>'"
    " || '<div><a href=\"/t/1\">one</a> <a href=\"/t/2\">two</a> <a href=\"/t/3\">three</a> more</div>'"
    " || '<footer><a href=\"/tos\">Terms</a> <a href=\"/privacy\">Privacy</a> &amp;copy 2026</footer>'"
    " || '</body></html>'"
)

_DENSITY_PCT = 40

# the oracle mirrors operators/html.py step for step; DuckDB
# regexp_replace needs the explicit 'g' flag (Spark is global by
# default), and '' '' escapes one quote inside a SQL literal
_DECODE = (
    "replace(replace(replace(replace(replace(replace({x},"
    " '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''),"
    " '&nbsp;', ' '), '&amp;', '&')"
)


def _block_cte() -> str:
    strip_tags = "regexp_replace(block, '<[^>]*>', ' ', 'g')"
    txt = (
        "trim(regexp_replace("
        + _DECODE.format(x=strip_tags)
        + ", '[ \t\n\r\f]+', ' ', 'g'))"
    )
    return f"""
    WITH pages AS (
      SELECT doc_id, {HTML_PAGE_SQL} AS html FROM documents
    ),
    clean AS (
      SELECT doc_id,
             trim(regexp_replace(
               {_DECODE.format(x="regexp_extract(html, '(?s)<title>(.*?)</title>', 1)")},
               '[ \t\n\r\f]+', ' ', 'g')) AS title,
             regexp_replace(regexp_replace(
               CASE WHEN regexp_matches(html, '(?s)<body[^>]*>.*</body>')
                    THEN regexp_extract(html, '(?s)<body[^>]*>(.*)</body>', 1)
                    ELSE html END,
               '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS body
      FROM pages
    ),
    split_parts AS (
      SELECT doc_id, title,
             string_split_regex(body, '{BLOCK_CLOSE_RE}') AS parts
      FROM clean
    ),
    blocks AS (
      SELECT doc_id, title,
             unnest(generate_series(0, len(parts) - 1)) AS pos,
             unnest(parts) AS block
      FROM split_parts
    ),
    scored AS (
      SELECT doc_id, title, pos,
             {txt} AS text,
             CAST(length({txt}) AS INTEGER) AS text_len,
             CAST(coalesce(length(array_to_string(
               regexp_extract_all(block, '(?s)<a[^>]*>(.*?)</a>', 1), '')), 0) AS INTEGER)
               AS anchor_len
      FROM blocks
    ),
    nonempty AS (
      SELECT *, (100 * anchor_len) <= ({_DENSITY_PCT} * text_len) AS kept
      FROM scored WHERE text_len > 0
    )
    """
