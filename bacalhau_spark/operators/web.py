"""URL / domain curation — the first stage of a crawl-data pipeline.

Reference intent: the reference's only web-facing plane is the
`urldownload` storage provider (`pkg/storage/url/urldownload/storage.go:1-120`),
which fetches a URL into a mounted volume but never inspects it. A
training-data pipeline over crawl data needs the inspection stages that
come BEFORE any fetch: URL canonicalization (tracking-param strip, host
case-fold, default-port and fragment removal), per-domain caps (no single
host dominating the corpus), and domain blocklists. Each is expressed
Spark-first:

- canonicalization is a pure per-row regexp chain (RE2-compatible subset,
  identical automata in Spark and DuckDB) — zero shuffle, whole-stage
  codegen, composes unchanged over readStream sources;
- the per-domain cap comes in two forms: the AUDIT is a pure
  map-side-combined groupBy (n_kept = LEAST(n_docs, CAP) — the
  deterministic survivor rule makes the window redundant, round-10
  verdict), and the FILTERING form (domain_cap_keep) codes the partial
  top-K: a per-(source-partition, domain) pre-cap bounds every task
  before the global per-domain window, because only K survivors per
  (partition, domain) can matter — a hot domain is the classic skewed
  key and never lands on one task;
- the blocklist is a broadcast LEFT ANTI join against the (small, here
  literal) blocked-domain table — the real shape at scale, where a
  blocklist of millions of hosts is still MBs broadcast to every
  executor, never a shuffle of the corpus.

The fixture documents carry `source` but no URL, so each query derives a
deterministic URL from (source, doc_id) — the nd_pii_redact synthesis
convention: mixed-case scheme/host, http scheme on doc_id % 11 (https
otherwise), a :443-or-:80 port on doc_id % 5 (alternating by parity, so
the driver-graded data carries all four scheme x port shapes — the
default-port drop must be SCHEME-AWARE: https:443 and http:80 strip,
https:80 and http:443 are real ports and stay), utm_* tracking params on
doc_id % 3, a #fragment on doc_id % 4 — and the canonicalization
machinery is what's under test, identically stated in the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bacalhau_spark.catalog import spread_compute
from bacalhau_spark.sources.indexstore import rowwise_index

DOMAIN_CAP = 3
# Blocked domains: two full sources' shard-domains plus one single shard
# domain — enough shapes to prove the anti join semantics.
BLOCKED_DOMAINS = tuple(
    [f"src2-{i}.example.com" for i in range(7)]
    + [f"src11-{i}.example.com" for i in range(7)]
    + ["src5-3.example.com"])


# Builder revision of the materialized front door (canon + extract).
# rev=2: the scheme-aware default-port rule landed AFTER the first
# artifacts could have been published in round 12, and content
# addressing alone cannot distinguish old-rule artifacts (round-12
# ADVICE). Every lookup of these tables must use this rev.
FRONT_DOOR_REV = 2


def blocked_frame(spark: SparkSession) -> DataFrame:
    """THE blocklist dim (domain, blk=1), stated once for the batch
    audit and both streaming screens — a literal dim via
    inline(array(struct)): createDataFrame would plan as a Python-RDD
    scan outside codegen (the round-1 range-join 27× lesson); at real
    scale the blocklist is a read table, same join shape."""
    return spark.range(1).select(F.inline(F.array(*[
        F.struct(F.lit(d).alias("domain"), F.lit(1).alias("blk"))
        for d in BLOCKED_DOMAINS])))

# Deterministic URL synthesis from (source, doc_id) — stated once here
# and once (identically) in _URL_SQL.
_URL_SQL = (
    "CASE WHEN doc_id % 11 = 0 THEN 'HTTP://WWW.' ELSE 'HTTPS://WWW.' END "
    "|| source || '-' || CAST(doc_id % 7 AS VARCHAR) || "
    "'.Example.COM' || "
    "CASE WHEN doc_id % 5 = 0 THEN "
    "(CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END) "
    "ELSE '' END || "
    "'/p/' || CAST(doc_id AS VARCHAR) || "
    "CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' || "
    "CAST(doc_id AS VARCHAR) || '&utm_campaign=c' "
    "ELSE '?id=' || CAST(doc_id AS VARCHAR) END || "
    "CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END")


def _url_expr() -> Column:
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.when(F.col("doc_id") % 11 == 0, F.lit("HTTP://WWW."))
        .otherwise(F.lit("HTTPS://WWW.")),
        F.col("source"), F.lit("-"),
        (F.col("doc_id") % 7).cast("string"), F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 5 == 0,
               F.when(F.col("doc_id") % 2 == 0, F.lit(":443"))
               .otherwise(F.lit(":80"))).otherwise(F.lit("")),
        F.lit("/p/"), did,
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("?utm_source=feed&id="), did,
                        F.lit("&utm_campaign=c")))
        .otherwise(F.concat(F.lit("?id="), did)),
        F.when(F.col("doc_id") % 4 == 0, F.lit("#frag")).otherwise(F.lit("")))


# Canonicalization chain. Patterns are the RE2-compatible subset (char
# classes, anchors, non-capturing groups — no lookaround), so Spark's
# Java regex and DuckDB's RE2 compile identical automata. DuckDB's
# regexp_replace is first-match-only by default — the oracle passes 'g'
# where Spark's always-global semantics need it (the tracking-param pass,
# where several params can repeat); single-anchor passes need no flag.
# The mid-query pass is ANCHORED on a captured [?&] delimiter (round-10
# ADVICE: the unanchored form corrupted legitimate params whose NAME
# merely contains 'utm_' as an infix — '?xutm_source=1&b=2' lost its
# key). Because the delimiter is consumed by the match, ADJACENT
# tracking params would escape a single-param pattern under left-to-
# right global replace (the second param's delimiter is inside the
# first match) — the (?:param&)+ repetition eats a whole run in one
# match, and the $-anchored pass still sweeps the trailing position.
_TRACK = "(?:utm_[a-z]+|fbclid|gclid)"
_TRACK_MID = "([?&])(?:" + _TRACK + "=[^&#]*&)+"


def url_canonicalize_frame(urls: DataFrame,
                           url_col: str = "url") -> DataFrame:
    """(doc_id, url) -> (doc_id, url, canon, domain): strip the fragment,
    lowercase scheme+host (path/query case is significant and kept),
    drop the DEFAULT port for the scheme — :443 only under https, :80
    only under http (the round-11 verdict: a scheme-blind drop
    canonicalized http://host:443/, a real and significant port, to
    http://host/) — strip tracking params (utm_*, fbclid, gclid)
    wherever they sit in the query string, and derive the registrable
    domain (host minus any www. prefix). Pure per-row codegen; composes
    unchanged over readStream sources."""
    # Regex ONLY where alternation genuinely needs it (the two tracking-
    # param passes and the one scheme-host extraction); everything else
    # is anchored-literal work that plain string ops do identically in
    # both engines — the round-11 ×100 sweep isolated the chain cost as
    # regex-library throughput (DuckDB's RE2 runs these patterns ~5-10×
    # faster per row than java.util.regex), so the 9-regex-pass form
    # paid library overhead for fragment/port/prefix operations that
    # never needed an automaton. Values are bit-identical to the regex
    # form (equivalence-tested on adversarial shapes).
    u = F.col(url_col)
    nofrag = F.substring_index(u, "#", 1)
    sh0 = F.regexp_extract(nofrag, "^[A-Za-z]+://[^/?#]*", 0)
    shl = F.lower(sh0)
    sh = (F.when(shl.startswith("https://") & shl.endswith(":443"),
                 shl.substr(F.lit(1), F.length(shl) - 4))
          .when(shl.startswith("http://") & shl.endswith(":80"),
                shl.substr(F.lit(1), F.length(shl) - 3))
          .otherwise(shl))
    rest = nofrag.substr(F.length(sh0) + 1, F.length(nofrag))
    rest = F.regexp_replace(rest, _TRACK_MID, "$1")
    rest = F.regexp_replace(rest, "[?&]" + _TRACK + "=[^&#]*$", "")
    rest = F.when(rest.endswith("?"),
                  rest.substr(F.lit(1), F.length(rest) - 1)).otherwise(rest)
    canon = F.concat(sh, rest)
    # the registrable domain never carries a port — strip a KEPT
    # non-default port (http://host:443 canonicalizes with the port,
    # but its domain is still host)
    host = F.substring_index(
        F.substring_index(sh, "://", -1), ":", 1)
    domain = F.when(host.startswith("www."),
                    host.substr(F.lit(5), F.length(host))).otherwise(host)
    # passthrough of the input columns so callers can carry metadata
    # (source, fetch time, ...) through the stage without a re-join
    return urls.select("*", canon.alias("canon"),
                       domain.alias("domain"))


def _canon_frame(docs: DataFrame) -> DataFrame:
    """The one-pass front-door derivation (doc_id, source, url, canon,
    domain) over a documents frame — the per-row transform behind
    canon_index; batch consumers never call this per query (re-deriving
    the chain per consumer would repeat the single most expensive scan
    of a crawl pipeline at 100 TB)."""
    return url_canonicalize_frame(
        docs.select("doc_id", "source", _url_expr().alias("url")))


def canon_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE MATERIALIZED CRAWL FRONT DOOR (canonicalization artifact):
    one canonicalize pass per source CONTENT, published to the
    persisted index store (the minhash_signature_index lifecycle —
    content-addressed, build once, atomically published, adopted by
    every session); every batch consumer — nd_url_canonicalize, the
    cap audit, the filtering cap, the blocklist — SCANS the artifact
    instead of re-running the regex/string chain over raw URLs. In
    production this is the table the crawl-ingest job writes once per
    crawl epoch; the streaming twins keep the inline chain because a
    readStream IS that ingest. Reference analog: CID-keyed input
    caching, pkg/storage/ipfs_apicopy/storage.go:116-134."""
    return rowwise_index(spark, sf_dir, "canon", _canon_frame,
                         rev=FRONT_DOOR_REV)


def html_extract_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized extraction artifact (doc_id, title, content): the
    HTML→text pass runs once per source content and publishes; every
    consumer scans clean text. At 100 TB the canonicalize+extract pass
    over raw HTML is the pipeline's most expensive scan — production
    materializes it exactly once (round-11 verdict #1)."""
    def _extract(docs: DataFrame) -> DataFrame:
        pages = docs.select("doc_id", _html_expr().alias("html"))
        return (html_extract_frame(pages)
                .select("doc_id", "title", "content"))

    # spread_compute: the HTML synthesis + regex extraction chain is
    # per-row CPU over a one-row-group scan (single task without the
    # exchange) — A/B 0.33 -> 0.25 s at sf0.1. The canon build keeps
    # the raw scan: its URL string chain is cheap and the same A/B read
    # 0.27 -> 0.30 s (the exchange does not pay).
    return rowwise_index(
        spark, sf_dir, "extract",
        lambda docs: _extract(spread_compute(
            spark, docs.select("doc_id", "source", "text"), "doc_id")),
        rev=FRONT_DOOR_REV)


def nd_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized URL per document: (doc_id, url, canon, domain) —
    read from the materialized front-door artifact."""
    return (canon_index(spark, sf_dir)
            .select("doc_id", "url", "canon", "domain")
            .orderBy("doc_id"))


def nd_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus cap AUDIT: (domain, n_docs, n_kept) — the
    anti-domination report every crawl pipeline publishes before
    training. Because the filtering rule is deterministic (lowest
    doc_id first), n_kept ≡ LEAST(n_docs, DOMAIN_CAP) identically, so
    the audit needs NO window at all — one map-side-combined groupBy
    (the round-10 form paid a per-domain window sort, the one shape the
    module docstring flags as skew-dangerous, for a quantity a count
    already determines) over the materialized front-door artifact. The
    actual row-dropping form is domain_cap_keep below."""
    return (canon_index(spark, sf_dir)
            .groupBy("domain")
            .agg(F.count("*").cast("long").alias("n_docs"))
            .select("domain", "n_docs",
                    F.least(F.col("n_docs"), F.lit(DOMAIN_CAP))
                    .cast("long").alias("n_kept"))
            .orderBy("domain"))


def domain_cap_keep(canon: DataFrame, cap: int = DOMAIN_CAP) -> DataFrame:
    """Per-domain cap FILTERING form (the gopher_keep analog): keep the
    `cap` lowest-doc_id rows per domain, skew-safely.

    A single row_number window over domain puts EVERY row of a hot
    domain (the wordpress.com of a real crawl — easily 1% of a 100 TB
    corpus) into ONE task's sort. The coded mitigation is a partial
    per-partition pre-cap: stage 1 caps each (input-partition, domain)
    group — the window keys carry spark_partition_id, so the hot domain
    spreads over as many groups as it has source partitions and no
    stage-1 task sorts more than one source partition's rows; stage 2
    runs the global window over survivors only, whose per-domain volume
    is bounded by cap x n_source_partitions regardless of how hot the
    domain is. Correctness: a row in the true global top-cap of its
    domain is necessarily in the top-cap of its own source partition,
    so the pre-cap never drops a survivor (the standard partial top-K
    argument)."""
    pre = _domain_precap(canon, cap)
    return (pre.withColumn("_rn", F.row_number().over(
        Window.partitionBy("domain").orderBy("doc_id")))
        .where(F.col("_rn") <= cap).drop("_rn"))


def _domain_precap(canon: DataFrame, cap: int) -> DataFrame:
    """Stage 1 of domain_cap_keep: cap each (source-partition, domain)
    group. Split out so the skew test can assert the bound directly:
    no domain emits more than cap x n_source_partitions rows."""
    return (canon.withColumn("_pid", F.spark_partition_id())
            .withColumn("_prn", F.row_number().over(
                Window.partitionBy("_pid", "domain").orderBy("doc_id")))
            .where(F.col("_prn") <= cap).drop("_pid", "_prn"))


def nd_domain_cap_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered round trip for the filtering form: the surviving
    (domain, doc_id) rows under the cap — hash-gated against the plain
    one-window SQL statement of the rule, proving the two-stage
    partial-top-K plan is value-identical to the naive window. Reads
    the materialized front-door artifact."""
    return (domain_cap_keep(canon_index(spark, sf_dir))
            .select("domain", "doc_id")
            .orderBy("domain", "doc_id"))


def nd_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist AUDIT: probe the canonicalized corpus against the
    blocked-domain set, reporting per-source (n_docs, n_kept,
    n_blocked) — kept and blocked tally in ONE artifact scan + one
    source-keyed agg over the materialized front door.

    Compile strategy by blocklist SIZE (r13, closing the last
    front-door row above the 2x bar): the registered blocklist is a
    handful of LITERALS, and experiments/blocklist_floor_r13.txt
    measured the broadcast-join form paying ~0.4 s/call over the IN
    predicate at x100 — the broadcast materialization job + the second
    plan side, a constant the tiny dim never earns. Small literal lists
    therefore compile to `domain IN (...)` inside the scan's codegen
    (exactly the IN-vs-join conversion a cost-based optimizer makes);
    the million-row-TABLE shape — broadcast left join, corpus never
    shuffles, dim ships once per executor — lives in
    blocklist_audit_frame below, value-equal by test."""
    canon = canon_index(spark, sf_dir)
    blk = F.col("domain").isin(*BLOCKED_DOMAINS)
    return (canon.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(F.when(blk, 0).otherwise(1))
                 .cast("long").alias("n_kept"),
                 F.sum(F.when(blk, 1).otherwise(0)).cast("long")
                 .alias("n_blocked"))
            .orderBy("source"))


def blocklist_audit_frame(spark: SparkSession,
                          canon: DataFrame,
                          blocked: DataFrame) -> DataFrame:
    """The TABLE-blocklist audit shape: broadcast left join + block
    flag — what nd_domain_blocklist compiles to when the blocklist is
    a real table (millions of rows: an IN literal would blow the plan,
    the broadcast ships the dim once per executor and the corpus never
    shuffles). `blocked` is a (domain, blk=1) frame."""
    marked = canon.join(F.broadcast(blocked), "domain", "left")
    return (marked.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(F.when(F.col("blk").isNull(), 1).otherwise(0))
                 .cast("long").alias("n_kept"),
                 F.sum(F.coalesce("blk", F.lit(0))).cast("long")
                 .alias("n_blocked"))
            .orderBy("source"))


# --- HTML -> text main-content extraction ------------------------------------
# The step every crawl pipeline runs between fetch and the quality gates:
# the reference STOPS at fetch (pkg/storage/url/urldownload/storage.go:65-94
# downloads bytes into a volume and never inspects them); the Gopher/model
# gates upstream assume clean text. This stage bridges them: strip
# script/style blocks, nav/footer boilerplate and tags, decode the common
# entities, collapse whitespace. The whole chain is RE2-subset regexp
# passes (non-greedy spans over single-line markup — the synthesis is
# single-line by construction, so no dotall divergence), identical
# automata in Spark and DuckDB, zero shuffle, composes unchanged over
# readStream sources.
#
# The fixture documents carry text but no markup, so each query wraps the
# document in a deterministic HTML page from (source, doc_id, text) — the
# _URL_SQL synthesis convention: head with title/style/script, nav links,
# an <h1>, the real text inside <p>, an entity-bearing trailer paragraph,
# a footer. Extraction must recover title + clean body and drop the rest.
#
# Entity decode ordering: &amp; LAST (decoding it first would re-activate
# doubly-encoded entities — the classic double-decode bug); &lt;/&gt; are
# decoded but deliberately NOT synthesized into the fixture trailer, so
# extract(extract(x)) == extract(x) holds on the pipeline's own output
# (decoded '<' would read as markup on a second pass — the hazard the
# idempotence test pins).

_HTML_SQL = (
    "'<html><head><title>' || source || ' #' || CAST(doc_id AS VARCHAR) || "
    "'</title><style>body{margin:0}</style>"
    "<script>var t=\"' || CAST(doc_id AS VARCHAR) || '\";</script></head>"
    "<body><nav><a href=\"/\">Home</a> <a href=\"/' || source || "
    "'\">Archive</a></nav><h1>Doc ' || CAST(doc_id AS VARCHAR) || "
    "'</h1><p>' || text || '</p>"
    "<p>Mentions &quot;' || source || '&quot; &amp; more&nbsp;&#39;here&#39;.</p>"
    "<footer>&copy; ' || source || '</footer></body></html>'")


def _html_expr() -> Column:
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("<html><head><title>"), F.col("source"), F.lit(" #"), did,
        F.lit('</title><style>body{margin:0}</style>'
              '<script>var t="'), did, F.lit('";</script></head>'
              '<body><nav><a href="/">Home</a> <a href="/'),
        F.col("source"),
        F.lit('">Archive</a></nav><h1>Doc '), did,
        F.lit("</h1><p>"), F.col("text"), F.lit("</p>"
              "<p>Mentions &quot;"), F.col("source"),
        F.lit("&quot; &amp; more&nbsp;&#39;here&#39;.</p>"
              "<footer>&copy; "), F.col("source"),
        F.lit("</footer></body></html>"))


# ONE statement of the extraction, folded into both engines'
# expressions below. Regex only where alternation/greediness needs it:
# the five boilerplate spans run as ONE alternation pass (leftmost-
# first semantics identical to the sequential five-pass form — a later
# span that starts inside an earlier one is consumed either way; both
# engines run the same single automaton so the gate compares like for
# like), the tag strip is the second pass, and the entity decodes are
# LITERAL replaces (no metacharacters — plain string replace() in both
# engines, which the round-11 regex-throughput finding showed is the
# cheap path java-side). Head goes wholesale (title/meta text is not
# body content); script/style keep alternatives of their own because
# real pages put them in body too. &amp; decodes LAST (double-decode
# hazard; see the module comment above).
_HTML_SPAN_PASS = ("<head>.*?</head>|<script[^>]*>.*?</script>"
                   "|<style[^>]*>.*?</style>|<nav>.*?</nav>"
                   "|<footer>.*?</footer>")
_HTML_TAG_PASS = "<[^>]*>"
_HTML_ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""), ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def html_extract_frame(pages: DataFrame,
                       html_col: str = "html") -> DataFrame:
    """(…, html) -> (…, title, content): main-content extraction as a
    pure per-row regexp chain (whole-stage codegen, no Python, no
    shuffle) — title from the <title> element, content = boilerplate-
    stripped entity-decoded whitespace-collapsed body text."""
    h = F.col(html_col)
    title = F.regexp_extract(h, "<title>(.*?)</title>", 1)
    content = F.regexp_replace(h, _HTML_SPAN_PASS, " ")
    content = F.regexp_replace(content, _HTML_TAG_PASS, " ")
    for ent, rep in _HTML_ENTITIES:
        content = F.replace(content, F.lit(ent), F.lit(rep))
    content = F.trim(F.regexp_replace(content, r"\s+", " "))
    return pages.select("*", title.alias("title"),
                        content.alias("content"))


def nd_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction over the synthesized crawl pages:
    (doc_id, title, content, n_chars) per document — read from the
    materialized extraction artifact (built once per source content)."""
    return (html_extract_index(spark, sf_dir)
            .select("doc_id", "title", "content",
                    F.length("content").cast("long").alias("n_chars"))
            .orderBy("doc_id"))


# --- oracles -----------------------------------------------------------------
_CANON_SQL = f"""
u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
c1 AS (SELECT doc_id, url, split_part(url, '#', 1) AS nofrag FROM u),
c1b AS (SELECT doc_id, url, nofrag,
  regexp_extract(nofrag, '^[A-Za-z]+://[^/?#]*') AS sh0 FROM c1),
c2 AS (SELECT doc_id, url,
  CASE WHEN starts_with(lower(sh0), 'https://')
            AND right(lower(sh0), 4) = ':443'
       THEN left(lower(sh0), length(sh0) - 4)
       WHEN starts_with(lower(sh0), 'http://')
            AND right(lower(sh0), 3) = ':80'
       THEN left(lower(sh0), length(sh0) - 3)
       ELSE lower(sh0) END AS sh,
  substring(nofrag, length(sh0) + 1) AS rest FROM c1b),
c3 AS (SELECT doc_id, url, sh,
  CASE WHEN right(r2, 1) = '?' THEN left(r2, length(r2) - 1)
       ELSE r2 END AS rest3
  FROM (SELECT doc_id, url, sh,
        regexp_replace(regexp_replace(rest,
          '{_TRACK_MID}', '\\1', 'g'),
          '[?&]{_TRACK}=[^&#]*$', '') AS r2 FROM c2) t),
canon AS (SELECT doc_id, url, sh || rest3 AS canon,
  CASE WHEN starts_with(split_part(split_part(sh, '://', 2), ':', 1),
                        'www.')
       THEN substring(split_part(split_part(sh, '://', 2), ':', 1), 5)
       ELSE split_part(split_part(sh, '://', 2), ':', 1) END
    AS domain FROM c3)"""

_URL_CANON_ORACLE = f"""
WITH {_CANON_SQL}
SELECT doc_id, url, canon, domain FROM canon ORDER BY doc_id
"""

_DOMAIN_CAP_ORACLE = f"""
WITH {_CANON_SQL}
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(LEAST(COUNT(*), {DOMAIN_CAP}) AS BIGINT) AS n_kept
FROM canon GROUP BY domain ORDER BY domain
"""

# The filtering form's oracle IS the naive one-window statement of the
# rule — the Spark side's two-stage partial-top-K plan must be value-
# identical to it.
_DOMAIN_CAP_KEEP_ORACLE = f"""
WITH {_CANON_SQL},
r AS (SELECT domain, doc_id,
      ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
      FROM canon)
SELECT domain, doc_id FROM r WHERE rn <= {DOMAIN_CAP}
ORDER BY domain, doc_id
"""

def _html_content_sql(col: str) -> str:
    """The extraction chain folded into nested DuckDB calls — the span
    alternation + tag strip as regexp_replace(..., 'g'), the literal
    entity passes as plain replace() (global in both engines), then the
    whitespace collapse."""
    expr = f"regexp_replace({col}, '{_HTML_SPAN_PASS}', ' ', 'g')"
    expr = f"regexp_replace({expr}, '{_HTML_TAG_PASS}', ' ', 'g')"
    for ent, rep in _HTML_ENTITIES:
        rep_sql = rep.replace("'", "''")
        expr = f"replace({expr}, '{ent}', '{rep_sql}')"
    return f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"


_HTML_EXTRACT_ORACLE = f"""
WITH pages AS (SELECT doc_id, {_HTML_SQL} AS html FROM documents),
x AS (SELECT doc_id,
             regexp_extract(html, '<title>(.*?)</title>', 1) AS title,
             {_html_content_sql('html')} AS content
      FROM pages)
SELECT doc_id, title, content,
       CAST(LENGTH(content) AS BIGINT) AS n_chars
FROM x ORDER BY doc_id
"""

_BLOCK_LIST_SQL = ", ".join(f"('{d}')" for d in BLOCKED_DOMAINS)

_DOMAIN_BLOCK_ORACLE = f"""
WITH {_CANON_SQL},
blocked(domain) AS (VALUES {_BLOCK_LIST_SQL}),
kept AS (SELECT c.doc_id FROM canon c
         WHERE c.domain NOT IN (SELECT domain FROM blocked))
SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN k.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_blocked
FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
GROUP BY d.source ORDER BY d.source
"""

QUERIES = {
    "nd_url_canonicalize": (nd_url_canonicalize, _URL_CANON_ORACLE),
    "nd_domain_cap": (nd_domain_cap, _DOMAIN_CAP_ORACLE),
    "nd_domain_cap_keep": (nd_domain_cap_keep, _DOMAIN_CAP_KEEP_ORACLE),
    "nd_domain_blocklist": (nd_domain_blocklist, _DOMAIN_BLOCK_ORACLE),
    "nd_html_extract": (nd_html_extract, _HTML_EXTRACT_ORACLE),
}
