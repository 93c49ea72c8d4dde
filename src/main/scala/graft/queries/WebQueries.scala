package graft.queries

import graft.{Q, Tables}
import graft.functions.Hashing
import graft.ops.{TextOps, UrlOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import OracleFrags._

/** URL/domain-level curation — the web-corpus axis (C4/RefinedWeb): URL
  * canonicalization, per-domain corpus statistics, domain blocklist
  * filtering, and per-domain quota sampling. The fixture's documents
  * carry a `source` but no URL, so each query derives a deterministic
  * RAW url per document (messy on purpose: mixed-case scheme/host,
  * default and non-default ports, tracking params, fragments, trailing
  * slashes — every branch keyed off doc_id so both engines derive the
  * identical string, the folder_name_roundtrip convention). The
  * operators under test are the canonicalizer and the domain-keyed
  * passes downstream of it; the derivation is fixture plumbing.
  *
  * Scale shape: canonicalization is a per-row-pure chain of codegen'd
  * regex expressions (zero shuffles); every downstream statistic is one
  * hash-agg or window keyed by domain — web corpora have ~10^7 domains,
  * so domain-keyed state is always corpus-bounded, and the one skewed
  * key risk (a mega-domain) hits only per-domain windows, which see
  * |domain| rows and emit ≤ quota.
  */
object WebQueries {

  /** Per-domain quota for the sampler (final val: interpolated into
    * oracle SQL at object init). */
  private[graft] final val DomainQuota = 10

  /** Blocked domains — the curation blocklist (spam/SEO-farm stand-in).
    * Tiny by nature: broadcast anti-join, never a shuffle. */
  private val Blocked = Seq(
    "src0.example.com", "src3.example.com",
    "src7.example.com", "src15.example.com")

  /** The deterministic raw URL: every canonicalization rule gets real
    * work somewhere in the id space — uppercase scheme (id%3=0), mixed
    * host case (id%2=0), default :443 (id%5=0 — note id%15=0 pairs it
    * with http, where :443 is NOT default and must survive),
    * non-default :8080 kept (id%5=1), trailing slash (id%4=0),
    * tracking-only query that must lose its '?' (id%14=0), no query at
    * all (id%11=0), fragment (id%3=1). */
  private def urlCol: Column = {
    val id = col("doc_id")
    val sch = when(id % 3 === 0, lit("HTTP")).otherwise(lit("https"))
    val host = when(id % 2 === 0, concat(col("source"), lit(".Example.COM")))
      .otherwise(concat(col("source"), lit(".example.com")))
    val port = when(id % 5 === 0, lit(":443"))
      .when(id % 5 === 1, lit(":8080")).otherwise(lit(""))
    val path = concat(lit("/Docs/"), id.cast("string"),
      when(id % 4 === 0, lit("/")).otherwise(lit("")))
    val query = when(id % 11 === 0, lit(""))
      .when(id % 14 === 0, lit("?utm_source=feed"))
      .when(id % 2 === 0,
        concat(lit("?utm_source=feed&page="), (id % 7).cast("string")))
      .otherwise(concat(lit("?page="), (id % 7).cast("string"),
        lit("&gclid=g"), (id % 5).cast("string")))
    val frag = when(id % 3 === 1,
      concat(lit("#Sec"), (id % 4).cast("string"))).otherwise(lit(""))
    concat(sch, lit("://"), host, port, path, query, frag)
  }

  /** Oracle twin of [[urlCol]] (over the `documents` relation). */
  private val sqlUrl: String =
    s"""(CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
       |(CASE WHEN doc_id % 2 = 0 THEN source || '.Example.COM'
       |  ELSE source || '.example.com' END) ||
       |(CASE WHEN doc_id % 5 = 0 THEN ':443'
       |  WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END) ||
       |'/Docs/' || CAST(doc_id AS VARCHAR) ||
       |(CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
       |(CASE WHEN doc_id % 11 = 0 THEN ''
       |  WHEN doc_id % 14 = 0 THEN '?utm_source=feed'
       |  WHEN doc_id % 2 = 0 THEN '?utm_source=feed&page='
       |    || CAST(doc_id % 7 AS VARCHAR)
       |  ELSE '?page=' || CAST(doc_id % 7 AS VARCHAR) || '&gclid=g'
       |    || CAST(doc_id % 5 AS VARCHAR) END) ||
       |(CASE WHEN doc_id % 3 = 1 THEN '#Sec' || CAST(doc_id % 4 AS VARCHAR)
       |  ELSE '' END)""".stripMargin.replace("\n", " ")

  /** documents + (url, domain) — the input every query here shares. */
  private def withUrl(s: SparkSession, dir: String): DataFrame =
    urlize(Tables.documents(s, dir))

  /** The same derivation over an arbitrary (doc_id, source) batch —
    * the streaming twin applies it per micro-batch. */
  private[graft] def urlize(docs: DataFrame): DataFrame =
    docs.withColumn("url", urlCol)
      .withColumn("domain", UrlOps.domain(urlCol))

  /** Oracle CTE: `du(doc_id, text, lang, url, domain)`. */
  private val duWith: String =
    s"""du AS (SELECT doc_id, text, lang, $sqlUrl AS url,
       |${UrlOps.sqlDomain(s"($sqlUrl)")} AS domain FROM documents)"""
      .stripMargin.replace("\n", " ")

  val all: Seq[Q] = Seq(

    // The canonicalizer itself, per document: raw url → canonical url +
    // domain key. Every rule is exercised across the id space (scheme/
    // host case, default-vs-kept ports, tracking-param strip including
    // the drop-the-'?' edge, fragment, trailing slash) and the oracle
    // re-derives the identical canonical string through the mirrored
    // regex chain — a pure narrow map at any corpus size.
    Q("url_canonicalize",
      (s, dir) => withUrl(s, dir)
        .select(col("doc_id"), col("url"),
          UrlOps.canonicalize(col("url")).as("canon_url"),
          col("domain"))
        .orderBy("doc_id"),
      s"""WITH $duWith
         |SELECT doc_id, url, ${UrlOps.sqlCanonicalize("url")} AS canon_url,
         |domain FROM du ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Streaming twin of url_canonicalize — URL hygiene IN FLIGHT (how
    // a crawl-ingest pipeline actually runs the canonicalizer: on
    // arriving pages, before any domain statistic sees them). The
    // transform is per-row pure, so any micro-batch slicing yields the
    // same rows through the replay-safe batch_id-keyed sink and the
    // batch oracle applies verbatim.
    Q("streaming_url_canonicalize",
      (s, dir) => {
        val work = graft.util.Fs.freshWorkDir("graft_stream_url", dir)
        graft.streaming.StreamingDocApply.applyAvailableNow(s, dir, work,
            b => urlize(b).select(col("doc_id"), col("url"),
              UrlOps.canonicalize(col("url")).as("canon_url"),
              col("domain")))
          .orderBy("doc_id")
      },
      s"""WITH $duWith
         |SELECT doc_id, url, ${UrlOps.sqlCanonicalize("url")} AS canon_url,
         |domain FROM du ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Per-domain corpus statistics — the RefinedWeb/C4 triage table
    // that decides which domains are worth crawling/keeping: doc and
    // token volume plus the exact-duplicate rate (docs whose full-text
    // digest appears more than once ANYWHERE in the corpus — boilerplate
    // domains light up here). One digest hash-agg + one domain hash-agg;
    // the digest join is equality-keyed on the hash, so at 100 TB it is
    // the standard exact-dedup shuffle, never all-pairs.
    Q("domain_stats",
      (s, dir) => {
        val d = withUrl(s, dir).select(col("doc_id"), col("domain"),
          md5(col("text")).as("h"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        val dups = d.groupBy(col("h")).agg(count(lit(1)).as("c"))
        d.join(dups, Seq("h"))
          .groupBy(col("domain"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
          .select(col("domain"), col("n_docs"), col("n_tokens"),
            col("n_dup_docs"),
            round(col("n_dup_docs").cast("double") / col("n_docs"), 6)
              .as("dup_rate"))
          .orderBy("domain")
      },
      s"""WITH $duWith,
         |d AS (SELECT doc_id, domain, md5(text) AS h,
         |  CAST(len($toks) AS BIGINT) AS n_tokens FROM du),
         |dups AS (SELECT h, count(*) AS c FROM d GROUP BY h)
         |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_dup_docs,
         |round(CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |  / count(*), 6) AS dup_rate
         |FROM d JOIN dups USING (h)
         |GROUP BY domain ORDER BY domain""".stripMargin.replace("\n", " ")),

    // Domain blocklist filtering — the reference's referential-
    // completeness QC pattern lifted to the web domain: a (tiny,
    // broadcast) blocklist anti-joined against the canonical domain
    // key; survivors roll up per domain. At 100 TB the blocklist
    // (even a multi-million-entry one) broadcasts while the corpus
    // streams partition-local through the hash anti-join.
    Q("domain_blocklist_filter",
      (s, dir) => {
        import s.implicits._
        val block = Blocked.toDF("domain")
        withUrl(s, dir)
          .join(broadcast(block), Seq("domain"), "left_anti")
          .groupBy(col("domain"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast("long")).as("n_chars"))
          .orderBy("domain")
      },
      s"""WITH $duWith
         |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(SUM(length(text)) AS BIGINT) AS n_chars
         |FROM du WHERE domain NOT IN (${
           Blocked.map(d => s"'$d'").mkString(", ")})
         |GROUP BY domain ORDER BY domain""".stripMargin.replace("\n", " ")),

    // Per-domain PII triage — the RefinedWeb-style "drop high-PII
    // domains" input: the existing PII scanner (per-row-pure regex
    // counts over the planted-span fixture) rolled up on the canonical
    // domain key, with per-class sums and the fraction of the domain's
    // docs carrying any PII. Composes the round's web layer with the
    // compliance scanner — one narrow scan + one domain hash-agg; at
    // 100 TB this is the per-domain statistic a crawler's allow-list
    // policy reads next to domain_stats' dup rate.
    Q("domain_pii_stats",
      (s, dir) => {
        val scan = graft.ops.TextOps.piiScan(
          TextQueries.piiAugment(Tables.documents(s, dir)))
        val dom = withUrl(s, dir).select(col("doc_id"), col("domain"))
        scan.join(dom, Seq("doc_id"))
          .groupBy(col("domain"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_pii") > 0, 1L).otherwise(0L))
              .as("docs_with_pii"),
            sum(col("n_pii")).as("n_pii"),
            sum(col("n_email")).as("n_email"),
            sum(col("n_phone")).as("n_phone"),
            sum(col("n_ipv4")).as("n_ipv4"),
            sum(col("n_card")).as("n_card"))
          .select(col("domain"), col("n_docs"), col("docs_with_pii"),
            round(col("docs_with_pii").cast("double") / col("n_docs"), 6)
              .as("pii_doc_rate"),
            col("n_pii"), col("n_email"), col("n_phone"),
            col("n_ipv4"), col("n_card"))
          .orderBy("domain")
      },
      s"""WITH aug AS (${TextQueries.piiAugSql}), $duWith,
         |p AS (SELECT a.doc_id, du.domain, ${
           graft.ops.TextOps.PiiPatterns.map { case (kind, re, _) =>
             s"CAST(len(regexp_extract_all(a.text, '$re')) AS BIGINT) AS n_$kind"
           }.mkString(", ")},
         |CAST(${graft.ops.TextOps.PiiPatterns.map { case (_, re, _) =>
             s"len(regexp_extract_all(a.text, '$re'))" }.mkString(" + ")}
         |  AS BIGINT) AS n_pii
         |FROM aug a JOIN du ON a.doc_id = du.doc_id)
         |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(SUM(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |  AS docs_with_pii,
         |round(CAST(SUM(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         |  / count(*), 6) AS pii_doc_rate,
         |CAST(SUM(n_pii) AS BIGINT) AS n_pii,
         |CAST(SUM(n_email) AS BIGINT) AS n_email,
         |CAST(SUM(n_phone) AS BIGINT) AS n_phone,
         |CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4,
         |CAST(SUM(n_card) AS BIGINT) AS n_card
         |FROM p GROUP BY domain ORDER BY domain"""
        .stripMargin.replace("\n", " ")),

    // Per-domain quota sampling — the anti-mega-domain rebalancer
    // (C4 keeps at most N pages per domain so content farms can't
    // dominate the mix): each domain's quota filled by the smallest
    // md5(doc_id) hashes, the same deterministic md5-fill discipline
    // as cluster_balanced_sample / corpus_temperature_mix. The window
    // sees |domain| rows and emits ≤ quota — a mega-domain costs its
    // scan, never more (salt only if one domain dwarfs an executor).
    Q("domain_quota_sample",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("domain"))
          .orderBy(Hashing.md5Long(col("doc_id").cast("string")).asc,
            col("doc_id").asc)
        withUrl(s, dir)
          .select(col("domain"), col("doc_id"))
          .withColumn("samp_rank", row_number().over(w).cast("int"))
          .filter(col("samp_rank") <= DomainQuota)
          .orderBy("domain", "samp_rank")
      },
      s"""WITH $duWith
         |SELECT domain, doc_id, CAST(rnk AS INT) AS samp_rank FROM (
         |  SELECT domain, doc_id, row_number() OVER (PARTITION BY domain
         |    ORDER BY ${Hashing.sqlMd5Long("CAST(doc_id AS VARCHAR)")} ASC,
         |    doc_id ASC) AS rnk FROM du)
         |WHERE rnk <= $DomainQuota
         |ORDER BY domain, samp_rank""".stripMargin.replace("\n", " ")),

    // Streaming twin of the quota sampler — the crawl-frontier quota IN
    // FLIGHT: per-domain admission counts persist across micro-batches
    // (flatMapGroupsWithState on domain; one int of state per domain,
    // bounded by |domains| forever). Streaming admission is FIRST-COME
    // in ingest (doc_id) order — the batch sampler's md5-rank fill is a
    // corpus-wide ranking no append stream can honor — so the oracle
    // ranks by doc_id. Admission depends only on per-domain arrival
    // position, so any micro-batch slicing yields the identical sample
    // (StreamingQuotaSpec asserts slicing invariance on explicit
    // MemoryStream slicings).
    Q("streaming_domain_quota",
      (s, dir) => graft.streaming.StreamingQuota
        .domainQuotaAvailableNow(s, dir, DomainQuota,
          b => urlize(b).select(col("domain"), col("doc_id")),
          queryName = "stream_quota_driver")
        .orderBy("domain", "samp_rank"),
      s"""WITH $duWith
         |SELECT domain, doc_id, CAST(rnk AS INT) AS samp_rank FROM (
         |  SELECT domain, doc_id, row_number() OVER (PARTITION BY domain
         |    ORDER BY doc_id ASC) AS rnk FROM du)
         |WHERE rnk <= $DomainQuota
         |ORDER BY domain, samp_rank""".stripMargin.replace("\n", " ")))
}
