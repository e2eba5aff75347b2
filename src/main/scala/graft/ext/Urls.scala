package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL/domain hygiene for crawl corpora — the gate that runs BEFORE text
  * quality in a production pipeline (RefinedWeb, C4 and friends filter and
  * cap by registrable domain first; a single spammy domain can be most of a
  * crawl). Everything here is a pure column expression (zero shuffles for
  * the stats/filter; the domain cap is [[Corpus.capPerKey]]'s one bounded
  * shuffle), and the q86 oracle replays host extraction, domain derivation
  * and every rule in SQL.
  *
  * Reference behavior modeled on the reference pipeline's source gating
  * (flatbread has no URL layer; this follows the public C4/RefinedWeb
  * recipes).
  */
object Urls {

  /** Hostname of a URL (lowercased): the authority between `scheme://`
    * (userinfo stripped) and the first `/ : ? #`. Returns `''` for
    * schemeless or unparseable input — rules treat that as "not a URL". */
  def host(url: Column): Column =
    regexp_extract(lower(url), "^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)", 1)

  /** Multi-label public suffixes recognized by [[registrableDomain]]'s
    * default: a PINNED subset of the Public Suffix List's most common
    * second-level suffixes. The full PSL is an external, versioned artifact
    * — callers needing exact PSL semantics pass their own set; a pinned
    * default keeps results reproducible across runs and engines. */
  val DefaultMultiSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk",
    "com.au", "net.au", "org.au", "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "com.ar", "com.tr", "com.tw",
    "co.in", "co.kr", "co.za", "com.sg", "com.hk")

  /** Registrable domain ("example.co.uk" for "a.b.example.co.uk"): the last
    * two host labels, or three when the last two are a known multi-label
    * public suffix. All-numeric hosts (IPv4 literals) are returned whole —
    * truncating an IP to its last two octets would merge unrelated hosts.
    * Hosts with ≤ 2 labels (or `''` from a non-URL) pass through as-is. */
  def registrableDomain(url: Column,
                        multiSuffixes: Seq[String] = DefaultMultiSuffixes): Column = {
    val h = host(url)
    val labs = split(h, "\\.")
    val n = size(labs)
    val last2 = concat_ws(".", element_at(labs, -2), element_at(labs, -1))
    val last3 = concat_ws(".", element_at(labs, -3), last2)
    when(h.rlike("^[0-9.]+$"), h)
      .when(n <= 2, h)
      .when(last2.isin(multiSuffixes: _*), when(n >= 3, last3).otherwise(h))
      .otherwise(last2)
  }

  /** URL rule columns (RefinedWeb-style pre-text gate): `host`, `domain`,
    * `url_len`, `digit_frac` (digits / total URL chars), `blocked` (domain
    * in the caller's blocklist — exact registrable-domain match, the
    * blocklist semantic crawl pipelines use), and the conjunction `url_ok`
    * = parseable host ∧ not blocked ∧ `url_len ≤ maxLen` ∧ `digit_frac ≤
    * maxDigitFrac`. Emitted as audit COLUMNS (same posture as
    * [[TextStats.gopherStats]]): at crawl scale thresholds are tuned from
    * one scan's histogram. Null URL ⇒ every rule false. */
  def urlStats(df: DataFrame, urlCol: String,
               blockedDomains: Seq[String] = Nil,
               maxLen: Int = 2048, maxDigitFrac: Double = 0.5,
               multiSuffixes: Seq[String] = DefaultMultiSuffixes): DataFrame = {
    val u = coalesce(col(urlCol), lit(""))
    val blockedCol =
      if (blockedDomains.isEmpty) lit(false)
      else col("domain").isin(blockedDomains.map(_.toLowerCase): _*)
    df.withColumn("host", host(u))
      .withColumn("domain", registrableDomain(u, multiSuffixes))
      .withColumn("url_len", length(u))
      .withColumn("digit_frac",
        when(length(u) > 0,
          regexp_count(u, lit("[0-9]")).cast("double") / length(u))
          .otherwise(lit(0.0)))
      .withColumn("blocked", blockedCol)
      .withColumn("url_ok",
        length(col("host")) > 0 && !col("blocked") &&
          col("url_len") <= maxLen && col("digit_frac") <= maxDigitFrac)
  }

  /** [[urlStats]] as a terminal: rows whose URL passes every rule, original
    * columns only. Routed through [[TextStats.pinnedFilter]] like every
    * other filter terminal: `PushDownPredicates` would otherwise inline the
    * regex-derived rule columns (`host`, `digit_frac`) into the pushed
    * predicate, re-evaluating them below any repartition on the raw scan. */
  def filterUrls(df: DataFrame, urlCol: String,
                 blockedDomains: Seq[String] = Nil,
                 maxLen: Int = 2048, maxDigitFrac: Double = 0.5,
                 multiSuffixes: Seq[String] = DefaultMultiSuffixes): DataFrame =
    TextStats.pinnedFilter(
      urlStats(df, urlCol, blockedDomains, maxLen, maxDigitFrac, multiSuffixes),
      col("url_ok"))
      .select(df.columns.map(col): _*)

  /** Frequency cap per registrable domain — [[Corpus.capPerKey]] keyed on
    * the derived domain: at most `cap` documents from any one domain, the
    * standard guard against one hot site drowning the mixture. Same
    * determinism and WindowGroupLimit-below-exchange shape as q74. */
  /** Query-parameter names stripped by [[canonicalUrl]]: the pinned
    * tracking-parameter set (analytics campaign tags and click ids) whose
    * values vary per referral while the page content does not — the reason
    * URL-level dedup needs canonicalization at all. */
  val TrackingParams: String = "utm_[a-z0-9]+|gclid|fbclid|ref"

  /** Canonical DEDUP KEY of a URL (the RefinedWeb-style first-pass dedup
    * key — NOT guaranteed fetchable): lowercase, fragment dropped,
    * tracking parameters ([[TrackingParams]]) removed with separator
    * repair, `https` folded to `http`, a leading `www.` dropped, and a
    * trailing slash trimmed. Pure RE2-safe codegen `regexp_replace` chain
    * (lowercase FIRST so no case-insensitive flags are needed), replayed
    * verbatim by the q134 oracle. Two URLs mapping to one key are treated
    * as the same page; the variations covered are exactly the ones crawl
    * frontiers generate for identical content. */
  def canonicalUrl(url: Column): Column = {
    val u0 = lower(coalesce(url, lit("")))
    val u1 = regexp_replace(u0, "#.*$", "")
    // tracking params: non-first (&k=v) in one global pass, then a first
    // param followed by another (?k=v& -> ?), then a lone first param
    val u2 = regexp_replace(u1, "&(?:" + TrackingParams + ")=[^&#]*", "")
    val u3 = regexp_replace(u2, "\\?(?:" + TrackingParams + ")=[^&#]*&", "?")
    val u4 = regexp_replace(u3, "\\?(?:" + TrackingParams + ")=[^&#]*$", "")
    val u5 = regexp_replace(u4, "^https://", "http://")
    val u6 = regexp_replace(u5, "^http://www\\.", "http://")
    regexp_replace(u6, "/$", "")
  }

  /** URL-level dedup — the cheap FIRST pass of a crawl pipeline (RefinedWeb
    * runs it before any content dedup: same canonical URL ⇒ same page,
    * no tokenization needed): keep ONE row per [[canonicalUrl]] key — the
    * highest-`scoreCol` member (id tiebreak; min id when `scoreCol` is
    * null) — and append `url_canon` plus the group's `n_url_copies`. One
    * key shuffle, argmax as `min(struct(-score, id))`
    * ([[Dedup.exactKeepBest]]'s shape); at 100 TB this collapses the
    * crawl-frontier redundancy for the price of a string-key aggregate. */
  def dedupByUrl(df: DataFrame, idCol: String, urlCol: String,
                 scoreCol: String = null): DataFrame = {
    val keyed = df.withColumn("url_canon", canonicalUrl(col(urlCol)))
    val score = if (scoreCol == null) lit(0L) else col(scoreCol)
    val best = keyed.groupBy(col("url_canon"))
      .agg(min(struct((-score).as("ns"), col(idCol).as("id"))).as("__best"),
        count(lit(1)).as("n_url_copies"))
      .select(col("__best.id").as(idCol), col("n_url_copies"))
    keyed.join(best, Seq(idCol), "inner")
  }

  def capPerDomain(df: DataFrame, urlCol: String, idCol: String, cap: Int,
                   multiSuffixes: Seq[String] = DefaultMultiSuffixes): DataFrame =
    Corpus.capPerKey(
      df.withColumn("__domain", registrableDomain(coalesce(col(urlCol), lit("")), multiSuffixes)),
      "__domain", idCol, cap)
      .drop("__domain")

  /** Per-registrable-domain corpus report + blocklist-candidate flag: the
    * audit behind curated domain blocklists (RefinedWeb prunes whole
    * domains whose content is duplicated or low-quality, not individual
    * pages). [[Audit.corpusReport]] keyed on the derived domain, plus
    * `flagged` = 1 when the domain's duplicate rate exceeds `maxDupRate` OR
    * its mean quality points fall below `minAvgQuality`. Both ratios divide
    * the report's exact integers with identical IEEE arithmetic in Spark
    * and the oracle, so the threshold comparison is engine-stable.
    *
    * Scale shape: the domain derivation is a zero-shuffle projection;
    * everything after is [[Audit.corpusReport]]'s one groupBy scan, output
    * sized by domain cardinality. */
  def domainReport(df: DataFrame, urlCol: String, textCol: String,
                   shortTokens: Int = 30, maxDupRate: Double = 0.5,
                   minAvgQuality: Double = 2.0,
                   multiSuffixes: Seq[String] = DefaultMultiSuffixes): DataFrame =
    Audit.corpusReport(
        df.withColumn("domain",
          registrableDomain(coalesce(col(urlCol), lit("")), multiSuffixes)),
        textCol, "domain", shortTokens)
      .withColumn("flagged",
        (col("dup_rate") > maxDupRate ||
          col("avg_quality") < minAvgQuality).cast("int"))

  /** PageRank over the host link graph — crawl prioritization's classic
    * centrality signal (CommonCrawl publishes exactly this kind of
    * host-level ranking; a page's host rank is a standard crawl-frontier /
    * quality prior). Power iteration with damping `dampingPct`/100 for a
    * FIXED `iters` rounds over distinct (src, dst) host edges; returns
    * (host, outdeg, rank).
    *
    * Numeric discipline: ranks live in 1e-6 micro-units as BIGINTs and
    * every step is integer arithmetic — per-edge contribution is
    * `r6 div outdeg`, the dangling mass redistributes as `dang div N`, the
    * damped update is `(dampingPct · x) div 100` — so each round is exact
    * BIGINT algebra: fold-order-free, bit-identical in any engine (the
    * fixed-point Lloyd/q67 rule applied to graph iteration). Floor losses
    * shave ≤ a few micro-units of mass per round; ranking order is what the
    * signal is used for, and that is exactly reproducible.
    *
    * Scale shape: each round is ONE host-keyed shuffle join of the
    * host-sized rank table against the edge list plus one aggregate;
    * lineage is truncated per round ([[Checkpoint.materialize]]); driver state
    * is two longs per round (node count, dangling mass) — never a rank
    * vector. Fixed iteration count, no convergence collect. */
  def hostRank(edges: DataFrame, iters: Int = 3, dampingPct: Int = 85): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    // distinct edges: multigraph multiplicities would double-count links
    val e = Checkpoint.materialize(edges.select(col("src"), col("dst")).distinct())
    val nodes = e.select(col("src").as("host"))
      .unionByName(e.select(col("dst").as("host"))).distinct()
    val outdeg = e.groupBy(col("src").as("host"))
      .agg(count(lit(1)).as("outdeg"))
    var ranks = Checkpoint.materialize(nodes.join(outdeg, Seq("host"), "left")
      .select(col("host"),
        coalesce(col("outdeg"), lit(0L)).cast("long").as("outdeg"),
        lit(0L).as("r6")))
    val n = ranks.count()
    require(n > 0, "hostRank needs a non-empty edge list")
    val base = ((100L - dampingPct) * 10000L) / n // (1−d)/N in micro-units
    ranks = Checkpoint.materialize(ranks.withColumn("r6", lit(1000000L / n)))
    for (_ <- 1 to iters) {
      val dang = ranks.filter(col("outdeg") === 0L)
        .agg(coalesce(sum(col("r6")), lit(0L))).head().getLong(0)
      val redis = dang / n
      val in = ranks.filter(col("outdeg") > 0L).as("r")
        .join(e.as("e"), col("r.host") === col("e.src"))
        .select(col("e.dst").as("host"), expr("r6 div outdeg").as("__c6"))
        .groupBy(col("host")).agg(sum(col("__c6")).as("__in6"))
      ranks = Checkpoint.materialize(ranks.join(in, Seq("host"), "left")
        .select(col("host"), col("outdeg"),
          (lit(base) + expr(s"($dampingPct * (coalesce(__in6, 0L) + " +
            s"${redis}L)) div 100")).as("r6")))
    }
    ranks.select(col("host"), col("outdeg"),
      (col("r6").cast("double") / lit(1000000.0)).as("rank"))
  }
}
