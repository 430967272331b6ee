package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-12 registry: WordPiece greedy encoding (the third tokenizer
  * family), the cross-family fertility comparison, and URL
  * canonicalization / dedup — each paired with a DuckDB oracle that
  * independently replays the semantics.
  */
object MeridianQueries {

  /** The committed unigram vocabulary fixture for this scale factor — the
    * WordPiece vocabulary input ("vocab is a fixture table": both engines
    * read the SAME frozen piece list, so the oracle exercises the greedy
    * matcher, not the trainer).
    */
  private def unigramVocab(spark: SparkSession, dir: String): Seq[String] = {
    val sfName = new java.io.File(dir).getName
    val schema = StructType(Seq(
      StructField("rank", LongType), StructField("piece", StringType),
      StructField("count", LongType), StructField("logp", DoubleType)))
    spark.read.option("header", "true").schema(schema)
      .csv(s"${SparkEntry.FixtureRoot}/$sfName/q_unigram_train.csv")
      .select("piece").collect().map(_.getString(0)).toSeq
  }

  private val vocabCsvSql: String =
    s"""read_csv('${SparkEntry.FixtureRoot}/__GRAFT_SF__/q_unigram_train.csv',
       |  header=true, columns={'rank':'BIGINT','piece':'VARCHAR',
       |  'count':'BIGINT','logp':'DOUBLE'})""".stripMargin

  // --------------------------------------------------------------------
  // WordPiece greedy encode
  // --------------------------------------------------------------------

  /** Greedy longest-match (WordPiece-style) encode of the corpus over the
    * frozen unigram vocabulary ([[graft.ext.WordPiece.encode]]). Unlike
    * the BPE/unigram APPLY queries this one is fully oracle-expressible:
    * the DuckDB side walks the same maximal-munch recursion with a
    * recursive CTE over a per-position longest-match table.
    */
  def qWordpieceEncode(spark: SparkSession, dir: String): DataFrame =
    graft.ext.WordPiece.encode(Tables.documents(spark, dir), "doc_id",
        "text", unigramVocab(spark, dir))
      .orderBy(col("doc_id"))

  private val wordpieceWalkSql: String =
    """docw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |dw AS (SELECT doc_id, word FROM docw WHERE word <> ''),
      |uw AS (SELECT DISTINCT word FROM dw),
      |pos AS (SELECT word, unnest(generate_series(1, len(word))) AS p
      |  FROM uw),
      |lm AS (SELECT pos.word, pos.p, MAX(len(v.piece)) AS l
      |  FROM pos JOIN vocab v
      |    ON substr(pos.word, pos.p, len(v.piece)) = v.piece
      |  GROUP BY 1, 2),
      |walk(word, p, n, unk) AS (
      |  SELECT word, 1, 0, 0 FROM uw
      |  UNION ALL
      |  SELECT w.word, w.p + COALESCE(lm.l, 1), w.n + 1,
      |    w.unk + CASE WHEN lm.l IS NULL THEN 1 ELSE 0 END
      |  FROM walk w LEFT JOIN lm ON lm.word = w.word AND lm.p = w.p
      |  WHERE w.p <= len(w.word)),
      |tok AS (SELECT word, n, unk FROM walk WHERE p > len(word))""".stripMargin

  val wordpieceEncodeSql: String =
    s"""WITH RECURSIVE vocab AS (SELECT piece FROM $vocabCsvSql),
       |$wordpieceWalkSql,
       |per_doc AS (SELECT dw.doc_id, CAST(SUM(t.n) AS BIGINT) AS n_tokens,
       |    COUNT(*) AS n_words, CAST(SUM(t.unk) AS BIGINT) AS n_unk
       |  FROM dw JOIN tok t USING (word) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(p.n_tokens, 0) AS n_tokens,
       |  COALESCE(p.n_words, 0) AS n_words, COALESCE(p.n_unk, 0) AS n_unk
       |FROM documents d LEFT JOIN per_doc p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Cross-family fertility comparison
  // --------------------------------------------------------------------

  /** One row per language comparing tokens-per-word across the three
    * tokenizer families: BPE and unigram from their committed fertility
    * fixtures (their trainers are the frozen artifact), WordPiece computed
    * LIVE over the frozen vocabulary ([[graft.ext.WordPiece
    * .fertilityByGroup]]) — the language-skew dashboard a multilingual
    * pipeline reads before picking a tokenizer.
    */
  def qTokenizerCompare(spark: SparkSession, dir: String): DataFrame = {
    val sfName = new java.io.File(dir).getName
    val fertSchema = StructType(Seq(
      StructField("lang", StringType), StructField("n_docs", LongType),
      StructField("n_words", LongType), StructField("n_tokens", LongType),
      StructField("fertility", DoubleType),
      StructField("chars_per_token", DoubleType)))
    def fixture(name: String, grpCol: String): DataFrame =
      spark.read.option("header", "true")
        .schema(StructType(StructField(grpCol, StringType) +:
          fertSchema.fields.drop(1)))
        .csv(s"${SparkEntry.FixtureRoot}/$sfName/$name.csv")
    val bpe = fixture("q_tokenizer_fertility", "lang")
      .select(col("lang"), col("fertility").as("fertility_bpe"))
    val uni = fixture("q_unigram_fertility", "grp")
      .select(col("grp").as("lang"), col("fertility").as("fertility_unigram"))
    val wp = graft.ext.WordPiece.fertilityByGroup(
        Tables.documents(spark, dir), "doc_id", "text", "lang",
        unigramVocab(spark, dir))
      .select(col("grp").as("lang"), col("n_words"),
        col("fertility").as("fertility_wordpiece"))
    wp.join(bpe, Seq("lang")).join(uni, Seq("lang"))
      .select(col("lang"), col("n_words"), col("fertility_bpe"),
        col("fertility_unigram"), col("fertility_wordpiece"))
      .orderBy(col("lang"))
  }

  val tokenizerCompareSql: String =
    s"""WITH RECURSIVE vocab AS (SELECT piece FROM $vocabCsvSql),
       |$wordpieceWalkSql,
       |wp AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(t.n) AS BIGINT) AS n_tokens
       |  FROM dw JOIN tok t USING (word)
       |  JOIN documents d ON d.doc_id = dw.doc_id
       |  GROUP BY 1),
       |bpe AS (SELECT lang, fertility AS fertility_bpe FROM read_csv(
       |  '${SparkEntry.FixtureRoot}/__GRAFT_SF__/q_tokenizer_fertility.csv',
       |  header=true, columns={'lang':'VARCHAR','n_docs':'BIGINT',
       |  'n_words':'BIGINT','n_tokens':'BIGINT','fertility':'DOUBLE',
       |  'chars_per_token':'DOUBLE'})),
       |uni AS (SELECT grp AS lang, fertility AS fertility_unigram
       |  FROM read_csv(
       |  '${SparkEntry.FixtureRoot}/__GRAFT_SF__/q_unigram_fertility.csv',
       |  header=true, columns={'grp':'VARCHAR','n_docs':'BIGINT',
       |  'n_words':'BIGINT','n_tokens':'BIGINT','fertility':'DOUBLE',
       |  'chars_per_token':'DOUBLE'}))
       |SELECT wp.lang, wp.n_words, bpe.fertility_bpe, uni.fertility_unigram,
       |  ROUND(CAST(wp.n_tokens AS DOUBLE) / wp.n_words, 6)
       |    AS fertility_wordpiece
       |FROM wp JOIN bpe USING (lang) JOIN uni USING (lang)
       |ORDER BY wp.lang""".stripMargin

  // --------------------------------------------------------------------
  // URL canonicalization / dedup
  // --------------------------------------------------------------------

  /** Deterministic messy crawl URL per document — every field derived from
    * the row, so both engines synthesize the SAME raw string and the
    * oracle genuinely tests the canonicalizer, not the generator. The
    * noise axes are exactly what [[graft.ext.UrlCanonical]] normalizes:
    * scheme/host case, www/cdn labels, default vs real ports, path case +
    * trailing slash, tracking params, parameter order.
    */
  private def withUrls(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val id = col("doc_id")
    val scheme = when(id % 3 === 0, "HTTPS").when(id % 3 === 1, "http")
      .otherwise("Https")
    val sub = when(id % 4 === 0, "WWW.").when(id % 4 === 1, "www.")
      .when(id % 4 === 2, "cdn.").otherwise("")
    val hostbase = concat(col("source"),
      when(id % 5 === 0, ".co.uk").when(id % 5 === 3, ".github.io")
        .otherwise(".com"))
    val hostcased = when(id % 7 < 3, upper(concat(sub, hostbase)))
      .otherwise(concat(sub, hostbase))
    val port = when(id % 12 === 0, ":443").when(id % 12 === 7, ":8080")
      .when(id % 12 === 4, ":80").otherwise("")
    val path = concat(
      when(id % 2 === 0, "/Docs/").otherwise("/docs/"), col("lang"),
      lit("/item"), (col("n_chars") % 2).cast("string"),
      when(id % 2 === 1, "/").otherwise(""))
    val qid = (id % 2).cast("string")
    val query = when(id % 3 === 0,
        concat(lit("?utm_source=feed&id="), qid, lit("&v=1")))
      .when(id % 3 === 1, concat(lit("?id="), qid, lit("&utm_campaign=x&ref=abc")))
      .otherwise(concat(lit("?v=1&id="), qid))
    d.select(id, concat(scheme, lit("://"), hostcased, port, path, query)
      .as("url"))
  }

  /** The same synthesis as a DuckDB CTE `u(doc_id, url)`. */
  private val urlGenSql: String =
    """u AS (SELECT doc_id,
      |  (CASE doc_id % 3 WHEN 0 THEN 'HTTPS' WHEN 1 THEN 'http'
      |     ELSE 'Https' END) || '://' ||
      |  (CASE WHEN doc_id % 7 < 3 THEN upper(sub || hostbase)
      |     ELSE sub || hostbase END) ||
      |  (CASE doc_id % 12 WHEN 0 THEN ':443' WHEN 7 THEN ':8080'
      |     WHEN 4 THEN ':80' ELSE '' END) ||
      |  (CASE doc_id % 2 WHEN 0 THEN '/Docs/' ELSE '/docs/' END) || lang ||
      |  '/item' || CAST(n_chars % 2 AS VARCHAR) ||
      |  (CASE doc_id % 2 WHEN 1 THEN '/' ELSE '' END) ||
      |  (CASE doc_id % 3
      |     WHEN 0 THEN '?utm_source=feed&id=' ||
      |       CAST(doc_id % 2 AS VARCHAR) || '&v=1'
      |     WHEN 1 THEN '?id=' || CAST(doc_id % 2 AS VARCHAR) ||
      |       '&utm_campaign=x&ref=abc'
      |     ELSE '?v=1&id=' || CAST(doc_id % 2 AS VARCHAR) END) AS url
      |FROM (SELECT doc_id, lang, n_chars,
      |    CASE doc_id % 4 WHEN 0 THEN 'WWW.' WHEN 1 THEN 'www.'
      |      WHEN 2 THEN 'cdn.' ELSE '' END AS sub,
      |    source || CASE WHEN doc_id % 5 = 0 THEN '.co.uk'
      |      WHEN doc_id % 5 = 3 THEN '.github.io'
      |      ELSE '.com' END AS hostbase
      |  FROM documents))""".stripMargin

  /** DuckDB replay of [[graft.ext.UrlCanonical.canonicalize]] over `u`
    * (foldPathCase = true, the synthetic crawl's case noise is
    * intentional) — produces `c(doc_id, url, url_host,
    * registrable_domain, canonical_url)`. The registrable domain replays
    * the [[graft.ext.PublicSuffix]] longest-matching-suffix algorithm
    * over the SAME committed `fixtures/psl.csv` rule table the engine
    * broadcasts: exception beats all, else max labels among exact and
    * one-extra-label wildcard matches, implicit `*` when nothing matches.
    */
  private val urlCanonSql: String =
    s"""pslr AS (SELECT suffix, MAX(he) AS he, MAX(hw) AS hw,
      |    MAX(hx) AS hx FROM (
      |  SELECT CASE WHEN starts_with(rule, '!') THEN substr(rule, 2)
      |      WHEN starts_with(rule, '*.') THEN substr(rule, 3)
      |      ELSE rule END AS suffix,
      |    CASE WHEN starts_with(rule, '!') OR starts_with(rule, '*.')
      |      THEN 0 ELSE 1 END AS he,
      |    CASE WHEN starts_with(rule, '*.') THEN 1 ELSE 0 END AS hw,
      |    CASE WHEN starts_with(rule, '!') THEN 1 ELSE 0 END AS hx
      |  FROM read_csv('${SparkEntry.FixtureRoot}/psl.csv', header=true,
      |    columns={'rule':'VARCHAR','section':'VARCHAR'}))
      |  GROUP BY suffix),
      |parts AS (SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |      AS scheme,
      |    lower(regexp_extract(url, '^[^/]*//([^/?#]*)', 1)) AS hostport,
      |    regexp_extract(url, '^[^/]*//[^/?#]*([^?#]*)', 1) AS rawpath,
      |    regexp_extract(url, '\\?([^#]*)', 1) AS rawq
      |  FROM u),
      |hp AS (SELECT *,
      |    CASE WHEN strpos(hostport, ':') > 0
      |      THEN split_part(hostport, ':', 1) ELSE hostport END AS host0,
      |    CASE WHEN strpos(hostport, ':') > 0
      |      THEN regexp_extract(hostport, ':([^:]*)$$', 1) ELSE '' END
      |      AS port
      |  FROM parts),
      |hh AS (SELECT *, regexp_replace(host0, '^www\\.', '') AS url_host,
      |    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
      |      OR (scheme = 'https' AND port = '443')
      |      THEN '' ELSE ':' || port END AS portout
      |  FROM hp),
      |pp AS (SELECT *,
      |    CASE WHEN regexp_replace(lower(rawpath), '/+$$', '') = ''
      |      THEN '/' ELSE regexp_replace(lower(rawpath), '/+$$', '') END
      |      AS path,
      |    array_to_string(list_sort(list_filter(string_split(rawq, '&'),
      |      x -> x <> '' AND NOT starts_with(x, 'utm_')
      |        AND NOT starts_with(x, 'fbclid')
      |        AND NOT starts_with(x, 'gclid')
      |        AND NOT starts_with(x, 'msclkid')
      |        AND NOT starts_with(x, 'ref='))), '&') AS qc
      |  FROM hh),
      |lab AS (SELECT *, string_split(url_host, '.') AS labels,
      |    len(string_split(url_host, '.')) AS nl FROM pp),
      |cand AS (SELECT doc_id, nl, i,
      |    array_to_string(labels[nl - i + 1:nl], '.') AS cnd
      |  FROM (SELECT doc_id, nl, labels,
      |      unnest(generate_series(1, least(nl,
      |        (SELECT MAX(len(string_split(suffix, '.'))) FROM pslr))))
      |        AS i FROM lab)),
      |mm AS (SELECT doc_id,
      |    MAX(CASE WHEN hx = 1 THEN i - 1 END) AS exc,
      |    MAX(CASE WHEN hw = 1 AND nl > i THEN i + 1 END) AS wc,
      |    MAX(CASE WHEN he = 1 THEN i END) AS ex
      |  FROM cand JOIN pslr ON cnd = suffix GROUP BY 1),
      |psn AS (SELECT l.doc_id, CASE WHEN m.exc IS NOT NULL THEN m.exc
      |    ELSE COALESCE(GREATEST(m.wc, m.ex), 1) END AS ps
      |  FROM lab l LEFT JOIN mm m USING (doc_id)),
      |c AS (SELECT l.doc_id, l.url, l.url_host,
      |    CASE WHEN l.nl > p.ps
      |      THEN array_to_string(l.labels[l.nl - p.ps:l.nl], '.')
      |      ELSE l.url_host END AS registrable_domain,
      |    l.scheme || '://' || l.url_host || l.portout || l.path ||
      |      CASE WHEN l.qc = '' THEN '' ELSE '?' || l.qc END
      |      AS canonical_url
      |  FROM lab l JOIN psn p USING (doc_id))""".stripMargin

  /** Per-doc canonicalization readout ([[graft.ext.UrlCanonical
    * .canonicalize]]): raw URL → canonical URL + host + registrable
    * domain. Scan-side string expressions only — zero shuffles.
    */
  def qUrlCanonical(spark: SparkSession, dir: String): DataFrame =
    graft.ext.UrlCanonical.canonicalize(withUrls(spark, dir), "url",
        foldPathCase = true)
      .select(col("doc_id"), col("url"), col("url_host"),
        col("registrable_domain"), col("canonical_url"))
      .orderBy(col("doc_id"))

  val urlCanonicalSql: String =
    s"""WITH $urlGenSql,
       |$urlCanonSql
       |SELECT doc_id, url, url_host, registrable_domain, canonical_url
       |FROM c ORDER BY doc_id""".stripMargin

  /** Canonical-URL dup clusters ([[graft.ext.UrlCanonical.dupClusters]]):
    * pages fetched under ≥2 raw variants, collapsed by the canonicalizer —
    * the cheap first dedup pass that runs BEFORE any content
    * fingerprinting. One groupBy shuffle on the canonical key.
    */
  def qUrlDupClusters(spark: SparkSession, dir: String): DataFrame =
    graft.ext.UrlCanonical.dupClusters(withUrls(spark, dir), "url", "doc_id",
        foldPathCase = true)
      .orderBy(col("canonical_url"))

  val urlDupClustersSql: String =
    s"""WITH $urlGenSql,
       |$urlCanonSql
       |SELECT canonical_url, COUNT(*) AS cluster_size,
       |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants,
       |  MIN(doc_id) AS cluster_id, MAX(doc_id) AS max_id
       |FROM c GROUP BY 1 HAVING COUNT(*) >= 2
       |ORDER BY canonical_url""".stripMargin

  /** Per-registrable-domain crawl stats ([[graft.ext.UrlCanonical
    * .domainStats]]): how much of each site's crawl volume
    * canonicalization collapses (`dup_rate`) and how many distinct hosts
    * (www/cdn/...) feed it.
    */
  def qUrlDomainStats(spark: SparkSession, dir: String): DataFrame =
    graft.ext.UrlCanonical.domainStats(withUrls(spark, dir), "url",
        foldPathCase = true)
      .orderBy(col("registrable_domain"))

  val urlDomainStatsSql: String =
    s"""WITH $urlGenSql,
       |$urlCanonSql
       |SELECT registrable_domain, COUNT(*) AS n_docs,
       |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_urls,
       |  CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
       |  CAST(COUNT(DISTINCT url_host) AS BIGINT) AS n_hosts,
       |  ROUND(1.0 - CAST(COUNT(DISTINCT canonical_url) AS DOUBLE) /
       |    COUNT(DISTINCT url), 6) AS dup_rate
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------
  // Crawl-budget allocation and dup-cluster representatives
  // --------------------------------------------------------------------

  /** Max-min fair crawl budget over registrable domains
    * ([[graft.ext.Waterfill.maxMinFair]], budget = half the corpus):
    * every domain keeps its full demand unless it sits above the water
    * level — the politeness-bounded fetch-quota split a crawler computes
    * per cycle. All-integer feasibility; ONE double division (the water
    * level) at the readout.
    */
  def qCrawlBudget(spark: SparkSession, dir: String): DataFrame = {
    // fetch segments = site × language section; byte demands spread ~5×
    // across segments, so half the budget saturates the heavy ones while
    // light ones keep their full demand — a real mixed water level
    val dem = graft.ext.UrlCanonical
      .canonicalize(withUrls(spark, dir), "url", foldPathCase = true)
      .join(Tables.documents(spark, dir).select(col("doc_id"),
        col("n_chars"), col("lang")), Seq("doc_id"))
      .groupBy(concat(col("registrable_domain"), lit("/"), col("lang"))
        .as("segment"))
      .agg(sum(col("n_chars")).as("demand"))
    graft.ext.Waterfill.maxMinFair(dem, "segment", "demand",
        budgetFrac = 0.5)
      .orderBy(col("segment"))
  }

  val crawlBudgetSql: String =
    s"""WITH $urlGenSql,
       |$urlCanonSql,
       |dem AS (SELECT registrable_domain || '/' || d.lang AS segment,
       |    CAST(SUM(d.n_chars) AS BIGINT) AS demand
       |  FROM c JOIN documents d USING (doc_id) GROUP BY 1),
       |r AS (SELECT segment, demand,
       |    ROW_NUMBER() OVER (ORDER BY demand, segment) AS rnk,
       |    CAST(SUM(demand) OVER (ORDER BY demand, segment
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS p
       |  FROM dem),
       |nb AS (SELECT COUNT(*) AS n,
       |    CAST(FLOOR(CAST(SUM(demand) AS DOUBLE) * 0.5) AS BIGINT) AS b
       |  FROM dem),
       |k AS (SELECT COALESCE(MAX(CASE WHEN p + (n - rnk) * demand <= b
       |      THEN rnk END), 0) AS ks FROM r CROSS JOIN nb),
       |kp AS (SELECT ks, COALESCE((SELECT p FROM r WHERE rnk = ks), 0) AS pk
       |  FROM k)
       |SELECT segment, demand, rnk,
       |  ROUND(CASE WHEN rnk <= ks THEN CAST(demand AS DOUBLE)
       |    ELSE CAST(b - pk AS DOUBLE) / (n - ks) END, 6) AS allocated,
       |  rnk > ks AS saturated
       |FROM r CROSS JOIN nb CROSS JOIN kp
       |ORDER BY segment""".stripMargin

  /** Quality-aware representative per canonical-URL dup cluster: within
    * each ≥2-variant cluster keep the longest document (ties → smallest
    * doc id) and count what dedup drops — the "which copy survives"
    * policy every curation pipeline must pin down, made deterministic.
    * One groupBy on the canonical key; the argmax is a struct min, no
    * window.
    */
  def qUrlClusterReps(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.ext.UrlCanonical
      .canonicalize(withUrls(spark, dir), "url", foldPathCase = true)
      .join(Tables.documents(spark, dir).select(col("doc_id"),
        col("n_chars")), Seq("doc_id"))
    c.groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("cluster_size"),
        min(struct((-col("n_chars")).as("nn"), col("doc_id").as("id")))
          .as("__rep"))
      .filter(col("cluster_size") >= 2)
      .select(col("canonical_url"), col("cluster_size"),
        col("__rep.id").as("rep_doc"), (-col("__rep.nn")).as("rep_chars"),
        (col("cluster_size") - 1).as("n_dropped"))
      .orderBy(col("canonical_url"))
  }

  val urlClusterRepsSql: String =
    s"""WITH $urlGenSql,
       |$urlCanonSql,
       |j AS (SELECT c.canonical_url, c.doc_id, d.n_chars
       |  FROM c JOIN documents d USING (doc_id)),
       |rk AS (SELECT canonical_url, doc_id, n_chars,
       |    COUNT(*) OVER (PARTITION BY canonical_url) AS cluster_size,
       |    ROW_NUMBER() OVER (PARTITION BY canonical_url
       |      ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM j)
       |SELECT canonical_url, cluster_size, doc_id AS rep_doc,
       |  n_chars AS rep_chars, cluster_size - 1 AS n_dropped
       |FROM rk WHERE rn = 1 AND cluster_size >= 2
       |ORDER BY canonical_url""".stripMargin

  // --------------------------------------------------------------------
  // Leakage-safe domain-grouped split audit
  // --------------------------------------------------------------------

  /** Group-aware train/val/test assignment: the split key is the
    * REGISTRABLE DOMAIN, not the document ([[graft.ext.Splits
    * .splitLabel]] over the domain string), so every page of a site lands
    * in one split — the near-dup/template leakage channel a per-document
    * split leaves wide open. The readout reports per-split volume plus
    * the counterfactual: how many domains a naive doc-keyed split would
    * scatter across splits (`n_leaky_domains_docsplit` — the leak this
    * operator exists to zero out). Scan-side md5 bucket expressions;
    * two aggregates; scalars broadcast back.
    */
  def qDomainSplit(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.ext.UrlCanonical.canonicalize(withUrls(spark, dir), "url",
        foldPathCase = true)
      .select(col("doc_id"), col("registrable_domain"))
    val byDomain = c.withColumn("split",
      graft.ext.Splits.splitLabel(col("registrable_domain"), 80, 10))
    val naive = c.withColumn("split",
      graft.ext.Splits.splitLabel(col("doc_id"), 80, 10))
    val leaky = naive.groupBy(col("registrable_domain"))
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1)
      .agg(count(lit(1)).as("n_leaky_domains_docsplit"))
    val per = byDomain.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("registrable_domain")).as("n_domains"))
    // total folds from the ≤3-row per-split aggregate — no third scan
    val tot = per.agg(sum(col("n_docs")).as("tot"))
    per.crossJoin(broadcast(tot)).crossJoin(broadcast(leaky))
      .select(col("split"), col("n_docs"), col("n_domains"),
        round(col("n_docs").cast("double") / col("tot"), 6).as("pct_docs"),
        col("n_leaky_domains_docsplit"))
      .orderBy(col("split"))
  }

  val domainSplitSql: String =
    s"""WITH $urlGenSql,
       |$urlCanonSql,
       |t AS (SELECT doc_id, registrable_domain,
       |    ('0x' || substr(md5(registrable_domain), 1, 8))::BIGINT % 100
       |      AS bd,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |      % 100 AS bi
       |  FROM c),
       |s AS (SELECT CASE WHEN bd < 80 THEN 'train' WHEN bd < 90 THEN 'val'
       |    ELSE 'test' END AS split, registrable_domain FROM t),
       |per AS (SELECT split, COUNT(*) AS n_docs,
       |    CAST(COUNT(DISTINCT registrable_domain) AS BIGINT) AS n_domains
       |  FROM s GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS tot FROM s),
       |leaky AS (SELECT COUNT(*) AS n_leaky_domains_docsplit FROM (
       |  SELECT registrable_domain FROM (
       |    SELECT registrable_domain, CASE WHEN bi < 80 THEN 'train'
       |      WHEN bi < 90 THEN 'val' ELSE 'test' END AS sp FROM t)
       |  GROUP BY 1 HAVING COUNT(DISTINCT sp) > 1))
       |SELECT split, n_docs, n_domains,
       |  ROUND(CAST(n_docs AS DOUBLE) / tot, 6) AS pct_docs,
       |  n_leaky_domains_docsplit
       |FROM per CROSS JOIN tot CROSS JOIN leaky
       |ORDER BY split""".stripMargin

  // --------------------------------------------------------------------
  // Greedy max-coverage selection
  // --------------------------------------------------------------------

  /** Pick the 6 documents whose word-trigram sets jointly cover the most
    * of the corpus ([[graft.ext.MaxCoverage.greedySelect]]) — the
    * coverage-based data-selection primitive. Spark builds the
    * per-candidate feature sets with one exchange and one checkpoint, then
    * runs each round as two narrow jobs against the broadcast covered set.
    * The oracle unrolls the six greedy rounds as MATERIALIZED CTEs
    * (anti-join gains, LIMIT-1 argmax with the same ties-to-smallest-id
    * order, set-union coverage).
    */
  def qMaxCoverage(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.WordShingles.shingles(col("text"), 3))
          .as("f"))
    graft.ext.MaxCoverage.greedySelect(items, "doc_id", "f", k = 6)
      .orderBy(col("round"))
  }

  val maxCoverageSql: String = {
    val rounds = (1 to 6).map { r =>
      s"""g$r AS MATERIALIZED (SELECT i.doc_id, COUNT(*) AS g FROM items i
         |  ANTI JOIN cov${r - 1} c ON i.f = c.f GROUP BY 1),
         |w$r AS MATERIALIZED (SELECT doc_id, g FROM g$r
         |  ORDER BY g DESC, doc_id LIMIT 1),
         |cov$r AS MATERIALIZED (SELECT f FROM cov${r - 1}
         |  UNION SELECT i.f FROM items i JOIN w$r USING (doc_id))""".stripMargin
    }.mkString(",\n")
    val readout = (1 to 6).map { r =>
      s"""SELECT $r AS round, doc_id, g AS marginal_gain,
         |  (SELECT COUNT(*) FROM cov$r) AS covered_total FROM w$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH items AS MATERIALIZED (SELECT DISTINCT doc_id,
       |    unnest(list_transform(generate_series(1, greatest(len(l) - 2, 1)),
       |      i -> array_to_string(l[i:i+2], ' '))) AS f
       |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
       |cov0 AS (SELECT f FROM items WHERE 1 = 0),
       |$rounds
       |SELECT * FROM (
       |$readout
       |) ORDER BY round""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_max_coverage" -> (qMaxCoverage _),
    "q_wordpiece_encode" -> (qWordpieceEncode _),
    "q_tokenizer_compare" -> (qTokenizerCompare _),
    "q_url_canonical" -> (qUrlCanonical _),
    "q_url_dup_clusters" -> (qUrlDupClusters _),
    "q_url_domain_stats" -> (qUrlDomainStats _),
    "q_crawl_budget" -> (qCrawlBudget _),
    "q_url_cluster_reps" -> (qUrlClusterReps _),
    "q_domain_split" -> (qDomainSplit _)
  )

  def oracleSql: Map[String, String] = Map(
    "q_max_coverage" -> maxCoverageSql,
    "q_wordpiece_encode" -> wordpieceEncodeSql,
    "q_tokenizer_compare" -> tokenizerCompareSql,
    "q_url_canonical" -> urlCanonicalSql,
    "q_url_dup_clusters" -> urlDupClustersSql,
    "q_url_domain_stats" -> urlDomainStatsSql,
    "q_crawl_budget" -> crawlBudgetSql,
    "q_url_cluster_reps" -> urlClusterRepsSql,
    "q_domain_split" -> domainSplitSql
  )
}
