package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** One gate: a Spark plan over a testdata directory, its DuckDB twin
  * and its bench stamp.
  *
  * @param stampSec quiet-machine seconds at sf0.1, `local[32]`, as in
  *   BASELINE.md's bench table. `Bench` emits each gate's ratio to it
  *   and flags a regression when ratio > 1.3 AND delta > 0.5 s, each
  *   flag annotated with its local-window load. Method (round 13,
  *   quiet box): per gate, the MEDIAN of (previous stamp, run1, run2)
  *   over two fresh quiet full cold runs (538.3 s @ load_ratio 1.50,
  *   622.4 @ 1.08, 2026-08-16), so the old stamp mediates where the
  *   fresh runs disagree and is outvoted where they agree. Gates that
  *   ran quietly slower than their loaded-box stamp in both runs
  *   (sim_docs_tfidf, rel_bfs_frontier, dedup_assign, dedup_semantic:
  *   tree-growth/JVM-state drift, not plan changes) were re-stamped up
  *   to their quiet cost. Exceptions: the round-13 gates carry
  *   landing-day single-run stamps (load_ratio 0.95, BENCH_RUNS.jsonl
  *   2026-08-17T00:57; rel_ab_cuped and samp_dsir_external the steady
  *   runs 2-3 of a one-gate timing); text_lr_score/_eval/_auc/
  *   _from_artifact their round-12 pre-merge stamps; rel_gini,
  *   rel_revenue_deciles, samp_curriculum and samp_token_budget their
  *   round-14 two-pass-rank cost (2026-08-19, load_ratio 0.68; the
  *   local cost rose by design, OPTIMIZATION_r14.md Task 5).
  *   Re-stamp with tools/restamp.py, which rewrites these literals.
  * @param oracleSql DuckDB SQL over the same parquet tables, with the
  *   same column names and rounding as `plan`
  * @param plan the gate's DataFrame for (session, sfDir)
  */
final case class Gate(name: String, stampSec: Double, oracleSql: String)(
    val plan: (SparkSession, String) => DataFrame)

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 has a [[Gate]] in
  * `gates`, whose DuckDB twin runs over the same parquet tables; the
  * driver reads them as `queries` and `oracleSql`. Rounding in both
  * sides uses `floor(x*100+0.5)/100` (identical IEEE-754 ops in Spark
  * and DuckDB) so value hashes match bit-for-bit — see
  * graft.functions.Fns.round2.
  */
object SparkEntry {

  import org.apache.spark.sql.functions.{col, concat, expr, get, hex, length, lit, md5, pmod}

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def docs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")

  /** Committed wikiextractor-format dump fixture (one `<doc …>…</doc>`
    * line per document) — the raw-input surface the parquet `documents`
    * table can't exercise: the `wiki_*` gates run WikiText.parse (P1/P2,
    * the reference's §1.3 quirks: literal-'>' body truncation and the
    * trailing-`</doc` token fusion) from raw lines, and the DuckDB twin
    * re-parses the SAME file with regexp/string_split equivalents.
    * Absolute path: both this JVM and the driver's DuckDB process read
    * it straight off the repo checkout. */
  /** Checkout root shared by the JVM fixture readers AND the generated
    * DuckDB `read_text` SQL (round-8 ADVICE: no literal checkout
    * path). Both processes run from the repo root — Verify/Bench via
    * sbt's forked run, the driver's DuckDB gate over the oracle JSON
    * Verify emitted from the same working directory — so `user.dir` is
    * the right default; `-Dgraft.repo.root` overrides for anything
    * launched elsewhere. */
  val RepoRoot: String =
    sys.props.getOrElse("graft.repo.root", System.getProperty("user.dir"))

  val WikiFixturePath = s"$RepoRoot/src/main/resources/graft/wiki_dump.txt"

  private def wikiDocs(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.{length, trim}
    operators.WikiText.parse(
      s.read.text(WikiFixturePath)
        .filter(length(trim(col("value"))) > 0))
  }

  /** Committed HTML-pages fixture (one full page per line, CommonCrawl
    * WET-shaped) — pins every HtmlText.extract rule: region priority
    * (article > main > body > whole page), each boilerplate block tag,
    * comment-before-block order, entity decode order (`&amp;lt;` →
    * literal `&lt;`), uppercase tags, http-equiv and single-quoted
    * charset forms, the attribute-quoted-`>` truncation quirk, a fake
    * `</scriptx>` close inside a script, first-article-wins, and the
    * empty page. Absolute path: this JVM and the driver's DuckDB read
    * the same checkout file (the WikiFixturePath pattern). */
  val HtmlFixturePath =
    s"$RepoRoot/src/main/resources/graft/html_pages.txt"

  /** Committed MULTI-LINE per-file HTML fixture (real pages are
    * multi-line; the one-page-per-line fixture above cannot exercise
    * that): four .html files read via Spark's `wholetext` text source
    * (one row per FILE) and DuckDB's read_text glob. Pins tags and
    * comments spanning lines, multi-line scripts/styles inside the
    * region, and the same entity/charset rules on the per-file path. */
  val HtmlSiteDir =
    s"$RepoRoot/src/main/resources/graft/html_site"

  private def htmlPages(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.{length, trim}
    s.read.text(HtmlFixturePath)
      .filter(length(trim(col("value"))) > 0)
  }

  /** Per-JVM scratch root for gate queries that must round-trip through
    * a filesystem sink (foreachBatch, ", "-CSV compat). Prior
    * invocations' dirs are reaped first — repeated bench/verify runs
    * must not accumulate copies in /tmp — and the root is pid-suffixed
    * so concurrent graft processes never delete each other's in-flight
    * output. Returns a fresh empty directory. */
  private def scratchDir(tag: String): String = {
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${ProcessHandle.current().pid()}")
    graft.streaming.EventsStream.deleteTree(root.toString)
    java.nio.file.Files.createDirectories(root)
    java.nio.file.Files.createTempDirectory(root, "run").toString
  }

  /** Task-1 probe set for the gate queries — words that exist in every
    * testdata documents vocabulary (all three SFs share the same 31-word
    * vocab), so q3_task1 exercises P6/P12/J4 on real rows instead of
    * hash-matching an empty set. */
  val TestProbeWords: Seq[String] =
    Seq("join", "scan", "window", "merge", "order")

  /** Pinned pivot value list for rel_pivot (shared by the Spark plan
    * and the oracle twin) — the events event_type domain. */
  val EventTypes: Seq[String] =
    Seq("click", "error", "purchase", "signup", "view")

  /** Split weights / stratified fractions for the sampling gate queries
    * (shared by the Spark plan and the oracle twin). */
  val SplitWeights: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  val StratFractions: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 1.0, "zh" -> 0.1)
  val MixTargets: Map[String, Double] =
    Map("en" -> 0.4, "de" -> 0.3, "zh" -> 0.3)
  /** Per-lang epoch factors for samp_repeat_epochs — integer,
    * fractional, sub-1, and absent (es drops) cases all exercised. */
  val EpochFactors: Map[String, Double] =
    Map("en" -> 1.0, "de" -> 2.5, "fr" -> 2.0, "zh" -> 0.5)
  /** Token budget for the samp_token_budget gates — keeps a strict,
    * non-empty subset at every test SF (total n_chars ≈ 150k at
    * sf0.001/0.01, ≈ 1.5M at sf0.1). */
  val TokenBudget: Long = 60000L

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TfIdfOps.tfIdfPipeline(docs(spark, "/root/testdata/sf0.001"))

  /** Every gate's Spark plan, keyed by gate name (driver contract). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.plan).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. NOTHING is omitted: every gate query —
    * including the stubbed-codec multimodal path (its stub decoder is
    * bounded modular byte arithmetic, replayed over hex(blob)), the
    * simhash / hash-embed bucketing (md5 basis, engine-portable) and
    * the LSH top-k (sign-bucket + Hamming-1 probes, plain SQL) — has a
    * full value-hash twin. */
  def oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracleSql).toMap

  /** One gate per implemented operator from SURVEY.md §2, each holding
    * its plan, its oracle twin and its stamp. A `lazy val`: the twins
    * read shared-SQL vals declared below (`tfCtes`, `capSql`, …), which
    * a strict val up here would read as null. Names must be distinct
    * (`RegistrySpec`); `toMap` above would silently keep the last. */
  lazy val gates: Seq[Gate] = Seq(
    // --- core reference surface (SURVEY.md §2.6 Q1–Q6) ---
    Gate("q1_tokens", 0.19,
      s"WITH $tokenCtes SELECT doc_id, word FROM tokens") { (s, dir) =>
      WikiText.tokens(docs(s, dir))
    },
    Gate("q2_dictionary", 0.81,
      s"""WITH $dictCtes SELECT word, "rank", cnt FROM dict""") { (s, dir) =>
      TfIdfOps.dictionary(docs(s, dir))
    },
    // probe words parameterized to terms present in the synthetic corpus
    // vocabulary (the reference's literal 5 words appear in no testdata
    // doc, which made the probe filter pass vacuously on 0 rows); the
    // reference defaults stay on TfIdfOps.ProbeWords / the CLI
    Gate("q3_task1", 0.55,
      s"""WITH $dictCtes
         |SELECT upper(word) AS word, "rank", cnt FROM dict
         |WHERE word IN (${TestProbeWords.map(w => s"'$w'").mkString(", ")})"""
        .stripMargin) { (s, dir) =>
      TfIdfOps.task1(docs(s, dir), probes = TestProbeWords)
    },
    Gate("q4_tf", 0.92,
      s"WITH $tfCtes SELECT doc_id, word, cnt, tf FROM tf") { (s, dir) =>
      TfIdfOps.tf(docs(s, dir))
    },
    Gate("q5_idf", 1.02,
      s"WITH $idfCtes SELECT word, idf FROM idf") { (s, dir) =>
      val d = docs(s, dir)
      TfIdfOps.idf(TfIdfOps.tf(d), TfIdfOps.corpusSize(d))
    },
    Gate("q6_tfidf", 1.12, q6Sql) { (s, dir) =>
      TfIdfOps.tfIdfPipeline(docs(s, dir))
    },

    // --- raw-dump parse surface (S1/P1/P2; SURVEY §1.3 quirks) ---
    // Rooted at spark.read.text over the committed wikiextractor
    // fixture, NOT the parquet documents table: the gate covers a user's
    // actual first input path (raw dump lines → parse → pipeline).
    // raw-dump parse gates: the same token/tf/idf chains, rooted at the
    // fixture-file parse CTE instead of the parquet documents table
    Gate("wiki_parse", 0.03,
      s"WITH $wikiDocCtes SELECT doc_id, text AS body FROM documents") { (s, _) =>
      wikiDocs(s)
    },
    // P1/P2 at corpus volume (the fixture gates above run over 10
    // committed lines only): render the documents table into
    // wikiextractor dump lines, write them through the text sink, read
    // them back as the raw line source, and run the SAME parse. The
    // twin re-renders and re-parses relationally, so the gate pins the
    // whole render→write→read→parse loop — including the trailing
    // '</doc' token fusion, which fires on EVERY doc here.
    // Render+parse replay over the real corpus: build the same dump
    // line, split on '>', take element 2 (1-based), strip tags, trim —
    // the literal WikiText.parse semantics including the '</doc'
    // fusion on every '>'-free body.
    Gate("wiki_parse_scale", 0.45,
      """WITH lines AS (
        |  SELECT '<doc id="' || CAST(doc_id AS VARCHAR)
        |    || '" url="https://example.org/doc/'
        |    || CAST(doc_id AS VARCHAR)
        |    || '" title="d' || CAST(doc_id AS VARCHAR) || '">'
        |    || text || '</doc' AS value
        |  FROM documents
        |)
        |SELECT regexp_extract(value, '<doc id="([^"]+)" url="', 1)
        |    AS doc_id,
        |  trim(regexp_replace(string_split(value, '>')[2],
        |    '<[^>]+>', '', 'g')) AS body
        |FROM lines""".stripMargin) { (s, dir) =>
      val out = scratchDir("wikidump")
      docs(s, dir).select(concat(
          lit("<doc id=\""), col("doc_id").cast("string"),
          lit("\" url=\"https://example.org/doc/"),
          col("doc_id").cast("string"),
          lit("\" title=\"d"), col("doc_id").cast("string"), lit("\">"),
          col("text"), lit("</doc")).as("value"))
        .write.mode("overwrite").text(out)
      WikiText.parse(s.read.text(out))
    },
    Gate("wiki_tokens", 0.04,
      s"WITH $wikiDocCtes, $tokenCtes SELECT doc_id, word FROM tokens") { (s, _) =>
      WikiText.tokens(wikiDocs(s), textCol = "body")
    },
    Gate("wiki_tfidf", 0.33,
      s"""WITH $wikiDocCtes, $idfCtes
         |SELECT t.doc_id, t.word, t.cnt, t.tf,
         |       floor(t.tf * i.idf * 100 + 0.5) / 100 AS tf_idf
         |FROM tf t JOIN idf i USING (word)""".stripMargin) { (s, _) =>
      TfIdfOps.tfIdfPipeline(wikiDocs(s), textCol = "body")
    },

    // --- raw-HTML ingestion (CommonCrawl-shaped; round-7 verdict #2) ---
    // Fixture gate: every extraction rule pinned on the committed
    // 15-page file (see HtmlFixturePath scaladoc); the twin replays the
    // identical regex chain over the same file.
    // HTML ingestion twins: the fixture-file extract and the
    // corpus-volume render+extract replay (see htmlExtractSelect).
    Gate("text_html_extract", 0.1,
      s"""WITH hlines AS (
         |  SELECT unnest(string_split(content, chr(10))) AS value
         |  FROM read_text('$HtmlFixturePath')
         |), hpages AS (
         |  SELECT value FROM hlines WHERE length(trim(value)) > 0
         |)
         |${htmlExtractSelect("hpages")}""".stripMargin) { (s, _) =>
      HtmlText.extract(htmlPages(s))
    },
    // Per-FILE multi-line ingestion (wholetext source): one row per
    // .html file — the (?s)-flagged regex chain must handle tags,
    // comments and blocks spanning lines
    // Per-file multi-line twin: one row per .html file via the
    // read_text glob.
    Gate("text_html_extract_files", 0.1,
      s"""WITH hpages AS (
         |  SELECT content AS value
         |  FROM read_text('$HtmlSiteDir/*.html')
         |)
         |${htmlExtractSelect("hpages")}""".stripMargin) { (s, _) =>
      HtmlText.extract(
        s.read.option("wholetext", "true").text(HtmlSiteDir))
    },
    // Corpus volume (the wiki_parse_scale pattern): render every
    // documents row into a full template page — head script, header/
    // nav/aside/footer boilerplate, canonical link — write through the
    // text sink, read back as raw lines, extract. Pins the whole
    // render→write→read→extract loop with every removal rule firing
    // on every page; the twin renders + extracts relationally.
    Gate("text_html_extract_scale", 0.51,
      s"""WITH $htmlRenderCte
         |${htmlExtractSelect("hpages")}""".stripMargin) { (s, dir) =>
      val out = scratchDir("htmlpages")
      HtmlText.renderPages(docs(s, dir))
        .write.mode("overwrite").text(out)
      HtmlText.extract(s.read.text(out))
    },
    // Ingestion QA composition: declared-language attribute vs the
    // n-gram detector over the EXTRACTED main content — the
    // lang-agreement audit a crawl pipeline runs before trusting
    // either signal. zh pages fall to 'en' (the detector's 4-language
    // stopword sets score 0 everywhere and ties break en-first) —
    // exactly the disagreement row the audit exists to surface.
    // URL canonicalization dedup (the mm_phash cloned-corpus pattern):
    // four in-plan variants per doc — host/scheme case + default port,
    // tracking params, fragment, trailing slash — MUST collapse to
    // exactly one canonical URL per doc (n_variants = 4)
    // URL-canonicalization twin: the same four variants per doc and
    // the same regex chain (dedupUrlCanonSql shares Dedup's pattern
    // constants; replacements use DuckDB's \1 syntax, 'g' only where
    // a pattern can match more than once).
    Gate("dedup_url", 0.6,
      s"""WITH v AS (
         |  SELECT doc_id, unnest([
         |    'https://example.org/p/' || CAST(doc_id AS VARCHAR),
         |    'https://example.org/p/' || CAST(doc_id AS VARCHAR) || '/',
         |    'HTTPS://EXAMPLE.ORG:443/p/' || CAST(doc_id AS VARCHAR) ||
         |      '?utm_source=feed&utm_medium=rss',
         |    'https://example.org/p/' || CAST(doc_id AS VARCHAR) || '#top'
         |  ]) AS url
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, $dedupUrlCanonSql AS url_canon FROM v
         |)
         |SELECT url_canon, min(doc_id) AS doc_id,
         |  count(*) AS n_variants
         |FROM c GROUP BY 1""".stripMargin) { (s, dir) =>
      val base = concat(lit("https://example.org/p/"),
        col("doc_id").cast("string"))
      docs(s, dir).select(col("doc_id"),
          org.apache.spark.sql.functions.explode(
            org.apache.spark.sql.functions.array(
            base,
            concat(base, lit("/")),
            concat(lit("HTTPS://EXAMPLE.ORG:443/p/"),
              col("doc_id").cast("string"),
              lit("?utm_source=feed&utm_medium=rss")),
            concat(base, lit("#top")))).as("url"))
        .select(col("doc_id"),
          Dedup.canonicalUrl(col("url")).as("url_canon"))
        .groupBy("url_canon")
        .agg(org.apache.spark.sql.functions.min(col("doc_id"))
            .as("doc_id"),
          org.apache.spark.sql.functions.count(lit(1)).as("n_variants"))
    },

    // Streaming ingestion composition: the SAME HtmlText.extract plan
    // over a text-file STREAM (stateless map ⇒ streaming-composable),
    // per-language page counts via the staged-replay harness
    // crawl-ingest dedup composition (round-8 verdict #7): stream
    // extract -> canonicalize URL -> dropDuplicates; every page staged
    // twice (canonical + tracking-noise recrawl variant), one survivor
    // per canonical URL (see EventsStream.urlDedupIngest)
    // Stream-URL-dedup twin: render both variants (the canonical page
    // and the tracking-noise recrawl, same regex constants, \1 for
    // Spark's $1), extract, canonicalize, DISTINCT — the AvailableNow
    // drain of extract→canonicalUrl→dropDuplicates must equal it.
    Gate("stream_url_dedup", 1.48, {
      val vre = graft.streaming.EventsStream.UrlVariantRe
        .replace("'", "''")
      val vsub = ("\\1" + graft.streaming.EventsStream.UrlVariantNoise)
        .replace("'", "''")
      s"""WITH $htmlRenderCte,
         |hp2 AS (
         |  SELECT value FROM hpages
         |  UNION ALL
         |  SELECT regexp_replace(value, '$vre', '$vsub') AS value
         |  FROM hpages
         |), ex AS (
         |${htmlExtractSelect("hp2")}
         |)
         |SELECT DISTINCT
         |  ${dedupUrlCanonSql} AS curl, lang
         |FROM ex""".stripMargin
    }) { (s, dir) =>
      graft.streaming.EventsStream.urlDedupIngest(
        s, dir, scratchDir("urlstage"))
    },

    // streaming decontamination off the stored index artifact: the
    // UNCHANGED decontaminateFromIndex tail over a document stream —
    // index-once/filter-forever; shares the batch decontam oracle
    // (fourth physical plan against that one oracle)
    Gate("stream_decontam", 4.51, decontamOracle) { (s, dir) =>
      graft.streaming.EventsStream.decontamIngest(
        s, dir, scratchDir("decontamstream"))
    },

    // streaming NEAR-DUP dedup off the persisted band index (round-9
    // verdict #4): corpus index built once, documents stream in 3
    // micro-batches, each probing the stored index then appending its
    // survivors' signatures — batch N+1 dedups against corpus AND
    // earlier survivors (see EventsStream.neardupIngest); the oracle
    // unrolls the 3 sequential stages over the exact-Jaccard pair set
    // streaming near-dup dedup: the 3 sequential batches unrolled
    // over one exact-Jaccard pair set (see streamNeardupSql)
    Gate("stream_neardup_dedup", 19.49, streamNeardupSql) { (s, dir) =>
      graft.streaming.EventsStream.neardupIngest(
        s, dir, scratchDir("ndstage"), scratchDir("ndindex"),
        scratchDir("ndres"))
    },

    // streaming-maintained Bloom skipping index (the neardup cycle on
    // the lakehouse membership index): each micro-batch lands its rows
    // in the lake then bloomIndexAppend scans ONLY the new files; the
    // maintained index ≡ a cold rebuild (spec-pinned), and the gate
    // serves three point lookups through it — one key per landed batch
    // streaming bloom-maintain twin: the maintained index must serve
    // exactly the full-scan filter for a key from each landed batch
    Gate("stream_bloom_maintain", 7.4,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_orderkey IN (577, 578, 579)""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.bloomMaintain(
        s, dir, scratchDir("bmstage"), scratchDir("bmlake"),
        scratchDir("bmidx"))
    },

    // streaming-maintained seasonal-naive forecast: per micro-batch
    // the delta's (type, day) counts merge into the stored daily table
    // (exact integer sums) and the forecast re-derives — final version
    // ≡ the one-shot batch rel_forecast (shared twin)
    // maintained forecast ≡ one-shot batch (mergeable daily counts +
    // pure derivation) — the same twin pins both
    Gate("stream_forecast_maintain", 5.69,
      s"""WITH $forecastSpineCtes
         |SELECT event_type, day + 7 AS day, n AS yhat
         |FROM spine, bounds
         |WHERE day + 7 > d1 AND day + 7 <= d1 + 7""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.forecastMaintain(
        s, dir, scratchDir("fcstage"), scratchDir("fcart"))
    },

    // the same daily-counter controller maintaining the WEEKLY-
    // SEASONAL-MEAN forecast — final version ≡ the one-shot batch
    // rel_forecast_seasonal (shared twin; the derivation is a pure
    // function of the mergeable daily table)
    // maintained ≡ one-shot batch (mergeable daily counters + pure
    // derivation) — the same twin pins both
    Gate("stream_seasonal_maintain", 3.66, seasonalMeanSql) { (s, dir) =>
      graft.streaming.EventsStream.seasonalMeanMaintain(
        s, dir, scratchDir("smfstage"), scratchDir("smfart"))
    },
    // streaming-maintained conformal interval (round-13): the same
    // daily-counter controller with the conformalFromDaily derivation
    // — maintained uncertainty ≡ one-shot batch (shared twin)
    // maintained conformal ≡ one-shot batch (mergeable daily counts +
    // pure derivation) — the same twin pins both
    Gate("stream_conformal_maintain", 5.18, conformalSql) { (s, dir) =>
      graft.streaming.EventsStream.conformalMaintain(
        s, dir, scratchDir("cfstage"), scratchDir("cfart"))
    },

    // streaming-maintained fixed-size sample: each micro-batch merges
    // its own bottom-k sketch into the versioned artifact; the
    // mergeability identity makes the final sketch bit-identical to
    // the one-shot batch sample — proven by sharing samp_fixed_k's
    // oracle device (h exposed so the artifact contract is visible)
    // streaming sample-maintain twin: the mergeable bottom-k sketch's
    // identity — the 3-batch maintained artifact must equal the
    // one-shot corpus bottom-k (samp_fixed_k's device, h exposed)
    Gate("stream_sample_maintain", 1.68,
      """SELECT doc_id, h FROM (
        |  SELECT doc_id, ('0x' || substr(md5('graft-fix' || '|' ||
        |    CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM documents WHERE doc_id IS NOT NULL
        |  ORDER BY h ASC, doc_id ASC LIMIT 137
        |)""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.sampleMaintain(
        s, dir, scratchDir("smstage"), scratchDir("smart"))
    },

    // streaming-maintained dataset card: each micro-batch sums its
    // (source, lang) doc/token counters into the versioned artifact;
    // integer-sum mergeability makes the final card bit-identical to
    // the one-shot batch corpusCard minus its documented non-mergeable
    // dup_rate column — proven by sharing text_corpus_card's twin
    // streaming-maintained dataset card: the mergeable-counters card
    // (batch twin minus the documented dup_rate exclusion)
    Gate("stream_card_maintain", 2.63, CorpusCardSql(withDup = false)) { (s, dir) =>
      graft.streaming.EventsStream.cardMaintain(
        s, dir, scratchDir("cardstage"), scratchDir("cardart"))
    },

    // streaming budgeted-mixture RE-FIT: each micro-batch sums its
    // per-source availability into the stored counters, then re-runs
    // the water-filling solve on the merged counters and versions the
    // fitted allocation — the sampling controller as a maintained
    // artifact; exact counters + pure solve make the final fit
    // bit-identical to the one-shot batch fit (samp_mix_fit's twin)
    // streaming mix-refit twin: exact integer counters over disjoint
    // batches + a pure solve ⇒ the final maintained fit IS the
    // one-shot batch fit — samp_mix_fit's SQL verbatim
    Gate("stream_mix_refit", 3.65,
      s"""WITH ${mixFitCtes()}
         |SELECT source, CAST(a AS BIGINT) AS avail_tokens,
         |  floor(w * 100 + 0.5) / 100 AS target_w,
         |  floor(CASE WHEN k.k IS NULL OR rn < k.k THEN a
         |    ELSE (SELECT lamstar FROM l) * w END * 100 + 0.5) / 100
         |    AS alloc_tokens,
         |  floor(CASE WHEN k.k IS NULL OR rn < k.k THEN 1.0
         |    ELSE (SELECT lamstar FROM l) * w / a END * 100 + 0.5) / 100
         |    AS rate,
         |  k.k IS NULL OR rn < k.k AS capped
         |FROM q, k""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.mixRefit(
        s, dir, scratchDir("mixstage"), scratchDir("mixart"))
    },

    // streaming CUSUM monitor: per-batch daily-counter merge + full
    // change-point re-detection on the merged counters, versioned
    // (the mixRefit controller pattern on the level-shift detector);
    // exact counters + pure solve ⇒ final verdict ≡ the one-shot
    // batch detector (rel_cusum's twin verbatim)
    // streaming CUSUM-maintain twin: exact integer counters over
    // disjoint batches + a pure solve ⇒ the final maintained verdict
    // IS the one-shot batch detector — rel_cusum's SQL verbatim
    Gate("stream_cusum_maintain", 3.3,
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, sum(cnt) AS total, count(*) AS n_days
        |  FROM d GROUP BY 1
        |), s AS (
        |  SELECT d.event_type, d.day, t.n_days,
        |    CAST(abs(t.n_days * sum(d.cnt) OVER (
        |        PARTITION BY d.event_type ORDER BY d.day ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - (row_number() OVER (PARTITION BY d.event_type
        |          ORDER BY d.day ASC)) * t.total) AS BIGINT) AS s
        |  FROM d JOIN t USING (event_type)
        |)
        |SELECT event_type, day AS cp_day, s AS max_cusum, n_days
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY event_type
        |  ORDER BY s DESC, day ASC) = 1""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.cusumMaintain(
        s, dir, scratchDir("cusumstage"), scratchDir("cusumart"))
    },

    // streaming-maintained CMS: 3-batch replay, each foreachBatch
    // full-outer-sums its sparse sketch into the versioned artifact;
    // final sketch serves the SAME top-20 audit as rel_cms_artifact
    // (counter linearity ⇒ one oracle, two maintenance plans)
    // ...and the streaming-maintained sketch: same linearity, same
    // audit — ONE oracle, batch-merge and foreachBatch as two plans
    Gate("stream_cms_maintain", 2.58, cmsAuditSql) { (s, dir) =>
      graft.streaming.EventsStream.cmsMaintain(
        s, dir, scratchDir("cmsstage"), scratchDir("cmsmaintart"))
    },

    // streaming-maintained HISTOGRAM (round-13, closing the mergeable-
    // sketch maintainer matrix): each foreachBatch full-outer-sums its
    // sparse (type, bucket) counters into the versioned artifact;
    // final state serves the SAME quantile audit as rel_hist_artifact
    // (count linearity ⇒ one oracle, two maintenance plans)
    // ...and the streaming-maintained histogram: the same count
    // linearity, the same audit — ONE oracle, batch-merge and
    // foreachBatch as two maintenance plans (the cmsAuditSql pattern)
    Gate("stream_hist_maintain", 1.92, histAuditSql) { (s, dir) =>
      graft.streaming.EventsStream.histMaintain(
        s, dir, scratchDir("histstage"), scratchDir("histmaintart"))
    },

    // streaming materialized view: 3-batch replay, each batch merges
    // its daily partials into a versioned rollup artifact; final
    // artifact == the one-shot batch recompute (see
    // EventsStream.rollupMaintain)
    // Streaming-materialized-view twin: the same full-recompute
    // contract — three merged micro-batch partials must equal it
    Gate("stream_rollup_maintain", 2.19,
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |    AS sum_value
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.rollupMaintain(
        s, dir, scratchDir("rollstage"), scratchDir("rollart"))
    },

    // Streaming-ingest twin: the batch render+extract relational
    // replay grouped by language — AvailableNow drain ≡ batch.
    Gate("stream_html_ingest", 1.26,
      s"""WITH $htmlRenderCte,
         |ex AS (
         |${htmlExtractSelect("hpages")}
         |)
         |SELECT lang, count(*) AS n_pages FROM ex GROUP BY lang""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.htmlIngestCounts(
        s, dir, scratchDir("htmlstream"))
    },

    // Ingestion QA twin: render + extract, then the text_langid hit
    // counts + argmax CASE over the EXTRACTED text, grouped into the
    // (declared, detected) agreement matrix.
    Gate("text_html_langid", 0.67,
      s"""WITH $htmlRenderCte,
         |ex AS (
         |${htmlExtractSelect("hpages")}
         |), xt AS (
         |  SELECT lang AS declared,
         |    list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
         |      t -> t != '') AS toks
         |  FROM ex
         |), h AS (
         |  SELECT declared,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.EnStopwords)}, lower(t)))) AS en_hits,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.DeStopwords)}, lower(t)))) AS de_hits,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.EsStopwords)}, lower(t)))) AS es_hits,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.FrStopwords)}, lower(t)))) AS fr_hits
         |  FROM xt
         |), p AS (
         |  SELECT declared,
         |    CASE WHEN en_hits >= de_hits AND en_hits >= es_hits
         |              AND en_hits >= fr_hits THEN 'en'
         |         WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
         |         WHEN es_hits >= fr_hits THEN 'es'
         |         ELSE 'fr' END AS lang_pred
         |  FROM h
         |)
         |SELECT declared, lang_pred, count(*) AS n_pages
         |FROM p GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val out = scratchDir("htmlqa")
      HtmlText.renderPages(docs(s, dir))
        .write.mode("overwrite").text(out)
      val ex = HtmlText.extract(s.read.text(out))
        .select(col("lang").as("declared"), col("text"))
      TextStats.langId(ex, idCol = "declared", textCol = "text")
        .select(col("doc_id").as("declared"), col("lang_pred"))
        .groupBy("declared", "lang_pred")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_pages"))
    },

    // --- ", "-CSV compatibility round-trip (S2/S6 + T4 ordering) ---
    // Writes the full Q6 result through the reference-format text sink
    // and reads it back through the positional ", "-split source; the
    // oracle is Q6's own twin, so the gate proves write→read is the
    // identity on the reference's staged-CSV surface. (The count-desc
    // ordering T4 guarantees is asserted by spec — this hash gate is
    // deliberately order-insensitive.)
    // write→read identity on the reference's ", "-CSV surface
    Gate("io_csv_roundtrip", 1.64, q6Sql) { (s, dir) =>
      val out = scratchDir("refcsv")
      graft.io.CompatIo.writeRefCsv(TfIdfOps.tfIdfPipeline(docs(s, dir)),
        Seq("doc_id", "word", "cnt", "tf", "tf_idf"), out)
      graft.io.CompatIo.readRefCsv(s, out, Seq(
        "doc_id" -> "bigint", "word" -> "string", "cnt" -> "bigint",
        "tf" -> "double", "tf_idf" -> "double"))
    },
    // RFC-4180 quoted-CSV round-trip: write→read identity on the raw
    // documents table (quotes doubled, newlines legal inside quotes,
    // multiLine read) — the real-world CSV dialect, oracle = identity
    // Quoted-CSV twin: pure identity — the round-trip must be lossless
    Gate("io_csv_quoted", 0.64,
      "SELECT doc_id, text, lang FROM documents") { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = scratchDir("quotedcsv")
      graft.io.CompatIo.writeQuotedCsv(
        docs(s, dir).select("doc_id", "text", "lang"), out)
      graft.io.CompatIo.readQuotedCsv(s, out, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType))))
    },

    // JSONL write→read identity on the same Q6 rows (shares q6Sql) —
    // the LLM-training-data interchange surface next to the
    // reference's ", "-CSV one
    // write→read identity on the JSONL surface (same rows)
    Gate("io_jsonl_roundtrip", 1.99, q6Sql) { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = scratchDir("jsonl")
      graft.io.CompatIo.writeJsonl(TfIdfOps.tfIdfPipeline(docs(s, dir)),
        out)
      graft.io.CompatIo.readJsonl(s, out, StructType(Seq(
        StructField("doc_id", LongType), StructField("word", StringType),
        StructField("cnt", LongType), StructField("tf", DoubleType),
        StructField("tf_idf", DoubleType))))
    },
    // ORC write→read identity on the same Q6 rows — the second
    // columnar lake format (typed footer schema, exact numerics)
    // write→read identity on the ORC surface (same rows)
    Gate("io_orc_roundtrip", 1.45, q6Sql) { (s, dir) =>
      val out = scratchDir("orc")
      graft.io.CompatIo.writeOrc(TfIdfOps.tfIdfPipeline(docs(s, dir)),
        out)
      graft.io.CompatIo.readOrc(s, out)
    },
    // additive schema evolution: batch 1 written with the 3-column v1
    // schema, batch 2 with the 5-column v2; the mergeSchema read
    // unions the footers and v1 rows carry NULL in the added columns
    // Schema-evolution twin: even-doc rows are v1 (3 columns → NULL
    // tf/tf_idf after the merge), odd-doc rows are v2 (all columns)
    Gate("io_merge_schema", 2.4,
      s"""WITH q6 AS ($q6Sql)
         |SELECT doc_id, word, cnt,
         |  CAST(NULL AS DOUBLE) AS tf, CAST(NULL AS DOUBLE) AS tf_idf
         |FROM q6 WHERE doc_id % 2 = 0
         |UNION ALL
         |SELECT doc_id, word, cnt, tf, tf_idf
         |FROM q6 WHERE doc_id % 2 = 1""".stripMargin) { (s, dir) =>
      val out = scratchDir("mergeschema")
      val q6 = Scope.hold(TfIdfOps.tfIdfPipeline(docs(s, dir)))
      q6.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "word", "cnt")
        .write.mode("overwrite").parquet(s"$out/b1")
      q6.filter(col("doc_id") % 2 === 1)
        .write.mode("overwrite").parquet(s"$out/b2")
      graft.io.CompatIo.readMergedParquet(s, out)
    },
    // bucketed-table co-located join: both fact sides hash-bucketed on
    // the join key at write time, so the SMJ reads co-located buckets
    // with NO Exchange anywhere in the plan (Round7Spec pins that) —
    // the layout that deletes a star-schema pipeline's biggest shuffle
    // Bucketed-join twin: the plain join — the bucketed layout must
    // change the PLAN (no Exchange, spec-pinned), never the rows
    Gate("io_bucketed_join", 2.09,
      """SELECT o_orderkey, o_custkey, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_custkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.{count, sum}
      val out = scratchDir("bucketed")
      graft.io.CompatIo.writeBucketed(
        tbl(s, dir, "orders").select("o_orderkey", "o_custkey"),
        "graft_bkt_orders", "o_orderkey", 8, s"$out/orders")
      graft.io.CompatIo.writeBucketed(
        tbl(s, dir, "lineitem").select("l_orderkey", "l_quantity",
          "l_extendedprice"),
        "graft_bkt_lineitem", "l_orderkey", 8, s"$out/lineitem")
      // merge hint: a broadcast join would ALSO show no exchange but
      // proves nothing about the layout; bucketed SMJ is the shape
      s.table("graft_bkt_orders").hint("merge")
        .join(s.table("graft_bkt_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_custkey")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("revenue"))
    },
    // hive-partitioned lake layout: write docs partitioned by lang,
    // read ONE partition back — the predicate must prune directories
    // (PartitionFilters), which Round6Spec pins on the scan node
    // partition-pruned read of the lang=en slice
    Gate("io_partition_prune", 1.08,
      """SELECT doc_id, source, lang FROM documents
        |WHERE lang = 'en'""".stripMargin) { (s, dir) =>
      val out = scratchDir("partlake")
      graft.io.CompatIo.writePartitioned(
        docs(s, dir).select("doc_id", "source", "lang"), out, "lang")
      graft.io.CompatIo.readPartition(s, out, "lang", "en")
        .select(col("doc_id"), col("source"),
          col("lang").cast("string").as("lang"))
    },
    // Dynamic partition overwrite (the nightly-restatement write):
    // land the full day-partitioned table, restate every 3rd day with
    // 10% of its rows dropped, and verify untouched partitions kept
    // their files' rows while restated days show ONLY the new rows
    // dynamic-overwrite twin: the expected post-restatement state —
    // every 3rd day keeps only event_id % 10 != 0, other days keep all
    Gate("io_dynamic_overwrite", 1.4,
      """WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, value, event_id
        |  FROM events
        |), fin AS (
        |  SELECT * FROM ev
        |  WHERE (extract('day' FROM day) % 3 != 0) OR (event_id % 10 != 0)
        |)
        |SELECT day, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM fin GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.{count, dayofmonth, sum, to_date}
      val ev = tbl(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("event_type"),
          col("user_id"), col("value"), col("event_id"))
      val out = scratchDir("dynow")
      graft.io.CompatIo.writePartitioned(ev, out, "day")
      val restated = ev
        .filter(dayofmonth(col("day")) % 3 === 0)
        .filter(col("event_id") % 10 =!= 0)
      graft.io.CompatIo.overwritePartitionsDynamic(restated, out, "day")
      s.read.parquet(out).groupBy("day", "event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
    },
    // globally-sorted lake layout: range-exchange into disjoint
    // increasing per-file key ranges + in-file sort, read back — the
    // layout must never change the ROWS (identity twin); the plan
    // (RangePartitioning) and the non-overlapping per-file min/max
    // footer ranges are pinned by ScaleLayoutSpec
    // sorted-layout twin: plain identity — the range-sorted layout must
    // change the FILES (ScaleLayoutSpec pins plan + footer ranges),
    // never the rows
    Gate("io_sorted_write", 0.74,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |  l_discount FROM lineitem""".stripMargin) { (s, dir) =>
      val out = scratchDir("sorted")
      graft.io.CompatIo.writeSortedRange(
        tbl(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount"),
        out, 8, Seq("l_orderkey", "l_linenumber"))
      s.read.parquet(out)
    },
    // data-skipping stats index: sorted-range lake layout → per-file
    // (min, max, rows) manifest artifact → key-range read through the
    // PLANNED file subset only (Round20Spec pins that files were
    // actually skipped); the result must equal the plain range filter
    // BLOOM-skipping point lookup: per-file membership index (the
    // equality sibling of the min/max stats index) — only files whose
    // filter holds all k probe bits are opened; the exact filter trims
    // false positives, so the result is the full-scan filter's rows
    // bloom-skipping twin: file pruning must never change the ROWS —
    // the plain equality filter (the physical skip is spec-pinned)
    Gate("io_bloom_skipping", 2.36,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_orderkey = 577""".stripMargin) { (s, dir) =>
      val out = scratchDir("bloomskip")
      tbl(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
          "l_quantity", "l_extendedprice")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/data")
      graft.io.CompatIo.bloomIndexWrite(s, s"$out/data", s"$out/idx",
        "l_orderkey")
      graft.io.CompatIo.readWithBloomSkipping(s, s"$out/data",
        s"$out/idx", "l_orderkey", 577L)
    },
    // ...and its incremental maintenance: index the initial files,
    // land a delta, bloomIndexAppend scans ONLY the new files; the
    // served lookup must equal the full-filter rows (append ≡ rebuild
    // because a file's bit set is a pure function of its own rows)
    // bloom-append twin: append ≡ rebuild, so the two probed lookups
    // are just the plain filters over the whole table
    Gate("io_bloom_append", 4.55,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_orderkey IN (577, 579)""".stripMargin) { (s, dir) =>
      val out = scratchDir("bloomapp")
      val li = tbl(s, dir, "lineitem").select("l_orderkey",
        "l_linenumber", "l_quantity", "l_extendedprice")
      li.filter(col("l_orderkey") % 3 =!= 0).repartition(8)
        .write.mode("overwrite").parquet(s"$out/data")
      graft.io.CompatIo.bloomIndexWrite(s, s"$out/data", s"$out/idx",
        "l_orderkey")
      li.filter(col("l_orderkey") % 3 === 0).repartition(4)
        .write.mode("append").parquet(s"$out/data")
      graft.io.CompatIo.bloomIndexAppend(s, s"$out/data", s"$out/idx",
        "l_orderkey")
      // 577 % 3 == 1: rows live in the ORIGINAL files; 579 % 3 == 0
      // would live in the delta — probe both partitions of history
      graft.io.CompatIo.readWithBloomSkipping(s, s"$out/data",
          s"$out/idx", "l_orderkey", 577L)
        .unionByName(graft.io.CompatIo.readWithBloomSkipping(s,
          s"$out/data", s"$out/idx", "l_orderkey", 579L))
    },
    // stats-skipping twin: the plain range filter — file pruning must
    // never change the ROWS (the physical skip is pinned in the spec)
    Gate("io_stats_skipping", 1.2,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 900""".stripMargin) { (s, dir) =>
      val out = scratchDir("statsskip")
      graft.io.CompatIo.writeSortedRange(
        tbl(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
          "l_quantity", "l_extendedprice"),
        s"$out/data", 8, Seq("l_orderkey", "l_linenumber"))
      graft.io.CompatIo.statsIndexWrite(s, s"$out/data", s"$out/idx",
        "l_orderkey")
      graft.io.CompatIo.readWithSkipping(s, s"$out/data", s"$out/idx",
        "l_orderkey", 100L, 900L)
    },
    // the PARTITIONED-layout form (round-9 ADVICE follow-through: the
    // manifest now keys on lake-root-relative paths, so nested
    // partition dirs can't collide): Hive layout partitioned on a
    // derived column, stats index on a NON-partition key, range read
    // through the planned file subset ≡ the plain range filter
    // partitioned-layout skipping twin: identity on the range filter
    // (the partition round-trip + relative-path manifest must not
    // change a single row)
    Gate("io_stats_skipping_part", 1.19,
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  CAST(l_orderkey % 4 AS BIGINT) AS pt
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 900""".stripMargin) { (s, dir) =>
      val out = scratchDir("statsskippart")
      tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), (col("l_orderkey") % 4).as("pt"))
        .write.partitionBy("pt").mode("overwrite")
        .parquet(s"$out/data")
      graft.io.CompatIo.statsIndexWrite(s, s"$out/data", s"$out/idx",
        "l_orderkey")
      graft.io.CompatIo.readWithSkipping(s, s"$out/data", s"$out/idx",
          "l_orderkey", 100L, 900L)
        // partition-dir inference types pt as INT — pin to the
        // written BIGINT so the twin schema matches
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("pt").cast("long").as("pt"))
    },
    // incremental manifest-diff scan: the stats index doubles as the
    // consumption cursor — stage the lake, index it, land a delta,
    // and the increment read opens ONLY the new files (Round20Spec
    // pins the cursor advance + empty re-read)
    // incremental-scan twin: the delta predicate — the manifest diff
    // must surface exactly the landed delta's rows
    Gate("io_incremental_scan", 1.7,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_orderkey % 3 = 0""".stripMargin) { (s, dir) =>
      val out = scratchDir("incscan")
      val li = tbl(s, dir, "lineitem").select("l_orderkey",
        "l_linenumber", "l_quantity", "l_extendedprice")
      graft.io.CompatIo.writeSortedRange(
        li.filter(col("l_orderkey") % 3 =!= 0), s"$out/data", 4,
        Seq("l_orderkey"))
      graft.io.CompatIo.statsIndexWrite(s, s"$out/data", s"$out/idx",
        "l_orderkey")
      li.filter(col("l_orderkey") % 3 === 0).repartition(2)
        .write.mode("append").parquet(s"$out/data")
      graft.io.CompatIo.readIncrement(s, s"$out/data", s"$out/idx")
    },
    // z-order clustered lake layout: bit-interleaved (orderkey,
    // partkey) range exchange — compact per-file bounding BOXES so
    // predicates on EITHER key prune files (1-D sort covers only its
    // leading key); identity twin, layout pinned by ZOrderLayoutSpec
    // z-order twin: plain identity — the Morton layout must change the
    // FILES (ZOrderLayoutSpec pins per-file bounding boxes + the range
    // exchange), never the rows
    Gate("io_zorder_write", 1.08,
      """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val out = scratchDir("zorder")
      graft.io.CompatIo.writeZOrder(
        tbl(s, dir, "lineitem").select("l_orderkey", "l_partkey",
          "l_quantity", "l_extendedprice"),
        out, 8, "l_orderkey", "l_partkey")
      s.read.parquet(out)
    },
    // SNAPSHOT-isolated read: pin the manifest, append more data, read
    // AS OF the pin — appended rows must be invisible bit-for-bit (the
    // reproducible-training "trained on manifest M" primitive)
    // snapshot-read twin: the pre-append table — rows landed after the
    // manifest pin must be invisible to the snapshot reader
    Gate("io_snapshot_read", 1.36,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_orderkey % 3 != 0""".stripMargin) { (s, dir) =>
      val out = scratchDir("snaps")
      val li = tbl(s, dir, "lineitem").select("l_orderkey",
        "l_linenumber", "l_quantity", "l_extendedprice")
      li.filter(col("l_orderkey") % 3 =!= 0).repartition(4)
        .write.mode("overwrite").parquet(s"$out/data")
      graft.io.CompatIo.manifestWrite(s, s"$out/data", s"$out/manifest")
      li.filter(col("l_orderkey") % 3 === 0).repartition(2)
        .write.mode("append").parquet(s"$out/data")
      graft.io.CompatIo.readSnapshot(s, s"$out/data", s"$out/manifest")
    },
    // ADDITIVE SCHEMA EVOLUTION under the manifest lake (io_merge_schema
    // composed with io_snapshot_read): v1 files land and pin as m1, v2
    // files with an ADDED column append and pin as m2. The m1 snapshot
    // must stay bit-identical to pre-evolution history (old rows, OLD
    // schema — spec-pinned), while the m2 snapshot null-fills the new
    // column on v1 rows. Gate surface = both snapshots union'd with a
    // generation tag (the explicit null-extension makes the m1 arm's
    // narrower schema visible to the one oracle)
    // snapshot-evolution twin: the m2 snapshot is the whole table with
    // the added column null on pre-evolution rows; the m1 snapshot is
    // pre-evolution history with the column null by UNION extension
    Gate("io_snapshot_evolve", 1.64,
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  CASE WHEN l_orderkey % 3 = 0 THEN l_extendedprice END
        |    AS l_extendedprice,
        |  'm2' AS snap
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_quantity,
        |  CAST(NULL AS DOUBLE) AS l_extendedprice, 'm1' AS snap
        |FROM lineitem WHERE l_orderkey % 3 != 0""".stripMargin) { (s, dir) =>
      val out = scratchDir("snapevo")
      val li = tbl(s, dir, "lineitem")
      li.select("l_orderkey", "l_linenumber", "l_quantity")
        .filter(col("l_orderkey") % 3 =!= 0).repartition(4)
        .write.mode("overwrite").parquet(s"$out/data")
      graft.io.CompatIo.manifestWrite(s, s"$out/data", s"$out/m1")
      li.select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice")
        .filter(col("l_orderkey") % 3 === 0).repartition(2)
        .write.mode("append").parquet(s"$out/data")
      graft.io.CompatIo.manifestWrite(s, s"$out/data", s"$out/m2")
      graft.io.CompatIo.readSnapshot(s, s"$out/data", s"$out/m2")
        .withColumn("snap", lit("m2"))
        .unionByName(
          graft.io.CompatIo.readSnapshot(s, s"$out/data", s"$out/m1")
            .withColumn("snap", lit("m1")),
          allowMissingColumns = true)
    },
    // VACUUM to manifest: land a lake, pin it, let a failed write
    // leave orphan files, vacuum — the directory must again equal the
    // pinned state (a pinned file can never be deleted by design)
    // vacuum twin: the post-vacuum directory IS the pinned table —
    // identical rows to the snapshot read, via the physical delete
    Gate("io_vacuum", 1.27,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_orderkey % 3 != 0""".stripMargin) { (s, dir) =>
      val out = scratchDir("vac")
      val li = tbl(s, dir, "lineitem").select("l_orderkey",
        "l_linenumber", "l_quantity", "l_extendedprice")
      li.filter(col("l_orderkey") % 3 =!= 0).repartition(4)
        .write.mode("overwrite").parquet(s"$out/data")
      graft.io.CompatIo.manifestWrite(s, s"$out/data", s"$out/manifest")
      li.filter(col("l_orderkey") % 3 === 0).repartition(2)
        .write.mode("append").parquet(s"$out/data")
      graft.io.CompatIo.vacuumToManifest(s, s"$out/data",
        s"$out/manifest")
    },
    // retention PLAN: keep-last-14-days TTL labels over the day
    // partitions, cutoff anchored on the lake's own newest partition —
    // pure partition-directory metadata, no data file opened
    // retention-plan twin: the physical day partitions are exactly the
    // distinct event days (partitionBy writes one dir per value), the
    // cutoff anchors on the newest day present
    Gate("io_retention_plan", 0.74,
      """WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |m AS (SELECT max(day) AS mx FROM d)
        |SELECT day,
        |  CASE WHEN date_diff('day', day, mx) < 14
        |       THEN 'keep' ELSE 'drop' END AS action
        |FROM d, m""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.to_date
      val ev = tbl(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("event_id"),
          col("value"))
      val out = scratchDir("retplan")
      graft.io.CompatIo.writePartitioned(ev, out, "day")
      graft.io.CompatIo.retentionPlan(s, out, keepDays = 14)
    },
    // retention EXEC: physically drop the expired day partitions and
    // verify the surviving lake is exactly the retention window
    // retention-exec twin: the surviving lake IS the retention window
    Gate("io_retention_exec", 0.86,
      """WITH m AS (SELECT max(CAST(ts AS DATE)) AS mx FROM events)
        |SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events, m
        |WHERE date_diff('day', CAST(ts AS DATE), mx) < 14
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.{count, sum, to_date}
      val ev = tbl(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("event_id"),
          col("value"))
      val out = scratchDir("retexec")
      graft.io.CompatIo.writePartitioned(ev, out, "day")
      graft.io.CompatIo.retentionExec(s, out, keepDays = 14)
        .groupBy("day")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
    },
    // compaction EXECUTOR: Q6 scattered across 32 small parquet files,
    // rewritten to one file per quota bin — row identity is the gate
    // (q6's own twin); one-file-per-bin is pinned by Round15Spec
    // compaction-executor twin: the rewrite is a pure physical
    // re-layout, so the rows are Q6's own (the file-count contract is
    // spec-pinned — DuckDB cannot see the layout)
    Gate("io_compaction_exec", 2.75, q6Sql) { (s, dir) =>
      val out = scratchDir("compactexec")
      TfIdfOps.tfIdfPipeline(docs(s, dir))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/small")
      graft.io.CompatIo.compactLake(s, s"$out/small",
        s"$out/compacted", targetBytes = 256L * 1024L)
    },

    // --- text analysis (north-star) ---
    Gate("text_stats", 0.63,
      s"""WITH $wsToksCte, c AS (
         |  SELECT doc_id, length(text) AS n_chars, len(toks) AS n_tokens,
         |    len(regexp_extract_all(text,
         |        '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')) AS n_bpe_tokens,
         |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
         |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit_chars,
         |    length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS punct_chars,
         |    length(regexp_replace(text, '[^ ]', '', 'g')) AS space_chars,
         |    length(array_to_string(toks, '')) AS tok_chars,
         |    len(list_filter(toks, t -> list_contains(
         |        ${listLit(operators.TextStats.EnStopwords)}, lower(t))))
         |      AS stop_toks
         |  FROM wtoks
         |), r AS (
         |  SELECT doc_id, n_chars, n_tokens, n_bpe_tokens,
         |    alpha_chars / n_chars AS alpha_ratio,
         |    digit_chars / n_chars AS digit_ratio,
         |    punct_chars / n_chars AS punct_ratio,
         |    space_chars / n_chars AS space_ratio,
         |    tok_chars / n_tokens AS mean_token_len,
         |    stop_toks / n_tokens AS stopword_ratio
         |  FROM c
         |)
         |SELECT *,
         |  CAST(0.25 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
         |      n_tokens / CAST(100.0 AS DOUBLE))
         |  + CAST(0.25 AS DOUBLE) * alpha_ratio
         |  + CAST(0.25 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - punct_ratio)
         |  + CAST(0.25 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
         |      stopword_ratio * CAST(4.0 AS DOUBLE)) AS quality_score
         |FROM r""".stripMargin) { (s, dir) =>
      TextStats.stats(docs(s, dir))
    },
    Gate("text_langid", 0.2,
      s"""WITH $wsToksCte, h AS (
         |  SELECT doc_id,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.EnStopwords)}, lower(t)))) AS en_hits,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.DeStopwords)}, lower(t)))) AS de_hits,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.EsStopwords)}, lower(t)))) AS es_hits,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.FrStopwords)}, lower(t)))) AS fr_hits
         |  FROM wtoks
         |)
         |SELECT *,
         |  CASE WHEN en_hits >= de_hits AND en_hits >= es_hits
         |            AND en_hits >= fr_hits THEN 'en'
         |       WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
         |       WHEN es_hits >= fr_hits THEN 'es'
         |       ELSE 'fr' END AS lang_pred
         |FROM h""".stripMargin) { (s, dir) =>
      TextStats.langId(docs(s, dir))
    },
    // chunk-level language ID → per-doc code-switch profile (dominant
    // language + its chunk share + distinct-language count)
    // code-switch twin: the text_chunk tiling at 64/0 (chunk tokens ARE
    // the array slice — no re-split needed), per-chunk marker-word
    // cascade, per-doc (lang, count) rollup, dominant lang via
    // row_number with the en>de>es>fr tie rank
    Gate("text_langid_mix", 0.77,
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
         |    x -> x <> '') AS t
         |  FROM documents
         |), nc AS (
         |  SELECT doc_id, t,
         |    greatest(1, CAST(floor((len(t) + 63) / 64.0) AS BIGINT)) AS n
         |  FROM tok WHERE len(t) > 0
         |), ex AS (
         |  SELECT doc_id, t[(chunk_id*64+1):(chunk_id*64+64)] AS ct
         |  FROM (SELECT doc_id, t,
         |          unnest(generate_series(0, n - 1)) AS chunk_id
         |        FROM nc)
         |), h AS (
         |  SELECT doc_id,
         |    len(list_filter(ct, t -> list_contains(
         |      ${listLit(operators.TextStats.EnStopwords)}, lower(t)))) AS en_hits,
         |    len(list_filter(ct, t -> list_contains(
         |      ${listLit(operators.TextStats.DeStopwords)}, lower(t)))) AS de_hits,
         |    len(list_filter(ct, t -> list_contains(
         |      ${listLit(operators.TextStats.EsStopwords)}, lower(t)))) AS es_hits,
         |    len(list_filter(ct, t -> list_contains(
         |      ${listLit(operators.TextStats.FrStopwords)}, lower(t)))) AS fr_hits
         |  FROM ex
         |), p AS (
         |  SELECT doc_id,
         |    CASE WHEN en_hits >= de_hits AND en_hits >= es_hits
         |              AND en_hits >= fr_hits THEN 'en'
         |         WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
         |         WHEN es_hits >= fr_hits THEN 'es'
         |         ELSE 'fr' END AS lang
         |  FROM h
         |), cl AS (
         |  SELECT doc_id, lang, count(*) AS c FROM p GROUP BY 1, 2
         |), top AS (
         |  SELECT doc_id, lang, c FROM cl
         |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC,
         |    CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 1
         |              WHEN 'es' THEN 2 ELSE 3 END) = 1
         |), agg AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chunks,
         |    count(*) AS n_langs
         |  FROM cl GROUP BY 1
         |)
         |SELECT a.doc_id, a.n_chunks, a.n_langs, t.lang AS main_lang,
         |  floor(t.c / a.n_chunks * 100 + 0.5) / 100 AS main_frac,
         |  a.n_langs > 1 AS code_switched
         |FROM agg a JOIN top t USING (doc_id)""".stripMargin) { (s, dir) =>
      TextStats.langIdMix(docs(s, dir))
    },
    // per-source corpus-composition card (docs, token share, exact-dup
    // rate, dominant predicted language) — the dataset-card table and
    // the input to every mixture decision in Sampling
    // corpus-card twin: the text_langid cascade + dedup_exact
    // fingerprint per doc, corpus-wide multiplicity, per-source
    // rollups, dominant language via the precedence-ranked row_number,
    // 1-row total for the share, round2 ratios
    Gate("text_corpus_card", 1.24, CorpusCardSql(withDup = true)) { (s, dir) =>
      TextStats.corpusCard(docs(s, dir))
    },
    Gate("text_fingerprint", 0.37,
      """WITH n AS (
        |  SELECT doc_id,
        |         lower(trim(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g'))) AS norm
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, md5(norm) AS fp_md5, string_split(norm, ' ') AS tk
        |  FROM n
        |)
        |SELECT doc_id, fp_md5,
        |  list_min(list_transform(
        |    generate_series(1, greatest(len(tk) - 4, 1)),
        |    i -> md5(array_to_string(tk[i:i+4], ' ')))) AS fp_shingle
        |FROM t""".stripMargin) { (s, dir) =>
      TextStats.fingerprint(docs(s, dir))
    },
    // winnowing (MOSS) sparse local fingerprints: per-frame rightmost
    // minimum of the 5-token shingle hashes — any shared passage of
    // >= 8 tokens contributes a common fingerprint
    // winnowing twin: identical 60-bit md5-slice shingle hashes, the
    // same per-frame rightmost-minimum selection, distinct (pos, fp)
    Gate("text_winnow", 1.33,
      s"""WITH $winnowCtes
         |SELECT DISTINCT doc_id, CAST(s.pos AS BIGINT) AS pos,
         |  s.fp AS fp
         |FROM w""".stripMargin) { (s, dir) =>
      TextStats.winnow(docs(s, dir))
    },
    // ...and its consumer (the MOSS match step): pairs sharing >= 2
    // winnowing fingerprints, hot buckets (> 50 docs) capped before
    // pairing — local-overlap candidates at sparse-fingerprint cost
    // winnow-pair twin: distinct (doc, fp), the same ≤50-doc bucket
    // cap, pair smaller-id-first, count shared fingerprints
    Gate("dedup_winnow_pairs", 2.65,
      s"""WITH $winnowCtes, df AS (
         |  SELECT DISTINCT doc_id, s.fp AS fp FROM w
         |), fb AS (
         |  SELECT fp FROM df GROUP BY fp
         |  HAVING count(*) BETWEEN 2 AND 50
         |), p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM df a JOIN fb USING (fp) JOIN df b USING (fp)
         |  WHERE a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b, count(*) AS n_shared
         |FROM p GROUP BY 1, 2
         |HAVING count(*) >= 2""".stripMargin) { (s, dir) =>
      TextStats.winnowPairs(docs(s, dir))
    },
    // ...and the exact VERIFY tail: per candidate pair, the exact
    // count of shared distinct 5-grams — candidate-bounded (only
    // paired docs re-tokenize), the candidates-then-verify discipline
    // winnow-verify twin: the pair chain + an exact distinct-5-gram
    // intersection count per pair
    Gate("dedup_winnow_verified", 4.49,
      s"""WITH $winnowCtes, df AS (
         |  SELECT DISTINCT doc_id, s.fp AS fp FROM w
         |), fb AS (
         |  SELECT fp FROM df GROUP BY fp
         |  HAVING count(*) BETWEEN 2 AND 50
         |), p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM df a JOIN fb USING (fp) JOIN df b USING (fp)
         |  WHERE a.doc_id < b.doc_id
         |), wp AS (
         |  SELECT doc_a, doc_b, count(*) AS n_shared
         |  FROM p GROUP BY 1, 2
         |  HAVING count(*) >= 2
         |), g AS (
         |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS g
         |  FROM n, unnest(generate_series(1, len(tk) - 4)) AS u(i)
         |  WHERE len(tk) >= 5
         |), c AS (
         |  SELECT wp.doc_a, wp.doc_b, count(*) AS n_common
         |  FROM wp
         |  JOIN g ga ON ga.doc_id = wp.doc_a
         |  JOIN g gb ON gb.doc_id = wp.doc_b AND gb.g = ga.g
         |  GROUP BY 1, 2
         |)
         |SELECT wp.doc_a, wp.doc_b, wp.n_shared,
         |  coalesce(c.n_common, 0) AS n_common_kgrams
         |FROM wp LEFT JOIN c USING (doc_a, doc_b)""".stripMargin) { (s, dir) =>
      TextStats.winnowPairsVerified(docs(s, dir))
    },
    // ...and the ACTED-ON artifact closing the winnow family: every
    // verified pair's later doc has its shared 5-token spans CUT
    // (keep-first — the earlier partner stays canonical); candidate-
    // bounded end to end (only pair members re-tokenize). ARTIFACT
    // form (round-12 verdict task 3): the verified pair table persists
    // ONCE — the in-plan form's three pair-spine join consumers could
    // each re-evaluate the whole winnow chain through their broadcast
    // sub-jobs (the rel_hits lazy-persist lesson) — and the span
    // rewrite serves from the store, bit-identical to the in-plan
    // rewrite (Round26Spec pins the identity)
    // winnow-rewrite twin: the verified-pair chain, then per affected
    // doc_b the positioned 5-grams shared with any paired donor mark
    // covered token spans i..i+4; uncovered tokens reassemble via the
    // ORDER BY string_agg device (boilerplate twin precedent)
    Gate("dedup_winnow_rewrite", 8.64,
      s"""WITH $winnowCtes, df AS (
         |  SELECT DISTINCT doc_id, s.fp AS fp FROM w
         |), fb AS (
         |  SELECT fp FROM df GROUP BY fp
         |  HAVING count(*) BETWEEN 2 AND 50
         |), p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM df a JOIN fb USING (fp) JOIN df b USING (fp)
         |  WHERE a.doc_id < b.doc_id
         |), wp AS (
         |  SELECT doc_a, doc_b FROM p GROUP BY 1, 2
         |  HAVING count(*) >= 2
         |), g AS (
         |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS g
         |  FROM n, unnest(generate_series(1, len(tk) - 4)) AS u(i)
         |  WHERE len(tk) >= 5
         |), vp AS (
         |  SELECT DISTINCT wp.doc_a, wp.doc_b
         |  FROM wp
         |  JOIN g ga ON ga.doc_id = wp.doc_a
         |  JOIN g gb ON gb.doc_id = wp.doc_b AND gb.g = ga.g
         |), bd AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM vp
         |), bg AS (
         |  SELECT n.doc_id, i, array_to_string(tk[i:i+4], ' ') AS g
         |  FROM n JOIN bd USING (doc_id),
         |    unnest(generate_series(1, len(tk) - 4)) AS u(i)
         |  WHERE len(tk) >= 5
         |), ss AS (
         |  SELECT DISTINCT bg.doc_id, bg.i
         |  FROM bg JOIN vp ON bg.doc_id = vp.doc_b
         |  JOIN g ga ON ga.doc_id = vp.doc_a AND ga.g = bg.g
         |), cov AS (
         |  SELECT DISTINCT doc_id, p FROM (
         |    SELECT doc_id, unnest(generate_series(i, i + 4)) AS p
         |    FROM ss)
         |), bt AS (
         |  SELECT n.doc_id, u.p, n.tk[u.p] AS tok
         |  FROM n JOIN bd USING (doc_id),
         |    unnest(generate_series(1, len(tk))) AS u(p)
         |)
         |SELECT bt.doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN cov.p IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_cut,
         |  floor(sum(CASE WHEN cov.p IS NOT NULL THEN 1 ELSE 0 END)
         |    / count(*) * 100 + 0.5) / 100 AS cut_frac,
         |  coalesce(string_agg(CASE WHEN cov.p IS NULL THEN bt.tok END,
         |    ' ' ORDER BY bt.p), '') AS text_clean
         |FROM bt LEFT JOIN cov
         |  ON bt.doc_id = cov.doc_id AND bt.p = cov.p
         |GROUP BY bt.doc_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val out = scratchDir("winnowpairs")
      Dedup.winnowPairsWrite(d, out)
      Dedup.winnowRewriteFromIndex(d, out)
    },
    // Hash-gated against a full DuckDB twin: the bucketing basis is md5
    // (engine-portable), so the sparse integer bucket sums value-match
    // exactly. Gate surface = those sparse sums, NOT the dense float
    // vector (arrays are un-hashable by a row-compare harness); the
    // dense embedding is a pure per-row transform of exactly these rows.
    // md5-bucketed hashing-trick embedding, sparse integer surface:
    // bucket = hex chars 29-32 of md5(word) mod dims, sign = parity of
    // hex char 1 — bit-identical to TextStats.hashEmbedBuckets.
    Gate("text_hash_embed", 0.85,
      s"""WITH $tokenCtes, hx AS (
         |  SELECT doc_id, md5(word) AS h FROM tokens
         |), b AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(h, 29, 4))::BIGINT % 64 AS INTEGER) AS j,
         |    CASE WHEN ('0x' || substr(h, 1, 1))::BIGINT % 2 = 1
         |         THEN 1 ELSE -1 END AS sgn
         |  FROM hx
         |)
         |SELECT doc_id, j, CAST(sum(sgn) AS BIGINT) AS w
         |FROM b GROUP BY doc_id, j""".stripMargin) { (s, dir) =>
      TextStats.hashEmbedBuckets(docs(s, dir))
    },
    // bigram LM scoring (two-stage c1 aggregation); the _scalable name
    // is kept registered and runs the same operator
    Gate("text_lm_score", 1.54, lmScoreSql) { (s, dir) =>
      TextStats.lmScore(docs(s, dir))
    },
    Gate("text_lm_score_scalable", 1.57, lmScoreSql) { (s, dir) =>
      TextStats.lmScore(docs(s, dir))
    },
    // LM-as-artifact: train once, persist the (w1,w2,c2,c1) model,
    // score from the RE-READ parquet — the frozen-quality-model path;
    // scoring the training corpus is bit-identical to the in-plan
    // operator (shared tail), so all three share one oracle
    // ...and the third plan on that one oracle: the persisted-model
    // round-trip (train → parquet → re-read → score)
    Gate("text_lm_artifact", 1.99, lmScoreSql) { (s, dir) =>
      val d = docs(s, dir)
      val out = scratchDir("lmart")
      TextStats.lmArtifactWrite(d, out)
      TextStats.lmScoreFromArtifact(d, out)
    },
    // chunkTokens=64, overlap=16 ⇒ stride 48; both engines 1-based
    // inclusive slicing; zero-token docs emit nothing
    Gate("text_chunk", 0.24,
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '') AS t
        |  FROM documents
        |), nc AS (
        |  SELECT doc_id, t,
        |    greatest(1, CAST(floor((len(t) - 16 + 47) / 48.0) AS BIGINT)) AS n
        |  FROM tok WHERE len(t) > 0
        |), ex AS (
        |  SELECT doc_id, t, unnest(generate_series(0, n - 1)) AS chunk_id
        |  FROM nc
        |)
        |SELECT doc_id, chunk_id,
        |  len(t[(chunk_id*48+1):(chunk_id*48+64)]) AS n_chunk_tokens,
        |  array_to_string(t[(chunk_id*48+1):(chunk_id*48+64)], ' ')
        |    AS chunk_text
        |FROM ex""".stripMargin) { (s, dir) =>
      TextStats.chunk(docs(s, dir), chunkTokens = 64, overlap = 16)
    },
    // sentence segmentation: RE2-safe terminator-run extraction (no
    // lookbehind — DuckDB's RE2 has none), order-indexed, no shuffle
    // Sentence twin: same RE2 extraction, index via the repo's
    // unnest(generate_series)/t[i] idiom, non-empty-token count
    Gate("text_sentences", 0.22,
      """WITH ex AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^.!?]+[.!?]*') AS ss
        |  FROM documents
        |), ix AS (
        |  SELECT doc_id, ss, unnest(generate_series(1, len(ss))) AS i
        |  FROM ex
        |)
        |SELECT doc_id, CAST(i - 1 AS BIGINT) AS sent_idx,
        |  trim(ss[i]) AS sentence,
        |  CAST(len(list_filter(string_split_regex(trim(ss[i]),
        |    '[ \t\n\f\r]+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |FROM ix WHERE trim(ss[i]) <> ''""".stripMargin) { (s, dir) =>
      TextStats.sentences(docs(s, dir))
    },
    // content-defined chunking: md5-derived boundaries are a pure
    // function of local content, so an insertion only re-chunks the
    // edited region (vs text_chunk's fixed stride shifting every
    // downstream chunk) — the insertion-robust unit for chunk dedup
    // content-defined chunking twin: replays every boundary decision
    // from the md5 60-bit token hash (invariant 8 basis), the prior-cut
    // running sum, and the per-chunk md5 over tokens in pos order
    Gate("text_cdc_chunk", 0.79,
      s"""WITH $cdcChunkCtes
         |SELECT doc_id, chunk_id, n_chunk_tokens, chunk_md5
         |FROM cdc""".stripMargin) { (s, dir) =>
      TextStats.cdcChunk(docs(s, dir), avgTokens = 16)
    },
    // unigram drift between the benchmark split and the rest: add-one
    // smoothed p/q and round2-ln KL terms, all bit-replayable
    // unigram drift twin: same normalization as text_repetition,
    // conditional split counts, add-one-smoothed single-division p/q,
    // round2'd ln ratio, one-multiply kl term
    Gate("text_drift", 0.64,
      """WITH nrm AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), tk AS (
        |  SELECT doc_id, unnest(t) AS w FROM nrm
        |), cnts AS (
        |  SELECT w AS word,
        |    CAST(coalesce(sum(CASE WHEN doc_id % 20 = 0 THEN 1 ELSE 0
        |      END), 0) AS BIGINT) AS c_p,
        |    CAST(coalesce(sum(CASE WHEN doc_id % 20 != 0 THEN 1 ELSE 0
        |      END), 0) AS BIGINT) AS c_q
        |  FROM tk WHERE w != '' GROUP BY w
        |), st AS (
        |  SELECT CAST(sum(c_p) AS BIGINT) AS np,
        |         CAST(sum(c_q) AS BIGINT) AS nq, count(*) AS v
        |  FROM cnts
        |)
        |SELECT word, c_p, c_q,
        |  floor(ln(((c_p + 1) / (np + v)) / ((c_q + 1) / (nq + v)))
        |    * 100 + 0.5) / 100 AS log_ratio,
        |  ((c_p + 1) / (np + v)) *
        |    (floor(ln(((c_p + 1) / (np + v)) / ((c_q + 1) / (nq + v)))
        |      * 100 + 0.5) / 100) AS kl_term
        |FROM cnts, st""".stripMargin) { (s, dir) =>
      TextStats.tokenDrift(docs(s, dir))
    },
    // bigram PMI collocations: corpus association mining for phrase
    // detection — broadcast unigram model, in-plan N/B totals, top-100
    // PMI twin: lmScoreSql's bigram construction, unigram/bigram
    // totals, and the ONE fixed association order shared with the
    // Spark expression so the IEEE double (then round2) agrees
    Gate("text_pmi", 1.4,
      """WITH nrm AS (
        |  SELECT string_split(
        |    lower(trim(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), idx AS (
        |  SELECT t, unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i
        |  FROM nrm
        |), bg AS (
        |  SELECT t[i] AS a, t[i+1] AS b FROM idx WHERE t[i+1] IS NOT NULL
        |), uc AS (
        |  SELECT w, count(*) AS c
        |  FROM (SELECT unnest(t) AS w FROM nrm) u
        |  WHERE w <> '' GROUP BY w
        |), nu AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uc
        |), nb AS (
        |  SELECT count(*) AS n_big FROM bg
        |), cab AS (
        |  SELECT a, b, count(*) AS c_ab FROM bg GROUP BY a, b
        |  HAVING count(*) >= 5
        |)
        |SELECT cab.a, cab.b, cab.c_ab,
        |  floor(log10(((CAST(cab.c_ab AS DOUBLE) * nu.n_uni) * nu.n_uni) /
        |    ((CAST(nb.n_big AS DOUBLE) * ua.c) * ub.c)) * 100 + 0.5) / 100
        |    AS pmi
        |FROM cab
        |JOIN uc ua ON cab.a = ua.w
        |JOIN uc ub ON cab.b = ub.w, nu, nb
        |ORDER BY pmi DESC, a, b LIMIT 100""".stripMargin) { (s, dir) =>
      TextStats.pmiCollocations(docs(s, dir), minCount = 5L, k = 100)
    },
    // TextRank keywords: weighted PageRank over the word co-occurrence
    // graph (the generic pageRankOverEdges fixpoint on text edges)
    // TextRank twin: PMI's bigram construction + the unrolled
    // ppm-share PageRank rounds, word-keyed
    Gate("text_textrank", 4.01, TextRankSql(iters = 4, minCount = 3L, k = 50)) { (s, dir) =>
      TextStats.textRank(docs(s, dir), minCount = 3L, iters = 4, k = 50)
    },
    // chunk-level duplication profile over CDC chunks: share of each
    // doc made of chunks that also appear in other docs
    // chunk-level dup profile twin: the same CDC chain, chunk-md5
    // distinct-doc counts, per-doc rollup, round2 of one division
    Gate("dedup_chunks", 1.27,
      s"""WITH $cdcChunkCtes, fr AS (
         |  SELECT chunk_md5, count(DISTINCT doc_id) AS nd
         |  FROM cdc GROUP BY chunk_md5
         |), j AS (
         |  SELECT c.doc_id, f.nd FROM cdc c JOIN fr f USING (chunk_md5)
         |), r AS (
         |  SELECT doc_id, count(*) AS n_chunks,
         |    CAST(coalesce(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS n_dup_chunks
         |  FROM j GROUP BY doc_id
         |)
         |SELECT doc_id, n_chunks, n_dup_chunks,
         |  floor(n_dup_chunks / n_chunks * 100 + 0.5) / 100 AS dup_frac
         |FROM r""".stripMargin) { (s, dir) =>
      Dedup.chunkDupStats(docs(s, dir))
    },
    // keep-first dedup rewrite on CONTENT-DEFINED boundaries: an edit
    // shifts only the chunk it lands in (fixed tiles re-phase every
    // chunk after it), so shared passages keep deduping across
    // lightly-edited near-copies
    // CDC-rewrite twin: the cdc chunk CTEs with chunk TEXT kept, the
    // sentence-rewrite first-occurrence device (min doc, then min
    // chunk within it), ORDER BY string_agg reassembly
    Gate("dedup_cdc_rewrite", 1.52,
      s"""WITH $cdcChunkCtes, cdct AS (
         |  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |    string_agg(tok, ' ' ORDER BY p ASC) AS ctext
         |  FROM cdcid GROUP BY doc_id, chunk_id
         |), fd AS (
         |  SELECT ctext, min(doc_id) AS fdoc FROM cdct GROUP BY ctext
         |), fo AS (
         |  SELECT c.ctext, f.fdoc, min(c.chunk_id) AS fci
         |  FROM cdct c JOIN fd f ON c.ctext = f.ctext
         |    AND c.doc_id = f.fdoc
         |  GROUP BY c.ctext, f.fdoc
         |)
         |SELECT c.doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN c.doc_id = o.fdoc AND c.chunk_id = o.fci
         |    THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
         |  coalesce(string_agg(CASE WHEN c.doc_id = o.fdoc
         |      AND c.chunk_id = o.fci THEN c.ctext END,
         |    ' ' ORDER BY c.chunk_id), '') AS text_clean
         |FROM cdct c JOIN fo o ON c.ctext = o.ctext
         |GROUP BY c.doc_id""".stripMargin) { (s, dir) =>
      Dedup.cdcDedupRewrite(docs(s, dir))
    },
    // tokenize-to-ids over a 25-word vocabulary (small enough that the
    // OOV=0 branch actually fires on the 31-word synthetic corpus)
    // tokenize-to-ids twin: same tokenizer as q1_tokens but with
    // positions (unnest + generate_subscripts zip), dense per-doc pos,
    // vocabulary ranked (cnt desc, word asc) capped at 25, OOV -> 0
    Gate("text_token_ids", 1.31,
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS p
        |  FROM documents
        |), kept AS (
        |  SELECT doc_id, word,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p ASC)
        |      AS BIGINT) AS pos
        |  FROM (
        |    SELECT doc_id, p,
        |      lower(regexp_replace(tok, '[^a-zA-Z]', '', 'g')) AS word
        |    FROM toks)
        |  WHERE length(word) > 0
        |), cnts AS (
        |  SELECT word, count(*) AS cnt FROM kept GROUP BY word
        |), voc AS (
        |  SELECT word,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, word ASC)
        |      AS BIGINT) AS tid
        |  FROM cnts ORDER BY cnt DESC, word ASC LIMIT 25
        |)
        |SELECT k.doc_id, k.pos, coalesce(v.tid, 0) AS tid
        |FROM kept k LEFT JOIN voc v USING (word)""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      TextStats.tokenIds(d, TextStats.vocab(d, maxVocab = 25))
    },
    // in-plan trained multinomial Naive Bayes lang classifier: model
    // aggregates (class-word counts, priors, vocab size) derive and
    // broadcast inside the same Catalyst plan that scores every doc
    // Naive-Bayes twin: model CTEs (class-word counts, class totals,
    // priors, vocab size) + scoring replay. Discipline mirrors BM25:
    // every ln round2'd at the source, contribution = cnt × ll (one
    // IEEE multiply), DECIMAL(20,8) order-independent sum, prior added
    // once after the decimal sum, final round2, argmax tie pinned
    // (score desc, lang asc).
    Gate("text_nb_classify", 2.39,
      s"""WITH $nbPredCtes
         |SELECT doc_id, pred_lang, score FROM pred""".stripMargin) { (s, dir) =>
      Classify.nbLang(docs(s, dir))
    },
    // trained LINEAR classifier (fastText-style quality filter): 3
    // full-batch GD steps on length-normalized hashed-BoW features
    // against the lang='en' label, rational fast-sigmoid link (no
    // transcendentals → the twin replays TRAINING bit-for-bit); the
    // weight vector, per-doc scores, and the confusion summary are
    // three gates over one shared machinery
    // Linear-classifier twins: the full 3-step GD training replays in
    // SQL (per-step margin/error/gradient/update CTEs generated by
    // lrSqlCtes) — possible because the link is rational (no exp) and
    // every order-dependent sum quantizes to DECIMAL(20,12), so the
    // weight vector is BIT-IDENTICAL across engines after every step
    Gate("text_lr_train", 3.96,
      s"""WITH ${lrSqlCtes(LrSteps)}
         |SELECT CAST(j AS BIGINT) AS j, w
         |FROM w$LrSteps""".stripMargin) { (s, dir) =>
      Classify.lrTrain(docs(s, dir), steps = LrSteps, lr = LrRate)
    },
    // the four round-12 gate names restored as individually-addressable
    // surfaces (round-13 verdict item 1: the documented-merge into
    // text_lr_pipeline dropped them from the driver's ledger). Each is
    // the pre-merge query verbatim — lrScore/lrEval/lrAuc share ONE
    // persisted lrFeatures build per gate, so the marginal cost over
    // the pipeline gate is the scoring tail, not a second corpus scan
    // the restored round-12 gate names (round-13 verdict item 1):
    // per-doc scores (in-plan and artifact-served share the identity
    // pin), the confusion summary, and the rank-sum AUC
    Gate("text_lr_score", 4.57, textLrScoreSql) { (s, dir) =>
      Classify.lrScore(docs(s, dir), steps = LrSteps, lr = LrRate)
    },
    Gate("text_lr_eval", 6.41,
      s"""WITH ${lrSqlCtes(LrSteps)}, mf AS (
         |  SELECT f.doc_id,
         |    CAST(sum(CAST(floor(f.x * w.w * 1000000000000 + 0.5)
         |      / 1000000000000 AS DECIMAL(20,12))) AS DOUBLE) AS m
         |  FROM f JOIN w$LrSteps w USING (j) GROUP BY f.doc_id
         |), sc AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
         |    0.5 * (1 + m.m / (1 + abs(m.m))) >= 0.5 AS pred
         |  FROM documents d JOIN mf m USING (doc_id)
         |)
         |SELECT count(*) AS n,
         |  CAST(sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN NOT pred AND y = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tn,
         |  CAST(sum(CASE WHEN pred AND y = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN NOT pred AND y = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fn,
         |  floor((sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END)
         |    + sum(CASE WHEN NOT pred AND y = 0 THEN 1 ELSE 0 END))
         |    / count(*) * 100 + 0.5) / 100 AS accuracy
         |FROM sc""".stripMargin) { (s, dir) =>
      Classify.lrEval(docs(s, dir), steps = LrSteps, lr = LrRate)
    },
    Gate("text_lr_auc", 7.87,
      s"""WITH ${lrSqlCtes(LrSteps)}, mf AS (
         |  SELECT f.doc_id,
         |    CAST(sum(CAST(floor(f.x * w.w * 1000000000000 + 0.5)
         |      / 1000000000000 AS DECIMAL(20,12))) AS DOUBLE) AS m
         |  FROM f JOIN w$LrSteps w USING (j) GROUP BY f.doc_id
         |), sc AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
         |    floor((0.5 * (1 + m.m / (1 + abs(m.m)))) * 1000000 + 0.5)
         |      / 1000000 AS p
         |  FROM documents d JOIN mf m USING (doc_id)
         |), g AS (
         |  SELECT p, y, count(*) AS cnt_sc FROM sc GROUP BY 1, 2
         |), hist AS (
         |  SELECT p, sum(cnt_sc) AS cnt_s FROM g GROUP BY p
         |), below AS (
         |  SELECT p, cnt_s,
         |    sum(cnt_s) OVER (ORDER BY p
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt_s
         |      AS below
         |  FROM hist
         |), aucx AS (
         |  SELECT sum(CASE WHEN y = 1 THEN cnt_sc END) AS posn,
         |    sum(CASE WHEN y = 0 THEN cnt_sc END) AS negn,
         |    sum(CASE WHEN y = 1
         |      THEN cnt_sc * (below * 2 + cnt_s + 1) END) AS s2
         |  FROM g JOIN below USING (p)
         |)
         |SELECT CAST(coalesce(posn, 0) AS BIGINT) AS pos_cnt,
         |  CAST(coalesce(negn, 0) AS BIGINT) AS neg_cnt,
         |  floor(CAST(s2 - posn * (posn + 1) AS DOUBLE) /
         |    nullif(CAST(posn * negn * 2 AS DOUBLE), 0)
         |    * 1000000 + 0.5) / 1000000 AS auc
         |FROM aucx""".stripMargin) { (s, dir) =>
      Classify.lrAuc(docs(s, dir), steps = LrSteps, lr = LrRate)
    },
    // classifier-as-artifact: train once, persist the weight vector,
    // score from the RE-READ parquet (grid-aligned doubles round-trip
    // bit-exactly) — shares text_lr_score's twin, the identity pin
    Gate("text_lr_from_artifact", 5.38, textLrScoreSql) { (s, dir) =>
      val d = docs(s, dir)
      val out = scratchDir("lrart")
      Classify.lrArtifactWrite(d, out, steps = LrSteps, lr = LrRate)
      Classify.lrScoreFromArtifact(d, out)
    },
    // the COMPOSED classifier pipeline (round-12 verdict task 2 —
    // pipe_curate applied to the LR family): ONE feature build + ONE
    // training feed the artifact write, the artifact-SERVED scoring,
    // the confusion summary AND the rank-sum AUC in a single plan.
    // Documented-merge of the round-12 text_lr_score / text_lr_eval /
    // text_lr_auc / text_lr_from_artifact gates, which each re-ran the
    // full 3-step GD train (~28 s of bench across the family); the
    // per-doc score surface stays hash-pinned via stream_lr_score's
    // shared textLrScoreSql twin
    // COMPOSED pipeline twin: the shared training CTEs + served
    // scores, then the confusion rollup and the rank-sum AUC joined
    // into ONE row. The AUC tail is a single ungrouped aggregation
    // (no per-class filter), so a single-class corpus yields NULL auc
    // instead of zero rows (ADVICE r12)
    Gate("text_lr_pipeline", 6.81,
      s"""WITH ${lrSqlCtes(LrSteps)}, mf AS (
         |  SELECT f.doc_id,
         |    CAST(sum(CAST(floor(f.x * w.w * 1000000000000 + 0.5)
         |      / 1000000000000 AS DECIMAL(20,12))) AS DOUBLE) AS m
         |  FROM f JOIN w$LrSteps w USING (j) GROUP BY f.doc_id
         |), sc AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
         |    floor((0.5 * (1 + m.m / (1 + abs(m.m)))) * 1000000 + 0.5)
         |      / 1000000 AS p,
         |    0.5 * (1 + m.m / (1 + abs(m.m))) >= 0.5 AS pred
         |  FROM documents d JOIN mf m USING (doc_id)
         |), ev AS (
         |  SELECT count(*) AS n,
         |    CAST(sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN NOT pred AND y = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tn,
         |    CAST(sum(CASE WHEN pred AND y = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN NOT pred AND y = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fn,
         |    floor((sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END)
         |      + sum(CASE WHEN NOT pred AND y = 0 THEN 1 ELSE 0 END))
         |      / count(*) * 100 + 0.5) / 100 AS accuracy
         |  FROM sc
         |), g AS (
         |  SELECT p, y, count(*) AS cnt_sc FROM sc GROUP BY 1, 2
         |), hist AS (
         |  SELECT p, sum(cnt_sc) AS cnt_s FROM g GROUP BY p
         |), below AS (
         |  SELECT p, cnt_s,
         |    sum(cnt_s) OVER (ORDER BY p
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt_s
         |      AS below
         |  FROM hist
         |), aucx AS (
         |  SELECT sum(CASE WHEN y = 1 THEN cnt_sc END) AS posn,
         |    sum(CASE WHEN y = 0 THEN cnt_sc END) AS negn,
         |    sum(CASE WHEN y = 1
         |      THEN cnt_sc * (below * 2 + cnt_s + 1) END) AS s2
         |  FROM g JOIN below USING (p)
         |), auca AS (
         |  SELECT CAST(coalesce(posn, 0) AS BIGINT) AS pos_cnt,
         |    CAST(coalesce(negn, 0) AS BIGINT) AS neg_cnt,
         |    floor(CAST(s2 - posn * (posn + 1) AS DOUBLE) /
         |      nullif(CAST(posn * negn * 2 AS DOUBLE), 0)
         |      * 1000000 + 0.5) / 1000000 AS auc
         |  FROM aucx
         |)
         |SELECT ev.n, ev.tp, ev.tn, ev.fp, ev.fn, ev.accuracy,
         |  auca.pos_cnt, auca.neg_cnt, auca.auc
         |FROM ev, auca""".stripMargin) { (s, dir) =>
      Classify.lrPipelineReport(docs(s, dir), scratchDir("lrpipe"),
        steps = LrSteps, lr = LrRate)
    },
    // MULTICLASS one-vs-rest under a SYNTHETIC TEACHER label (verdict
    // task 4: the corpus lang label carries no lexical signal —
    // LrProbe): label = dominant md5 bucket-class of the doc's own
    // tokens, features the UNSIGNED bucket counts, so an exact linear
    // witness exists and the argmax is demonstrably learnable; all C
    // trainings ride ONE keyed-agg pipeline (class in the keys)
    // MULTICLASS twin: the one-vs-rest training replays per class —
    // the class axis rides the CTE keys exactly as it rides the
    // Spark aggregation keys
    Gate("text_lr_multiclass", 7.27,
      s"""WITH ${lrMcSqlCtes(LrSteps, LrClasses)}, sm AS (
         |  SELECT f.doc_id, w.c,
         |    CAST(sum(CAST(floor(f.x * w.w * 1000000000000 + 0.5)
         |      / 1000000000000 AS DECIMAL(20,12))) AS DOUBLE) AS m
         |  FROM fm f JOIN v$LrSteps w USING (j) GROUP BY 1, 2
         |), sp AS (
         |  SELECT doc_id, c,
         |    0.5 * (1 + m / (1 + abs(m))) AS praw,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY 0.5 * (1 + m / (1 + abs(m))) DESC, c ASC) AS rn
         |  FROM sm
         |)
         |SELECT s.doc_id, l.y, CAST(s.c AS BIGINT) AS pred,
         |  floor(s.praw * 1000000 + 0.5) / 1000000 AS p
         |FROM sp s JOIN lbl l USING (doc_id)
         |WHERE s.rn = 1""".stripMargin) { (s, dir) =>
      Classify.lrMulticlass(docs(s, dir), classes = LrClasses,
        steps = LrSteps, lr = LrRate)
    },
    // RELIABILITY report (round-13): the calibration-curve table of
    // the trained scores — per probability bin, mean predicted p vs
    // empirical positive rate; the check a pipeline runs before using
    // p as a keep-probability. One bins-sized keyed agg over the
    // scored corpus (the documented multi-job-gate class: the 3-step
    // GD train runs in-plan like text_lr_train)
    // CALIBRATION twin: the shared score CTE bucketed on the
    // 1e-6-gridded p both engines already agree on; counts exact
    // BIGINT, the p sum an exact DECIMAL over grid points, each ratio
    // ONE IEEE division floored back to the 1e-6 grid
    Gate("text_lr_calibration", 5.39,
      s"""WITH ${lrSqlCtes(LrSteps)}, mf AS (
         |  SELECT f.doc_id,
         |    CAST(sum(CAST(floor(f.x * w.w * 1000000000000 + 0.5)
         |      / 1000000000000 AS DECIMAL(20,12))) AS DOUBLE) AS m
         |  FROM f JOIN w$LrSteps w USING (j) GROUP BY f.doc_id
         |), sc AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
         |    floor((0.5 * (1 + m.m / (1 + abs(m.m)))) * 1000000 + 0.5)
         |      / 1000000 AS p
         |  FROM documents d JOIN mf m USING (doc_id)
         |)
         |SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bucket,
         |  count(*) AS n,
         |  CAST(sum(y) AS BIGINT) AS n_pos,
         |  floor(CAST(sum(CAST(p AS DECIMAL(20,6))) AS DOUBLE)
         |    / count(*) * 1000000 + 0.5) / 1000000 AS mean_p,
         |  floor(CAST(sum(y) AS DOUBLE) / count(*) * 1000000 + 0.5)
         |    / 1000000 AS frac_pos
         |FROM sc GROUP BY 1""".stripMargin) { (s, dir) =>
      Classify.lrCalibration(docs(s, dir), steps = LrSteps,
        lr = LrRate)
    },
    // ...and the streaming quality-filter ingest: train + persist once,
    // each document micro-batch scores from the stored weights — the
    // per-batch union ≡ one-shot batch scoring (per-row purity), so it
    // too shares text_lr_score's twin
    // streaming artifact-served scoring: per-batch union ≡ one-shot
    // batch scoring (per-row purity under frozen weights) — this twin
    // keeps the per-doc score surface hash-pinned after the round-13
    // documented-merge of text_lr_score into the pipeline gate
    Gate("stream_lr_score", 9.04, textLrScoreSql) { (s, dir) =>
      graft.streaming.EventsStream.lrScoreIngest(
        s, dir, scratchDir("lrsstage"), scratchDir("lrsart"),
        scratchDir("lrsres"), LrSteps, LrRate)
    },
    // streaming DSIR target-scoring ingest (round-13): bucket-LM
    // table derived once in batch, each document micro-batch scores
    // from the frozen store — per-row purity makes the per-batch
    // union ≡ one-shot batch scoring (samp_dsir's CTEs minus top-k)
    // streaming DSIR scoring: the samp_dsir CTEs with NO selection —
    // every doc with features, scored against the same bucket LMs
    Gate("stream_dsir_score", 12.89,
      s"""WITH $dsirSqlCtes
         |SELECT f.doc_id, count(*) AS n_feats,
         |  CAST(sum(l.lr) AS BIGINT) AS logw_q
         |FROM feats f JOIN lr l USING (b) GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.dsirScoreIngest(
        s, dir, scratchDir("dsirstage"), scratchDir("dsirart"),
        scratchDir("dsirres"))
    },
    // per-class precision/recall/F1 report of the NB classifier
    // against the true labels (exact-integer F1 identity)
    // NB evaluation twin: the same prediction chain joined back to the
    // true labels, per-class support/predicted/TP rollups, precision
    // NULL on a never-predicted class, exact-integer F1 identity
    Gate("text_nb_eval", 3.2,
      s"""WITH $nbPredCtes, j AS (
         |  SELECT p.doc_id, p.pred_lang, d.lang
         |  FROM pred p JOIN documents d USING (doc_id)
         |), bt AS (
         |  SELECT lang AS cls, count(*) AS n_true,
         |    CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tp
         |  FROM j GROUP BY lang
         |), bp AS (
         |  SELECT pred_lang AS cls, count(*) AS n_pred
         |  FROM j GROUP BY pred_lang
         |)
         |SELECT bt.cls AS lang, bt.n_true,
         |  coalesce(bp.n_pred, 0) AS n_pred, bt.tp,
         |  CASE WHEN coalesce(bp.n_pred, 0) > 0 THEN
         |    floor(bt.tp / bp.n_pred * 100 + 0.5) / 100 END AS precision,
         |  floor(bt.tp / bt.n_true * 100 + 0.5) / 100 AS recall,
         |  floor(bt.tp * 2 / (coalesce(bp.n_pred, 0) + bt.n_true) * 100
         |    + 0.5) / 100 AS f1
         |FROM bt LEFT JOIN bp ON bt.cls = bp.cls""".stripMargin) { (s, dir) =>
      Classify.nbEval(docs(s, dir))
    },

    // --- deduplication (north-star) ---
    Gate("dedup_exact", 0.64,
      """WITH n AS (
        |  SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g')))) AS fp
        |  FROM documents
        |)
        |SELECT fp, min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM n GROUP BY fp""".stripMargin) { (s, dir) =>
      Dedup.exact(docs(s, dir))
    },
    Gate("dedup_ngram_jaccard", 3.56, jaccardSql) { (s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir))
    },
    Gate("dedup_minhash_lsh", 2.68, jaccardSql) { (s, dir) =>
      Dedup.minHashLsh(docs(s, dir))
    },
    // SimHash twin: identical signatures from the md5 word basis (bit j
    // of the first 16 md5 hex chars as u64), then ALL-PAIRS hamming —
    // exact at oracle scale; the engine's band join is pure pruning, so
    // the pair sets coincide.
    Gate("dedup_simhash", 1.48,
      s"""WITH $tokenCtes, cnts AS (
         |  SELECT doc_id, word, count(*) AS cnt FROM tokens
         |  GROUP BY doc_id, word
         |), hx AS (
         |  SELECT doc_id, cnt,
         |         ('0x' || substr(md5(word), 1, 16))::UBIGINT AS h
         |  FROM cnts
         |), bits AS (
         |  SELECT doc_id, j,
         |    sum(CASE WHEN ((h >> j) & 1) = 1 THEN cnt ELSE -cnt END) AS s
         |  FROM hx CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j)
         |  GROUP BY doc_id, j
         |), sb AS (
         |  SELECT doc_id, j, CASE WHEN s > 0 THEN 1 ELSE 0 END AS b
         |  FROM bits
         |), ham AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(sum(CASE WHEN a.b != b.b THEN 1 ELSE 0 END) AS INTEGER)
         |      AS hamming
         |  FROM sb a JOIN sb b ON a.j = b.j AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, hamming FROM ham
         |WHERE hamming <= 3""".stripMargin) { (s, dir) =>
      Dedup.simHashPairs(docs(s, dir))
    },
    Gate("dedup_embedding", 3.17,
      s"""WITH $vecCtes
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |FROM normed a JOIN normed b ON a.vec_id < b.vec_id
         |WHERE list_sum(list_transform(generate_series(1, len(a.v)),
         |        i -> a.v[i] * b.v[i])) / (a.norm * b.norm)
         |      >= 0.5""".stripMargin) { (s, dir) =>
      Dedup.embeddingNearDup(tbl(s, dir, "embeddings"))
    },
    // naive definition of the canonical assignment: connected components
    // (min reachable id) over jaccard>=0.8 edges on NORMALIZED-text
    // shingles — exact clones are jaccard-1 edges, so the engine's
    // exact-collapse-first optimization provably yields the same
    // components
    Gate("dedup_assign", 5.66,
      s"""WITH RECURSIVE $assignCtes
         |SELECT doc_id, canonical_id FROM assign""".stripMargin) { (s, dir) =>
      Dedup.assignCanonical(docs(s, dir))
    },
    // SemDeDup: cluster-blocked semantic dedup — within-cluster cosine
    // pairs only (the cluster IS the candidate filter), keep = no
    // smaller-id same-cluster neighbor above the threshold
    // SemDeDup twin: the 16-lowest-id codebook + cosine-nearest
    // assignment (cos desc, cid asc — replays the struct-max), then
    // within-cluster smaller-id neighbors above 0.5 mark drops
    Gate("dedup_semantic", 1.38,
      s"""WITH $vecCtes, nz AS (
         |  SELECT vec_id, v, norm FROM normed WHERE norm > 0
         |), cent AS (
         |  SELECT vec_id AS cid, v AS cv, norm AS cnorm FROM nz
         |  ORDER BY vec_id ASC LIMIT 16
         |), assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT z.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY z.vec_id ORDER BY
         |        list_sum(list_transform(generate_series(1, len(z.v)),
         |          i -> z.v[i] * c.cv[i])) / (z.norm * c.cnorm) DESC,
         |        c.cid ASC) AS rn
         |    FROM nz z, cent c)
         |  WHERE rn = 1
         |), drops AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assign a JOIN assign b ON a.cid = b.cid
         |    AND a.vec_id < b.vec_id
         |  JOIN nz za ON za.vec_id = a.vec_id
         |  JOIN nz zb ON zb.vec_id = b.vec_id
         |  WHERE list_sum(list_transform(generate_series(1, len(za.v)),
         |          i -> za.v[i] * zb.v[i])) / (za.norm * zb.norm) >= 0.5
         |)
         |SELECT a.vec_id, a.cid, d.vec_id IS NULL AS keep
         |FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id"""
        .stripMargin) { (s, dir) =>
      Dedup.semanticDedup(tbl(s, dir, "embeddings"))
    },
    // quality-aware SemDeDup: within a near-identical group keep the
    // HIGHEST-quality member (here: document length via the aligned
    // doc_id), not the lowest id — the exemplar choice curation stacks
    // actually make; the duel rule stays pairwise, no recursion
    // quality-aware SemDeDup twin: the same codebook assignment with a
    // (quality, lower-id) duel predicate — a vector drops iff a
    // same-cluster neighbor above the cosine threshold strictly beats
    // it on quality (document length), ties to the lower id. The
    // codebook size replays the scale-safe derivation (r12): k =
    // greatest(16, ceil(N / 64)) — constant mean cluster population,
    // so the duel's expansion is linear in N, not quadratic
    Gate("dedup_semantic_best", 1.19,
      s"""WITH $vecCtes, nz AS (
         |  SELECT vec_id, v, norm FROM normed WHERE norm > 0
         |), kk AS (
         |  SELECT greatest(16, CAST(ceil(count(*) / 64.0) AS BIGINT))
         |    AS k
         |  FROM nz
         |), cent AS (
         |  SELECT vec_id AS cid, v AS cv, norm AS cnorm FROM (
         |    SELECT vec_id, v, norm,
         |      row_number() OVER (ORDER BY vec_id ASC) AS rn
         |    FROM nz) s, kk
         |  WHERE s.rn <= kk.k
         |), assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT z.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY z.vec_id ORDER BY
         |        list_sum(list_transform(generate_series(1, len(z.v)),
         |          i -> z.v[i] * c.cv[i])) / (z.norm * c.cnorm) DESC,
         |        c.cid ASC) AS rn
         |    FROM nz z, cent c)
         |  WHERE rn = 1
         |), aq AS (
         |  SELECT a.vec_id, a.cid,
         |    coalesce(CAST(d.n_chars AS DOUBLE), 0.0) AS q
         |  FROM assign a LEFT JOIN documents d ON a.vec_id = d.doc_id
         |), drops AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM aq a JOIN aq b ON a.cid = b.cid
         |    AND (a.q > b.q OR (a.q = b.q AND a.vec_id < b.vec_id))
         |  JOIN nz za ON za.vec_id = a.vec_id
         |  JOIN nz zb ON zb.vec_id = b.vec_id
         |  WHERE list_sum(list_transform(generate_series(1, len(za.v)),
         |          i -> za.v[i] * zb.v[i])) / (za.norm * zb.norm) >= 0.5
         |)
         |SELECT a.vec_id, a.cid, d.vec_id IS NULL AS keep
         |FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id"""
        .stripMargin) { (s, dir) =>
      Dedup.semanticDedupBest(tbl(s, dir, "embeddings"),
        docs(s, dir).select(col("doc_id").as("vec_id"),
          col("n_chars")), qCol = "n_chars")
    },
    // one-pass Poisson bootstrap CI for the corpus mean doc length:
    // deterministic md5 inverse-CDF replicate weights, exact-BIGINT
    // replicate means, rank-selected percentile endpoints
    // bootstrap twin: same md5 inverse-CDF Poisson(1) weights per
    // (doc, rep), exact-BIGINT replicate means, rank-selected 2.5/97.5
    // percentile endpoints (literals round-trip Scala's alpha/2 repr)
    Gate("samp_bootstrap", 1.14,
      """WITH reps AS (
        |  SELECT unnest(generate_series(1, 200)) AS rep
        |), base AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS x FROM documents
        |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
        |), wts AS (
        |  SELECT rep, x,
        |    CASE WHEN u < 0.3679 THEN 0 WHEN u < 0.7358 THEN 1
        |         WHEN u < 0.9197 THEN 2 WHEN u < 0.9810 THEN 3
        |         ELSE 4 END AS w
        |  FROM (
        |    SELECT r.rep, b.x,
        |      (('0x' || substr(md5('graft-boot|' || b.doc_id || '#'
        |        || r.rep), 1, 8))::BIGINT + 1) / 4294967296.0 AS u
        |    FROM base b, reps r)
        |), m AS (
        |  SELECT rep, CAST(sum(w * x) AS DOUBLE)
        |    / nullif(CAST(sum(w) AS DOUBLE), 0) AS mn
        |  FROM wts GROUP BY rep
        |), mm AS (SELECT rep, mn FROM m WHERE mn IS NOT NULL),
        |rk AS (
        |  SELECT mn, row_number() OVER (ORDER BY mn ASC, rep ASC) AS r
        |  FROM mm
        |), nrr AS (SELECT count(*) AS nr FROM mm),
        |ov AS (
        |  SELECT CAST(sum(x) AS DOUBLE)
        |    / nullif(CAST(count(*) AS DOUBLE), 0) AS m
        |  FROM base
        |)
        |SELECT nrr.nr AS n_reps,
        |  floor(ov.m * 100 + 0.5) / 100 AS mean,
        |  (SELECT floor(mn * 100 + 0.5) / 100 FROM rk, nrr
        |   WHERE r = CAST(floor(0.025 * (nr - 1)) AS BIGINT) + 1)
        |    AS ci_lo,
        |  (SELECT floor(mn * 100 + 0.5) / 100 FROM rk, nrr
        |   WHERE r = CAST(floor(0.975 * (nr - 1)) AS BIGINT) + 1)
        |    AS ci_hi
        |FROM nrr, ov""".stripMargin) { (s, dir) =>
      Sampling.bootstrapMeanCI(docs(s, dir), "n_chars")
    },
    // leakage-safe split: hash-split keyed on the CANONICAL id, so every
    // exact/near-dup cluster lands whole in one split (no train/test
    // contamination through duplicates)
    // leakage-safe split twin: the SAME canonical-assignment CTE chain,
    // then the shared splitCaseSql bucket expression keyed on
    // canonical_id — clusters move between splits atomically
    Gate("samp_split_safe", 4.1,
      s"""WITH RECURSIVE $assignCtes
         |SELECT doc_id, canonical_id,
         |  ${operators.Sampling.splitCaseSql(SplitWeights, "canonical_id",
              "graft-safe")} AS split
         |FROM assign""".stripMargin) { (s, dir) =>
      Sampling.splitByHash(Dedup.assignCanonical(docs(s, dir)),
          SplitWeights, keyCol = "canonical_id", salt = "graft-safe")
        .select("doc_id", "canonical_id", "split")
    },
    // exact duplicated-span (substring) coverage, w=5 token windows
    // duplicated-span coverage: a 5-token window is duplicated iff its
    // 5-gram occurs >= 2 times corpus-wide; covered tokens = union of
    // equal-length intervals = sum(min(5, start - previous_start))
    Gate("dedup_substring", 1.27,
      """WITH sh0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), win AS (
        |  SELECT doc_id, len(t) AS n_toks,
        |         greatest(len(t) - 4, 1) AS n_windows, t
        |  FROM sh0
        |), idx AS (
        |  SELECT doc_id, n_toks, t,
        |         unnest(generate_series(1, n_windows)) AS i
        |  FROM win
        |), grams AS (
        |  SELECT doc_id, n_toks, i, array_to_string(t[i:i+4], ' ') AS s
        |  FROM idx
        |), dupg AS (
        |  SELECT s FROM grams GROUP BY s HAVING count(*) >= 2
        |), cov AS (
        |  SELECT doc_id,
        |    least(5, i - coalesce(lag(i) OVER (PARTITION BY doc_id
        |      ORDER BY i), i - 5)) AS covered
        |  FROM grams JOIN dupg USING (s)
        |), agg AS (
        |  SELECT doc_id, count(*) AS dup_windows,
        |         sum(covered) AS dup_tokens
        |  FROM cov GROUP BY doc_id
        |)
        |SELECT w.doc_id, CAST(w.n_windows AS BIGINT) AS n_windows,
        |  CAST(coalesce(a.dup_windows, 0) AS BIGINT) AS dup_windows,
        |  CAST(least(coalesce(a.dup_tokens, 0), w.n_toks) AS BIGINT)
        |    AS dup_tokens,
        |  floor(CAST(least(coalesce(a.dup_tokens, 0), w.n_toks)
        |          AS DOUBLE) / nullif(w.n_toks, 0) * 100 + 0.5) / 100
        |    AS dup_frac
        |FROM win w LEFT JOIN agg a USING (doc_id)""".stripMargin) { (s, dir) =>
      Dedup.duplicatedSpans(docs(s, dir), w = 5)
    },
    // the REWRITE counterpart: cut all-but-first occurrences of every
    // duplicated 8-token chunk and reassemble the cleaned documents
    // chunk-rewrite twin: same tiling as the Spark side, two-step
    // lexicographic argmin (min doc_id, then min ci within it) for the
    // corpus-wide first occurrence, ordered FILTER-style string_agg
    // (NULL entries skip) for the in-order reassembly
    Gate("dedup_chunk_rewrite", 1.11,
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '') AS t
        |  FROM documents
        |), nc AS (
        |  SELECT doc_id, t, CAST(floor((len(t) + 7) / 8.0) AS BIGINT) AS n
        |  FROM tok WHERE len(t) > 0
        |), ex AS (
        |  SELECT doc_id, t, unnest(generate_series(0, n - 1)) AS ci FROM nc
        |), ch AS (
        |  SELECT doc_id, ci,
        |    array_to_string(t[(ci*8+1):(ci*8+8)], ' ') AS ctext
        |  FROM ex
        |), fd AS (
        |  SELECT ctext, min(doc_id) AS fdoc FROM ch GROUP BY ctext
        |), fo AS (
        |  SELECT c.ctext, f.fdoc, min(c.ci) AS fci
        |  FROM ch c JOIN fd f ON c.ctext = f.ctext AND c.doc_id = f.fdoc
        |  GROUP BY c.ctext, f.fdoc
        |)
        |SELECT c.doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN c.doc_id = o.fdoc AND c.ci = o.fci
        |    THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN c.doc_id = o.fdoc AND c.ci = o.fci
        |    THEN c.ctext END, ' ' ORDER BY c.ci), '') AS text_clean
        |FROM ch c JOIN fo o ON c.ctext = o.ctext
        |GROUP BY c.doc_id""".stripMargin) { (s, dir) =>
      Dedup.chunkDedupRewrite(docs(s, dir), w = 8)
    },
    // BOILERPLATE filter: a chunk in >= 2 distinct docs is template
    // text — cut EVERY occurrence (vs the keep-first rewrite above)
    // Boilerplate twin: same tiling, distinct-doc frequency per chunk
    // text, kept = below the minDocs threshold (drop-ALL semantics —
    // no first-occurrence argmin), ordered string_agg reassembly
    Gate("text_boilerplate", 0.94,
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '') AS t
        |  FROM documents
        |), nc AS (
        |  SELECT doc_id, t, CAST(floor((len(t) + 7) / 8.0) AS BIGINT) AS n
        |  FROM tok WHERE len(t) > 0
        |), ex AS (
        |  SELECT doc_id, t, unnest(generate_series(0, n - 1)) AS ci FROM nc
        |), ch AS (
        |  SELECT doc_id, ci,
        |    array_to_string(t[(ci*8+1):(ci*8+8)], ' ') AS ctext
        |  FROM ex
        |), fr AS (
        |  SELECT ctext, count(DISTINCT doc_id) AS nd FROM ch GROUP BY ctext
        |)
        |SELECT c.doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN f.nd < 2 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_boiler,
        |  floor(sum(CASE WHEN f.nd < 2 THEN 0 ELSE 1 END)
        |    / count(*) * 100 + 0.5) / 100 AS boiler_frac,
        |  coalesce(string_agg(CASE WHEN f.nd < 2 THEN c.ctext END,
        |    ' ' ORDER BY c.ci), '') AS text_clean
        |FROM ch c JOIN fr f USING (ctext)
        |GROUP BY c.doc_id""".stripMargin) { (s, dir) =>
      Dedup.boilerplateRewrite(docs(s, dir), w = 8, minDocs = 2)
    },
    // cross-source near-dup contamination matrix: verified minhash
    // pairs rolled up by ordered source pair — which feeds mirror
    // each other (diagonal = within-source near-dups)
    Gate("dedup_cross_matrix", 3.08, crossMatrixSql) { (s, dir) =>
      Dedup.crossSourceMatrix(docs(s, dir))
    },
    // the SENTENCE-granularity rewrite (round-9 verdict #6): collapse
    // corpus-wide duplicate sentences keeping first occurrences,
    // reassemble the cleaned documents — the layer between exact-doc
    // and token-chunk dedup
    // Sentence-rewrite twin: the text_sentences segmentation + the
    // dedup_chunk_rewrite first-occurrence device (two-stage min:
    // first doc, then min idx within it = min(struct(doc_id, idx)))
    // and the ORDER BY string_agg reassembly
    Gate("dedup_sentence_rewrite", 0.79,
      """WITH ex AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^.!?]+[.!?]*') AS ss
        |  FROM documents
        |), ix AS (
        |  SELECT doc_id, ss, unnest(generate_series(1, len(ss))) AS i
        |  FROM ex
        |), sents AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS si, trim(ss[i]) AS s
        |  FROM ix WHERE trim(ss[i]) <> ''
        |), fd AS (
        |  SELECT s, min(doc_id) AS fdoc FROM sents GROUP BY s
        |), fo AS (
        |  SELECT c.s, f.fdoc, min(c.si) AS fsi
        |  FROM sents c JOIN fd f ON c.s = f.s AND c.doc_id = f.fdoc
        |  GROUP BY c.s, f.fdoc
        |)
        |SELECT c.doc_id, count(*) AS n_sentences,
        |  CAST(sum(CASE WHEN c.doc_id = o.fdoc AND c.si = o.fsi
        |    THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN c.doc_id = o.fdoc AND c.si = o.fsi
        |    THEN c.s END, ' ' ORDER BY c.si), '') AS text_clean
        |FROM sents c JOIN fo o ON c.s = o.s
        |GROUP BY c.doc_id""".stripMargin) { (s, dir) =>
      Dedup.sentenceDedupRewrite(docs(s, dir))
    },
    // delta-vs-corpus incremental dedup (the daily-ingestion pattern):
    // new-batch docs (doc_id ≡ 0 mod 5) dedup against the corpus rest
    // via band joins + exact verify, never corpus×corpus
    // Incremental-dedup twin: exact Jaccard pairs restricted to the
    // delta→corpus and delta→delta(a<b) orientations, aggregated per
    // delta doc; the Spark LSH path's verified candidates must land on
    // exactly these pairs (the dedup_minhash_lsh miss-prob argument)
    Gate("dedup_incremental", 3.35, dedupIncrementalOracle) { (s, dir) =>
      Dedup.incrementalMinHash(docs(s, dir))
    },
    // the persisted-lake-table form of the same dedup: corpus bands +
    // shingles written once (incl. an append cycle), the delta deduped
    // against the RE-READ index — shares dedup_incremental's twin (the
    // shared-tail construction). The corpus is split 2/5+2/5 across
    // write+append so the append path is exercised on real rows.
    // persisted-index round-trip: same delta/corpus sets (corpus =
    // doc_id % 5 != 0 across write+append), same contract — shares the
    // twin above by the shared-tail construction
    Gate("dedup_index_artifact", 8.12, dedupIncrementalOracle) { (s, dir) =>
      val d = docs(s, dir)
      val out = scratchDir("dedupidx")
      Dedup.dedupIndexWrite(
        d.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2),
        out)
      Dedup.dedupIndexAppend(
        d.filter(col("doc_id") % 5 === 3 || col("doc_id") % 5 === 4),
        out)
      Dedup.incrementalMinHashFromIndex(
        d.filter(col("doc_id") % 5 === 0), out)
    },

    // --- similarity search (north-star) ---
    // norm > 0 on both sides: the Spark rankers exclude zero vectors
    // (NULL cosine filtered before the heap); the twin must not rank
    // their all-NULL rows either
    Gate("sim_topk_brute", 0.55,
      s"""WITH $vecCtes, q AS (
         |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm
         |  FROM normed WHERE vec_id % 50 = 0 AND norm > 0
         |), s AS (
         |  SELECT query_id, c.vec_id,
         |    list_sum(list_transform(generate_series(1, len(qv)),
         |      i -> qv[i] * c.v[i])) / (qnorm * c.norm) AS cos
         |  FROM q JOIN normed c ON c.vec_id != q.query_id
         |              AND c.norm > 0
         |)
         |SELECT query_id, vec_id AS neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS "rank"
         |FROM s
         |QUALIFY "rank" <= 10""".stripMargin) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      Similarity.bruteTopK(e.filter(col("vec_id") % 50 === 0), e)
    },
    // Full twin of the sign-bucket LSH: bucket = sign bits of the first
    // 8 coordinates, probe set = own bucket + all Hamming-1 flips (xor),
    // cosine over the probed buckets, top-10 by (cos desc, vec_id asc) —
    // exactly Similarity.lshTopK's plan, no hashing anywhere.
    Gate("sim_topk_lsh", 0.68,
      s"""WITH $vecCtes, cb AS (
         |  SELECT vec_id, v, norm,
         |    (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN v[2] > 0 THEN 2 ELSE 0 END
         |     + CASE WHEN v[3] > 0 THEN 4 ELSE 0 END
         |     + CASE WHEN v[4] > 0 THEN 8 ELSE 0 END
         |     + CASE WHEN v[5] > 0 THEN 16 ELSE 0 END
         |     + CASE WHEN v[6] > 0 THEN 32 ELSE 0 END
         |     + CASE WHEN v[7] > 0 THEN 64 ELSE 0 END
         |     + CASE WHEN v[8] > 0 THEN 128 ELSE 0 END) AS bucket
         |  FROM normed WHERE norm > 0
         |), q AS (
         |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm,
         |         bucket AS qb
         |  FROM cb WHERE vec_id % 50 = 0
         |), p AS (
         |  SELECT query_id, qv, qnorm,
         |    unnest([qb, xor(qb, 1), xor(qb, 2), xor(qb, 4), xor(qb, 8),
         |            xor(qb, 16), xor(qb, 32), xor(qb, 64), xor(qb, 128)])
         |      AS bucket
         |  FROM q
         |), s AS (
         |  SELECT query_id, c.vec_id,
         |    list_sum(list_transform(generate_series(1, len(qv)),
         |      i -> qv[i] * c.v[i])) / (qnorm * c.norm) AS cos
         |  FROM p JOIN cb c ON c.bucket = p.bucket
         |                  AND c.vec_id != p.query_id
         |)
         |SELECT query_id, vec_id AS neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS "rank"
         |FROM s
         |QUALIFY "rank" <= 10""".stripMargin) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      Similarity.lshTopK(e.filter(col("vec_id") % 50 === 0), e)
    },
    // mutual-kNN graph: every vector ranks its bucket-blocked top-5,
    // an edge survives only if it's in BOTH endpoints' lists
    // Mutual-kNN graph twin: the LSH twin with EVERY vector as a
    // query, rank ≤ 5, mutuality via the self-join on swapped pairs,
    // round2 cosine re-attached to the survivors
    Gate("sim_knn_graph", 1.26,
      s"""WITH $vecCtes, cb AS (
         |  SELECT vec_id, v, norm,
         |    (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN v[2] > 0 THEN 2 ELSE 0 END
         |     + CASE WHEN v[3] > 0 THEN 4 ELSE 0 END
         |     + CASE WHEN v[4] > 0 THEN 8 ELSE 0 END
         |     + CASE WHEN v[5] > 0 THEN 16 ELSE 0 END
         |     + CASE WHEN v[6] > 0 THEN 32 ELSE 0 END
         |     + CASE WHEN v[7] > 0 THEN 64 ELSE 0 END
         |     + CASE WHEN v[8] > 0 THEN 128 ELSE 0 END) AS bucket
         |  FROM normed WHERE norm > 0
         |), p AS (
         |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm,
         |    unnest([bucket, xor(bucket, 1), xor(bucket, 2),
         |            xor(bucket, 4), xor(bucket, 8), xor(bucket, 16),
         |            xor(bucket, 32), xor(bucket, 64), xor(bucket, 128)])
         |      AS bucket
         |  FROM cb
         |), s AS (
         |  SELECT query_id, c.vec_id,
         |    list_sum(list_transform(generate_series(1, len(qv)),
         |      i -> qv[i] * c.v[i])) / (qnorm * c.norm) AS cos
         |  FROM p JOIN cb c ON c.bucket = p.bucket
         |                  AND c.vec_id != p.query_id
         |), knn AS (
         |  SELECT query_id, vec_id AS neighbor_id
         |  FROM s
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id ASC) <= 5
         |), mu AS (
         |  SELECT a.query_id AS u, a.neighbor_id AS v
         |  FROM knn a JOIN knn b ON a.query_id = b.neighbor_id
         |                       AND a.neighbor_id = b.query_id
         |  WHERE a.query_id < a.neighbor_id
         |)
         |SELECT mu.u, mu.v,
         |  floor(list_sum(list_transform(generate_series(1, len(nu.v)),
         |      i -> nu.v[i] * nv.v[i])) / (nu.norm * nv.norm)
         |    * 100 + 0.5) / 100 AS cos
         |FROM mu
         |JOIN normed nu ON nu.vec_id = mu.u
         |JOIN normed nv ON nv.vec_id = mu.v""".stripMargin) { (s, dir) =>
      Similarity.knnGraphMutual(tbl(s, dir, "embeddings"))
    },
    // embedding density clusters: min-label components over the
    // reciprocal-2NN graph, run to convergence (rounds in output)
    // kNN-components twin: mutual-2NN edges + unrolled min-label with
    // the first-zero-change convergence pick
    Gate("sim_knn_components", 5.77, KnnComponentsSql(k = 2, cap = 14)) { (s, dir) =>
      Similarity.knnComponents(tbl(s, dir, "embeddings"))
    },
    // the IVF-routed density clusters (round-10: the round-9 "cluster
    // quality inherits the weak blocking" finding closed end-to-end —
    // the component structure a semantic-dedup pass acts on is now
    // built from 16-of-128 routed neighborhoods (re-pinned round 11,
    // IvfFrontierProbe: +purity AND +coverage), recall 2.6–4.7× the
    // sign buckets at comparable scanned fraction)
    // IVF-routed components twin: the same unrolled tail over the
    // parameterized IVF chain (cap re-probed per SF on landing —
    // higher-recall graph, more true edges)
    Gate("sim_knn_components_ivf", 4.31, KnnComponentsIvfSql(k = 2, cap = 14)) { (s, dir) =>
      Similarity.knnComponentsIvf(tbl(s, dir, "embeddings"))
    },
    // SemDeDup acting on the IVF-routed density clusters (round-10
    // verdict #1: the measured-better blocking, now consumed by the
    // dedup pass): per reciprocal-kNN component keep the
    // highest-quality member (document length via the aligned doc_id),
    // ties to the lowest id — one component-keyed argmax, no pair join
    Gate("dedup_semantic_knn", 5.82,
      SemanticDedupKnnSql(k = 2, cap = 14, threshold = 0.5)) { (s, dir) =>
      Dedup.semanticDedupKnn(tbl(s, dir, "embeddings"),
        docs(s, dir).select(col("doc_id").as("vec_id"),
          col("n_chars")), qCol = "n_chars")
    },
    // recall@10 of the LSH blocking vs exact brute on a query sample —
    // the eval that prices the bucket+Hamming-1 probe trade
    // kNN-recall twin: the brute ranking and the LSH ranking side by
    // side, inner-join overlap per query, round2 recall
    Gate("sim_knn_recall", 1.61,
      s"""WITH $vecCtes, q AS (
         |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm
         |  FROM normed WHERE vec_id % 10 = 0 AND norm > 0
         |), s AS (
         |  SELECT query_id, c.vec_id,
         |    list_sum(list_transform(generate_series(1, len(qv)),
         |      i -> qv[i] * c.v[i])) / (qnorm * c.norm) AS cos
         |  FROM q JOIN normed c ON c.vec_id != q.query_id
         |              AND c.norm > 0
         |), ex AS (
         |  SELECT query_id, vec_id AS neighbor_id FROM s
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id ASC) <= 10
         |), cb AS (
         |  SELECT vec_id, v, norm,
         |    (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN v[2] > 0 THEN 2 ELSE 0 END
         |     + CASE WHEN v[3] > 0 THEN 4 ELSE 0 END
         |     + CASE WHEN v[4] > 0 THEN 8 ELSE 0 END
         |     + CASE WHEN v[5] > 0 THEN 16 ELSE 0 END
         |     + CASE WHEN v[6] > 0 THEN 32 ELSE 0 END
         |     + CASE WHEN v[7] > 0 THEN 64 ELSE 0 END
         |     + CASE WHEN v[8] > 0 THEN 128 ELSE 0 END) AS bucket
         |  FROM normed WHERE norm > 0
         |), p AS (
         |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm,
         |    unnest([bucket, xor(bucket, 1), xor(bucket, 2),
         |            xor(bucket, 4), xor(bucket, 8), xor(bucket, 16),
         |            xor(bucket, 32), xor(bucket, 64), xor(bucket, 128)])
         |      AS bucket
         |  FROM cb WHERE vec_id % 10 = 0
         |), ls AS (
         |  SELECT query_id, c.vec_id,
         |    list_sum(list_transform(generate_series(1, len(qv)),
         |      i -> qv[i] * c.v[i])) / (qnorm * c.norm) AS cos
         |  FROM p JOIN cb c ON c.bucket = p.bucket
         |                  AND c.vec_id != p.query_id
         |), ap AS (
         |  SELECT query_id, vec_id AS neighbor_id FROM ls
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id ASC) <= 10
         |), h AS (
         |  SELECT ex.query_id, count(*) AS h
         |  FROM ex JOIN ap USING (query_id, neighbor_id)
         |  GROUP BY ex.query_id
         |)
         |SELECT qs.query_id, coalesce(h.h, 0) AS n_hits,
         |  floor(coalesce(h.h, 0) / 10.0 * 100 + 0.5) / 100 AS recall
         |FROM (SELECT DISTINCT query_id FROM ex) qs
         |LEFT JOIN h ON qs.query_id = h.query_id""".stripMargin) { (s, dir) =>
      Similarity.knnRecall(tbl(s, dir, "embeddings"))
    },
    // per-label embedding-space health report: counts, zero vectors,
    // mean norm, centroid tightness — the QA table before trusting
    // ANN/semantic-dedup results on a corpus
    // Embedding health-report twin: same unit-vector chain, per-dim
    // DECIMAL(30,12) centroid means, fold-left cnorm/dots in identical
    // order, DECIMAL member-cosine means, round2
    Gate("sim_embed_report", 1.04,
      """WITH vl AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), nl AS (
        |  SELECT vec_id, label, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
        |  FROM vl
        |), stats AS (
        |  SELECT label, count(*) AS n_vecs,
        |    CAST(sum(CASE WHEN norm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero,
        |    CAST(sum(CAST(norm AS DECIMAL(30,12))) AS DOUBLE)
        |      / count(*) AS mn
        |  FROM nl GROUP BY label
        |), units AS (
        |  SELECT label, list_transform(v, x -> x / norm) AS u
        |  FROM nl WHERE norm > 0
        |), dims AS (SELECT max(len(v)) AS nd FROM vl),
        |m AS (
        |  SELECT label, gs.i,
        |    CAST(sum(CAST(u[gs.i] AS DECIMAL(30,12))) AS DOUBLE)
        |      / count(*) AS m
        |  FROM units CROSS JOIN (SELECT unnest(generate_series(1,
        |    (SELECT nd FROM dims))) AS i) gs
        |  GROUP BY label, gs.i
        |), cent AS (
        |  SELECT label, list(m ORDER BY i) AS cent FROM m GROUP BY label
        |), cn AS (
        |  SELECT label, cent,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(cent, x -> x * x)), (acc, x) -> acc + x))
        |      AS cnorm
        |  FROM cent
        |), cosr AS (
        |  SELECT un.label,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(generate_series(1, len(un.u)),
        |        i -> un.u[i] * c.cent[i])), (acc, x) -> acc + x)
        |      / nullif(c.cnorm, 0) AS cos
        |  FROM units un JOIN cn c USING (label)
        |), t AS (
        |  SELECT label,
        |    CAST(sum(CAST(cos AS DECIMAL(30,12))) AS DOUBLE)
        |      / count(*) AS tr
        |  FROM cosr GROUP BY label
        |)
        |SELECT s.label, s.n_vecs, s.n_zero,
        |  floor(mn * 100 + 0.5) / 100 AS mean_norm,
        |  floor(tr * 100 + 0.5) / 100 AS tightness
        |FROM stats s LEFT JOIN t USING (label)""".stripMargin) { (s, dir) =>
      Similarity.embedReport(tbl(s, dir, "embeddings"))
    },
    // the IVF-routed kNN graph (round-9 verdict #1): same mutual-edge
    // construction, blocking upgraded from sign buckets to 16-of-128
    // inverted-file routing in the SAME cosine metric
    // IVF-routed kNN graph twin: the parameterized 16-of-128 IVF
    // routing chain (every nonzero vector is a query), top-5 per
    // query, mutual-edge join, round2 cosine re-attached from the
    // full vectors — replays knnGraphMutualIvf exactly.
    Gate("sim_knn_graph_ivf", 1.73,
      s"""WITH $vecCtes, ${ivfKnnCtes(128, 16, "TRUE")}, knn AS (
         |  SELECT query_id, vec_id AS neighbor_id FROM ivs
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id ASC) <= 5
         |), mu AS (
         |  SELECT a.query_id AS u, a.neighbor_id AS v
         |  FROM knn a JOIN knn b ON a.query_id = b.neighbor_id
         |                       AND a.neighbor_id = b.query_id
         |  WHERE a.query_id < a.neighbor_id
         |)
         |SELECT mu.u, mu.v,
         |  floor(list_sum(list_transform(generate_series(1, len(nu.v)),
         |      i -> nu.v[i] * nv.v[i])) / (nu.norm * nv.norm)
         |    * 100 + 0.5) / 100 AS cos
         |FROM mu
         |JOIN normed nu ON nu.vec_id = mu.u
         |JOIN normed nv ON nv.vec_id = mu.v""".stripMargin) { (s, dir) =>
      Similarity.knnGraphMutualIvf(tbl(s, dir, "embeddings"))
    },
    // recall@10 of that IVF routing under the same harness — measured
    // 2.6–4.7× the sign-bucket recall at comparable scanned fraction
    // (kNN-blocking table, BASELINE.md)
    // IVF-routed kNN-recall twin: the brute ranking and the 16-of-128
    // IVF ranking side by side, inner-join overlap per query, round2
    // recall — the sim_knn_recall twin with the approximate arm
    // swapped to the parameterized IVF chain.
    Gate("sim_knn_recall_ivf", 2.97,
      s"""WITH $vecCtes, q AS (
         |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm
         |  FROM normed WHERE vec_id % 10 = 0 AND norm > 0
         |), s AS (
         |  SELECT query_id, c.vec_id,
         |    list_sum(list_transform(generate_series(1, len(qv)),
         |      i -> qv[i] * c.v[i])) / (qnorm * c.norm) AS cos
         |  FROM q JOIN normed c ON c.vec_id != q.query_id
         |              AND c.norm > 0
         |), ex AS (
         |  SELECT query_id, vec_id AS neighbor_id FROM s
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id ASC) <= 10
         |), ${ivfKnnCtes(128, 16, "vec_id % 10 = 0")}, ap AS (
         |  SELECT query_id, vec_id AS neighbor_id FROM ivs
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id ASC) <= 10
         |), h AS (
         |  SELECT ex.query_id, count(*) AS h
         |  FROM ex JOIN ap USING (query_id, neighbor_id)
         |  GROUP BY ex.query_id
         |)
         |SELECT qspine.query_id, coalesce(h.h, 0) AS n_hits,
         |  floor(coalesce(h.h, 0) / 10.0 * 100 + 0.5) / 100 AS recall
         |FROM (SELECT DISTINCT query_id FROM ex) qspine
         |LEFT JOIN h ON qspine.query_id = h.query_id""".stripMargin) { (s, dir) =>
      Similarity.knnRecallIvf(tbl(s, dir, "embeddings"))
    },
    // IVF OPERATING-POINT AUTO-TUNE: the recall/cost frontier over
    // candidate nProbes in ONE routed scan (smaller probe sets are
    // prefixes of the max-probe routing order), smallest candidate
    // meeting the 0.4 recall target flagged chosen
    // Auto-tune twin: the recall twin's brute truth + the max-probe
    // IVF chain with prank kept; each candidate nProbe re-ranks the
    // prank-prefix of the SAME scored pairs (one scan, all operating
    // points), exact integer hit sums, round2 mean, min-meeting-
    // candidate flagged chosen (false everywhere when none meet)
    Gate("sim_ivf_autotune", 3.53,
      s"""WITH $vecCtes, q AS (
         |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm
         |  FROM normed WHERE vec_id % 10 = 0 AND norm > 0
         |), s AS (
         |  SELECT query_id, c.vec_id,
         |    list_sum(list_transform(generate_series(1, len(qv)),
         |      i -> qv[i] * c.v[i])) / (qnorm * c.norm) AS cos
         |  FROM q JOIN normed c ON c.vec_id != q.query_id
         |              AND c.norm > 0
         |), ex AS (
         |  SELECT query_id, vec_id AS neighbor_id FROM s
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id ASC) <= 10
         |), ${ivfKnnCtes(128, 16, "vec_id % 10 = 0")}, pc AS (
         |  SELECT CAST(unnest([1, 2, 4, 8, 16]) AS BIGINT) AS n_probe
         |), sw AS (
         |  SELECT pc.n_probe, i.query_id, i.vec_id, i.cos
         |  FROM ivs i JOIN pc ON i.prank <= pc.n_probe
         |), sc AS (
         |  SELECT n_probe, count(*) AS n_scanned FROM sw GROUP BY n_probe
         |), ap AS (
         |  SELECT n_probe, query_id, vec_id AS neighbor_id FROM sw
         |  QUALIFY row_number() OVER (PARTITION BY n_probe, query_id
         |    ORDER BY cos DESC, vec_id ASC) <= 10
         |), h AS (
         |  SELECT n_probe, count(*) AS n_hits
         |  FROM ap JOIN ex USING (query_id, neighbor_id)
         |  GROUP BY n_probe
         |), nq AS (
         |  SELECT count(DISTINCT query_id) AS n_queries FROM ex
         |), r AS (
         |  SELECT pc.n_probe, coalesce(sc.n_scanned, 0) AS n_scanned,
         |    coalesce(h.n_hits, 0) AS n_hits, nq.n_queries,
         |    floor(coalesce(h.n_hits, 0) / (10.0 * nq.n_queries)
         |      * 100 + 0.5) / 100 AS mean_recall
         |  FROM pc LEFT JOIN sc USING (n_probe)
         |  LEFT JOIN h USING (n_probe), nq
         |), b AS (
         |  SELECT min(CASE WHEN mean_recall >= 0.4 THEN n_probe END)
         |    AS best FROM r
         |)
         |SELECT n_probe, n_scanned, n_hits, n_queries, mean_recall,
         |  coalesce(n_probe = b.best, FALSE) AS chosen
         |FROM r, b""".stripMargin) { (s, dir) =>
      Similarity.ivfAutotune(tbl(s, dir, "embeddings"))
    },
    // IVF RANGE search — the radius half of the query surface:
    // everything within cosine >= 0.4 of the sampled queries, routed
    // through the same 16-of-128 lists and exact-verified (shared
    // ivfScored front with the top-k tail)
    // IVF range-search twin: the shared routed-and-scored chain, a
    // threshold filter instead of the top-k QUALIFY
    Gate("sim_range_ivf", 0.93,
      s"""WITH $vecCtes, ${ivfKnnCtes(128, 16, "vec_id % 10 = 0")}
         |SELECT query_id, vec_id AS neighbor_id,
         |  floor(cos * 100 + 0.5) / 100 AS cos
         |FROM ivs WHERE cos >= 0.4""".stripMargin) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      Similarity.ivfRangeSearch(e.filter(col("vec_id") % 10 === 0), e,
        threshold = 0.4, nCentroids = 128, nProbe = 16)
    },
    // MMR diversity re-rank of the brute candidates (greedy
    // rel-vs-max-selected-sim trade at λ=1/2; see Similarity.mmrTopK)
    // MMR replay: brute top-8 candidates, per-query candidate×candidate
    // cosine matrix, then the greedy λ=1/2 selection unrolled as two
    // [max-sim-to-selected → argmax] CTE rounds after the seed pick —
    // the identical double-precision dot chain and (desc, vec_id asc)
    // tie pins as the Spark plan
    Gate("sim_mmr", 1.51,
      s"""WITH $vecCtes, q AS (
         |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm
         |  FROM normed WHERE vec_id % 50 = 0 AND norm > 0
         |), sc AS (
         |  SELECT query_id, c.vec_id, c.v, c.norm,
         |    list_sum(list_transform(generate_series(1, len(qv)),
         |      i -> qv[i] * c.v[i])) / (qnorm * c.norm) AS rel
         |  FROM q JOIN normed c ON c.vec_id != q.query_id
         |              AND c.norm > 0
         |), cand AS (
         |  SELECT query_id, vec_id, v, norm, rel FROM sc
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, vec_id ASC) <= 8
         |), ps AS (
         |  SELECT a.query_id, a.vec_id AS d, b.vec_id AS s,
         |    list_sum(list_transform(generate_series(1, len(a.v)),
         |      i -> a.v[i] * b.v[i])) / (a.norm * b.norm) AS sim
         |  FROM cand a JOIN cand b ON a.query_id = b.query_id
         |    AND a.vec_id != b.vec_id
         |), sel1 AS (
         |  SELECT query_id, vec_id, rel FROM cand
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, vec_id ASC) = 1
         |), rem1 AS (
         |  SELECT c.query_id, c.vec_id, c.rel FROM cand c
         |  WHERE NOT EXISTS (SELECT 1 FROM sel1 s
         |    WHERE s.query_id = c.query_id AND s.vec_id = c.vec_id)
         |), m2 AS (
         |  SELECT ps.query_id, ps.d, max(ps.sim) AS ms
         |  FROM ps JOIN sel1 s ON s.query_id = ps.query_id
         |    AND s.vec_id = ps.s
         |  GROUP BY 1, 2
         |), pick2 AS (
         |  SELECT r.query_id, r.vec_id FROM rem1 r
         |  JOIN m2 ON m2.query_id = r.query_id AND m2.d = r.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY r.query_id
         |    ORDER BY r.rel * 0.5 - m2.ms * 0.5 DESC, r.vec_id ASC) = 1
         |), sel2 AS (
         |  SELECT query_id, vec_id FROM sel1
         |  UNION ALL SELECT query_id, vec_id FROM pick2
         |), rem2 AS (
         |  SELECT r.query_id, r.vec_id, r.rel FROM rem1 r
         |  WHERE NOT EXISTS (SELECT 1 FROM pick2 p
         |    WHERE p.query_id = r.query_id AND p.vec_id = r.vec_id)
         |), m3 AS (
         |  SELECT ps.query_id, ps.d, max(ps.sim) AS ms
         |  FROM ps JOIN sel2 s ON s.query_id = ps.query_id
         |    AND s.vec_id = ps.s
         |  GROUP BY 1, 2
         |), pick3 AS (
         |  SELECT r.query_id, r.vec_id FROM rem2 r
         |  JOIN m3 ON m3.query_id = r.query_id AND m3.d = r.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY r.query_id
         |    ORDER BY r.rel * 0.5 - m3.ms * 0.5 DESC, r.vec_id ASC) = 1
         |)
         |SELECT query_id, vec_id AS neighbor_id,
         |  CAST(1 AS BIGINT) AS mmr_rank FROM sel1
         |UNION ALL SELECT query_id, vec_id, CAST(2 AS BIGINT)
         |FROM pick2
         |UNION ALL SELECT query_id, vec_id, CAST(3 AS BIGINT)
         |FROM pick3""".stripMargin) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      Similarity.mmrTopK(e.filter(col("vec_id") % 50 === 0), e)
    },

    // IVF twin: deterministic 16-centroid codebook (lowest-id vectors),
    // nearest-list assignment and 4-probe query routing with (cos desc,
    // cid asc) ties — replays Similarity.ivfTopK exactly via the shared
    // routing/scoring tail.
    Gate("sim_topk_ivf", 1.02, simTopkIvfSql) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      Similarity.ivfTopK(e.filter(col("vec_id") % 50 === 0), e)
    },
    // Persisted-index IVF (round-7 verdict #4): build codebook +
    // cid-partitioned postings, write them as parquet, and serve the
    // SAME queries from the re-read artifact — the oracle is
    // sim_topk_ivf's own twin, so the gate proves build→persist→serve
    // is bit-identical to the in-plan ranking.
    // Persisted-index IVF twin: the SAME ranking as sim_topk_ivf —
    // the parquet round-trip must be the identity (vectors/norms are
    // doubles, bit-exact through parquet), so one oracle serves both.
    Gate("sim_topk_ivf_persisted", 1.82, simTopkIvfSql) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      val out = scratchDir("ivfindex")
      Similarity.ivfIndexWrite(e, out)
      Similarity.ivfTopKFromIndex(e.filter(col("vec_id") % 50 === 0), out)
    },
    // Incremental index maintenance: build on 6/7 of the corpus,
    // APPEND the held-out 1/7 against the stored codebook, serve —
    // must be bit-identical to a full rebuild over the union (the
    // twin IS that rebuild, with the codebook drawn from the build
    // subset only)
    // Incremental-append twin: the FULL REBUILD over the union, with
    // the codebook drawn from the build subset (vec_id % 7 != 0) —
    // append-then-serve must equal rebuild because assignment is
    // per-vector independent under a fixed codebook.
    Gate("sim_topk_ivf_updated", 2.38,
      s"""WITH $vecCtes, nz AS (
         |  SELECT vec_id, v, norm FROM normed WHERE norm > 0
         |), cent AS (
         |  SELECT vec_id AS cid, v AS cv, norm AS cnorm FROM nz
         |  WHERE vec_id % 7 != 0
         |  ORDER BY vec_id ASC LIMIT 16
         |), $ivfTailSql""".stripMargin) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      val out = scratchDir("ivfupd")
      Similarity.ivfIndexWrite(e.filter(col("vec_id") % 7 =!= 0), out)
      Similarity.ivfIndexAppend(e.filter(col("vec_id") % 7 === 0), out)
      Similarity.ivfTopKFromIndex(e.filter(col("vec_id") % 50 === 0), out)
    },
    // IVF over a TRAINED codebook: the deterministic spherical k-means
    // trainer (decimal-summed means → bit-reproducible trajectory) feeds
    // the same routing/scoring plan; the oracle replays all 5 Lloyd
    // iterations in SQL and must land on the identical ranking.
    // Trained-codebook IVF twin: full 5-iteration Lloyd replay + the
    // same routing/scoring tail (see trainedIvfSql).
    Gate("sim_topk_ivf_trained", 3.41, trainedIvfSql()) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      Similarity.ivfTopK(e.filter(col("vec_id") % 50 === 0), e,
        codebook = Some(Similarity.trainCodebook(e)))
    },
    // product quantization + ADC shortlist + exact re-rank; the oracle
    // replays codebook, codes, lookup tables, and both rankings
    // PQ twin: replays the per-subspace codebook (sub-blocks of the 16
    // lowest-id vectors), code assignment (d2 asc, j asc), the ADC
    // decimal sum, the 160-candidate shortlist, and the exact-L2
    // re-rank. All distances are x² - 2·x·c + c² with left-to-right
    // double arithmetic, matching the engine bit-for-bit.
    Gate("sim_topk_pq", 2.37, simTopkPqSql) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      Similarity.pqTopK(e.filter(col("vec_id") % 50 === 0), e)
    },
    // Persisted-PQ ANN (round-9 verdict #5): train the codebook +
    // encode the corpus ONCE as parquet, serve ADC + exact re-rank for
    // the SAME queries from the re-read artifact — the oracle is
    // sim_topk_pq's own twin, so the gate proves build→persist→serve
    // is bit-identical (the ivfIndexWrite pattern for the compressed
    // half of the ANN story).
    // Persisted-PQ twin: the SAME ranking as sim_topk_pq — the
    // codebook/codes/vectors parquet round-trip must be the identity
    // (floats/doubles are bit-exact through parquet), so one oracle
    // serves both (the sim_topk_ivf_persisted precedent).
    Gate("sim_topk_pq_persisted", 3.29, simTopkPqSql) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      val out = scratchDir("pqindex")
      Similarity.pqIndexWrite(e, out)
      Similarity.pqTopKFromIndex(e.filter(col("vec_id") % 50 === 0), out)
    },
    // IVFADC: coarse 4-of-16 list pruning composed with the PQ codes
    // IVFADC twin: the same PQ fragments, but ADC only over pairs that
    // survive the L2 coarse quantizer (nearest-of-16 assignment, ties
    // ccid asc; 4-probe routing per query).
    Gate("sim_topk_ivfpq", 2.31,
      s"""WITH $pqCtes, coarse AS (
         |  SELECT vec_id AS ccid, v AS ccv, vv AS cc2 FROM full2
         |  ORDER BY vec_id ASC LIMIT 16
         |), cassign AS (
         |  SELECT vec_id, ccid AS cid FROM (
         |    SELECT f.vec_id, c.ccid,
         |      row_number() OVER (PARTITION BY f.vec_id ORDER BY
         |        f.vv - 2*list_sum(list_transform(generate_series(1, 64),
         |          i -> f.v[i] * c.ccv[i])) + c.cc2 ASC, c.ccid ASC) AS rn
         |    FROM full2 f, coarse c)
         |  WHERE rn = 1
         |), probes AS (
         |  SELECT query_id, ccid AS cid FROM (
         |    SELECT f.vec_id AS query_id, c.ccid,
         |      row_number() OVER (PARTITION BY f.vec_id ORDER BY
         |        f.vv - 2*list_sum(list_transform(generate_series(1, 64),
         |          i -> f.v[i] * c.ccv[i])) + c.cc2 ASC, c.ccid ASC) AS rn
         |    FROM full2 f, coarse c WHERE f.vec_id % 50 = 0)
         |  WHERE rn <= 4
         |), pairs AS (
         |  SELECT p.query_id, a.vec_id FROM probes p
         |  JOIN cassign a ON p.cid = a.cid
         |  WHERE a.vec_id != p.query_id
         |), adc AS (
         |  SELECT pr.query_id, pr.vec_id,
         |    CAST(sum(CAST(d.qd2 AS DECIMAL(30,12))) AS DOUBLE) AS ad2
         |  FROM pairs pr
         |  JOIN code e ON pr.vec_id = e.vec_id
         |  JOIN dt d ON d.query_id = pr.query_id
         |            AND d.s = e.s AND d.j = e.j
         |  GROUP BY 1, 2
         |), $pqRerankSql""".stripMargin) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      Similarity.ivfPqTopK(e.filter(col("vec_id") % 50 === 0), e)
    },
    // residual-encoded IVFADC: per-list codebooks over member
    // displacements from the coarse centroid (the canonical deployment)
    // Residual-IVFADC twin: the same coarse routing, then residuals
    // (FLOAT subtraction — DuckDB REAL-REAL stays single-precision,
    // bit-matching Spark's zip_with over float vectors — cast to DOUBLE
    // only afterwards, exactly where VecDotF widens), per-list codebook
    // = the 16 lowest-id members of each list (j = id rank within
    // list), per-(query, probed-list) ADC tables, decimal sum, shared
    // re-rank tail.
    Gate("sim_topk_ivfpq_res", 4.21,
      s"""WITH $pqCtes, coarse AS (
         |  SELECT vec_id AS ccid, v AS ccv, vv AS cc2 FROM full2
         |  ORDER BY vec_id ASC LIMIT 16
         |), cassign AS (
         |  SELECT vec_id, ccid AS cid FROM (
         |    SELECT f.vec_id, c.ccid,
         |      row_number() OVER (PARTITION BY f.vec_id ORDER BY
         |        f.vv - 2*list_sum(list_transform(generate_series(1, 64),
         |          i -> f.v[i] * c.ccv[i])) + c.cc2 ASC, c.ccid ASC) AS rn
         |    FROM full2 f, coarse c)
         |  WHERE rn = 1
         |), probes AS (
         |  SELECT query_id, ccid AS cid FROM (
         |    SELECT f.vec_id AS query_id, c.ccid,
         |      row_number() OVER (PARTITION BY f.vec_id ORDER BY
         |        f.vv - 2*list_sum(list_transform(generate_series(1, 64),
         |          i -> f.v[i] * c.ccv[i])) + c.cc2 ASC, c.ccid ASC) AS rn
         |    FROM full2 f, coarse c WHERE f.vec_id % 50 = 0)
         |  WHERE rn <= 4
         |), resid AS (
         |  SELECT a.vec_id, a.cid,
         |    list_transform(generate_series(1, 64),
         |      i -> CAST(e.embedding[i] - ce.embedding[i] AS DOUBLE))
         |      AS rv
         |  FROM cassign a
         |  JOIN embeddings e ON a.vec_id = e.vec_id
         |  JOIN embeddings ce ON a.cid = ce.vec_id
         |), members AS (
         |  SELECT cid, vec_id,
         |    CAST(row_number() OVER (PARTITION BY cid
         |      ORDER BY vec_id ASC) - 1 AS BIGINT) AS j
         |  FROM cassign
         |  QUALIFY j < 16
         |), rcent AS (
         |  SELECT r.cid, p.s, mb.j, r.rv[p.s*8+1 : p.s*8+8] AS csub,
         |    list_sum(list_transform(r.rv[p.s*8+1 : p.s*8+8],
         |      x -> x*x)) AS c2
         |  FROM members mb
         |  JOIN resid r ON mb.cid = r.cid AND mb.vec_id = r.vec_id,
         |  subsp p
         |), rsub AS (
         |  SELECT vec_id, cid, p.s, rv[p.s*8+1 : p.s*8+8] AS sv,
         |    list_sum(list_transform(rv[p.s*8+1 : p.s*8+8],
         |      x -> x*x)) AS x2
         |  FROM resid, subsp p
         |), rcode AS (
         |  SELECT vec_id, cid, s, j FROM (
         |    SELECT c.vec_id, c.cid, c.s, k.j,
         |      row_number() OVER (PARTITION BY c.vec_id, c.s ORDER BY
         |        c.x2 - 2*list_sum(list_transform(generate_series(1, 8),
         |          i -> c.sv[i] * k.csub[i])) + k.c2 ASC, k.j ASC) AS rn
         |    FROM rsub c JOIN rcent k ON c.cid = k.cid AND c.s = k.s)
         |  WHERE rn = 1
         |), qres AS (
         |  SELECT p.query_id, p.cid,
         |    list_transform(generate_series(1, 64),
         |      i -> CAST(qe.embedding[i] - ce.embedding[i] AS DOUBLE))
         |      AS rq
         |  FROM probes p
         |  JOIN embeddings qe ON p.query_id = qe.vec_id
         |  JOIN embeddings ce ON p.cid = ce.vec_id
         |), qsub AS (
         |  SELECT query_id, cid, p.s, rq[p.s*8+1 : p.s*8+8] AS qsv,
         |    list_sum(list_transform(rq[p.s*8+1 : p.s*8+8],
         |      x -> x*x)) AS q2
         |  FROM qres, subsp p
         |), rdt AS (
         |  SELECT q.query_id, q.cid, q.s, k.j,
         |    q.q2 - 2*list_sum(list_transform(generate_series(1, 8),
         |      i -> q.qsv[i] * k.csub[i])) + k.c2 AS qd2
         |  FROM qsub q JOIN rcent k ON q.cid = k.cid AND q.s = k.s
         |), pairs AS (
         |  SELECT p.query_id, p.cid, a.vec_id FROM probes p
         |  JOIN cassign a ON p.cid = a.cid
         |  WHERE a.vec_id != p.query_id
         |), adc AS (
         |  SELECT pr.query_id, pr.vec_id,
         |    CAST(sum(CAST(d.qd2 AS DECIMAL(30,12))) AS DOUBLE) AS ad2
         |  FROM pairs pr
         |  JOIN rcode e ON pr.vec_id = e.vec_id AND pr.cid = e.cid
         |  JOIN rdt d ON d.query_id = pr.query_id AND d.cid = pr.cid
         |            AND d.s = e.s AND d.j = e.j
         |  GROUP BY 1, 2
         |), $pqRerankSql""".stripMargin) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      Similarity.ivfPqResTopK(e.filter(col("vec_id") % 50 === 0), e)
    },

    // --- sparse TF-IDF document similarity (north-star) ---
    // query subset %50 (the sim_topk_* pattern): the synthetic corpus's
    // 31-word vocabulary makes posting lists corpus-dense, so all-pairs
    // would be quadratic AT THE GATE — the subset keeps the bench
    // honest while the operator itself stays fully general
    // Sparse TF-IDF doc-similarity twin: the q6 weight chain, inverted-
    // index self-join on the word, DECIMAL(30,12)-summed dots/norms
    // (order-independent — bit-identical to the Spark plan's decimal
    // aggregation), query subset %50, (cos desc, id asc) top-5.
    Gate("sim_docs_tfidf", 5.22,
      s"""WITH $idfCtes, v AS (
         |  SELECT t.doc_id, t.word,
         |         floor(t.tf * i.idf * 100 + 0.5) / 100 AS w
         |  FROM tf t JOIN idf i USING (word)
         |), nrm AS (
         |  SELECT doc_id,
         |    sqrt(CAST(sum(CAST(w * w AS DECIMAL(30,12))) AS DOUBLE))
         |      AS norm
         |  FROM v GROUP BY doc_id
         |), d AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(sum(CAST(a.w * b.w AS DECIMAL(30,12))) AS DOUBLE) AS dot
         |  FROM v a JOIN v b ON a.word = b.word AND a.doc_id != b.doc_id
         |  WHERE a.doc_id % 50 = 0
         |  GROUP BY 1, 2
         |), s AS (
         |  SELECT doc_a AS query_id, doc_b AS neighbor_id,
         |    dot / nullif(x.norm * y.norm, 0) AS cos
         |  FROM d JOIN nrm x ON doc_a = x.doc_id
         |         JOIN nrm y ON doc_b = y.doc_id
         |)
         |SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS "rank"
         |FROM s WHERE cos IS NOT NULL
         |QUALIFY "rank" <= 5""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      Similarity.tfIdfDocTopK(d,
        d.filter(col("doc_id") % 50 === 0).select("doc_id"))
    },
    // the hot-posting-list escape hatch EXERCISED: terms with
    // df > 0.78·N are pruned before pairing (on this corpus that drops
    // the ~15 hottest of 31 words and keeps the rest), proving the
    // 100 TB guard is working code with its own oracle — not prose
    // pruned twin: identical chain with the maxDfFrac=0.78 hot-term
    // drop applied BEFORE norms and pairing (the cutoff expression
    // `wdf > 0.78 * n` is the same double arithmetic as the Scala
    // plan's `df > lit(maxDfFrac * n)`, so the pruned word set is
    // bit-identical across engines)
    Gate("sim_docs_tfidf_pruned", 6.14,
      s"""WITH $idfCtes, v0 AS (
         |  SELECT t.doc_id, t.word,
         |         floor(t.tf * i.idf * 100 + 0.5) / 100 AS w
         |  FROM tf t JOIN idf i USING (word)
         |), wdf AS (
         |  SELECT word, count(*) AS wdf FROM v0 GROUP BY word
         |), nd AS (SELECT count(*) AS n FROM documents),
         |v AS (
         |  SELECT v0.doc_id, v0.word, v0.w
         |  FROM v0 JOIN wdf USING (word), nd
         |  WHERE NOT (wdf > 0.78 * n)
         |), nrm AS (
         |  SELECT doc_id,
         |    sqrt(CAST(sum(CAST(w * w AS DECIMAL(30,12))) AS DOUBLE))
         |      AS norm
         |  FROM v GROUP BY doc_id
         |), d AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(sum(CAST(a.w * b.w AS DECIMAL(30,12))) AS DOUBLE) AS dot
         |  FROM v a JOIN v b ON a.word = b.word AND a.doc_id != b.doc_id
         |  WHERE a.doc_id % 50 = 0
         |  GROUP BY 1, 2
         |), s AS (
         |  SELECT doc_a AS query_id, doc_b AS neighbor_id,
         |    dot / nullif(x.norm * y.norm, 0) AS cos
         |  FROM d JOIN nrm x ON doc_a = x.doc_id
         |         JOIN nrm y ON doc_b = y.doc_id
         |)
         |SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS "rank"
         |FROM s WHERE cos IS NOT NULL
         |QUALIFY "rank" <= 5""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      Similarity.tfIdfDocTopK(d,
        d.filter(col("doc_id") % 50 === 0).select("doc_id"),
        maxDfFrac = 0.78)
    },

    // --- BM25 relevance ranking (north-star text retrieval) ---
    // BM25 twin: the shared token CTEs, dl/N/avgdl aggs, the pinned
    // two-stage rounding (each factor is round2'd BEFORE the multiply,
    // mirroring Search.bm25TopK), DECIMAL(20,8) order-independent sum,
    // (score desc, doc_id asc) top-10. The k1/b constants are
    // interpolated from Search.K1/B so both engines parse the identical
    // shortest-repr double literals; avgdl is two exact BIGINTs divided
    // once (no `avg`), matching the Scala plan.
    Gate("text_bm25", 2.32, textBm25Sql) { (s, dir) =>
      Search.bm25TopK(docs(s, dir), TestProbeWords)
    },
    // Persisted-index BM25 (round-9 verdict #3): build the inverted
    // posting lists + per-term idf + corpus scalars ONCE as parquet,
    // then serve the SAME query from the re-read artifact — the oracle
    // is text_bm25's own twin, so the gate proves build→persist→serve
    // is bit-identical to the in-plan ranking (the
    // sim_topk_ivf_persisted pattern applied to lexical search).
    // Persisted-index BM25 twin: the SAME ranking as text_bm25 — the
    // postings/wordstats/stats parquet round-trip must be the identity
    // on the ranking (stored doubles are bit-exact), so one oracle
    // serves both (the sim_topk_ivf_persisted precedent).
    Gate("text_bm25_from_index", 2.87, textBm25Sql) { (s, dir) =>
      val out = scratchDir("bm25idx")
      Search.bm25IndexWrite(docs(s, dir), out)
      Search.bm25TopKFromIndex(s, out, TestProbeWords)
    },
    // hybrid lexical+dense retrieval: BM25 top-20 and embedded-query
    // cosine top-20 fused by reciprocal-rank (rrf = Σ 1/(60+rank))
    // hybrid-RRF twin: the text_bm25 chain at LIMIT 20 + the
    // hash-embed chain over documents ∪ the (-1, query-words)
    // pseudo-doc, each ranked (score/cos DESC, doc_id ASC), full-outer
    // fused by Σ 1/(60+rank) rounded to 6 dp, doc_id tie pin. The SAME
    // twin serves text_hybrid_rrf_from_index — the persisted two-tower
    // artifact must be the identity on the fused ranking.
    Gate("text_hybrid_rrf", 4.39, textHybridRrfSql) { (s, dir) =>
      Search.hybridRrf(docs(s, dir), TestProbeWords)
    },
    // the same fusion served ENTIRELY from the persisted two-tower
    // artifact (stored BM25 postings + stored dense vectors): the
    // corpus text is touched once at build, never at query time —
    // bit-identical to the in-plan fusion (shared rrfFuse tail; the
    // dense embedding is per-doc pure), pinned by the shared twin
    Gate("text_hybrid_rrf_from_index", 5.19, textHybridRrfSql) { (s, dir) =>
      val out = scratchDir("hybrididx")
      Search.hybridIndexWrite(docs(s, dir), out)
      Search.hybridRrfFromIndex(s, out, TestProbeWords)
    },

    // --- composed retrieval index (the pipe_curate pattern for RAG) ---
    // chunk → hashing-trick sparse embedding → exact integer-cosine
    // top-k, ONE Catalyst plan across three operator families;
    // chunk_key = doc_id·1000 + chunk_id (chunks per doc ≪ 1000), query
    // set = keys ≡ 0 (mod 97) (prime, so it cuts across docs AND
    // chunk positions — mod 50 would select every doc's chunk 0)
    // RAG-index twin: the text_chunk CTE chain (same 64/48 constants),
    // chunk keys, the md5 hashing-trick buckets over chunk text, then
    // exact INTEGER dots/norms — the only floating point is
    // sqrt/division over exact longs, so no decimal routing is needed
    // and the cosines are bit-identical by construction
    Gate("pipe_rag_index", 3.0,
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '') AS t
        |  FROM documents
        |), nc AS (
        |  SELECT doc_id, t,
        |    greatest(1, CAST(floor((len(t) - 16 + 47) / 48.0) AS BIGINT)) AS n
        |  FROM tok WHERE len(t) > 0
        |), ex AS (
        |  SELECT doc_id, t, unnest(generate_series(0, n - 1)) AS chunk_id
        |  FROM nc
        |), ck AS (
        |  SELECT doc_id * 1000 + chunk_id AS ckey,
        |    array_to_string(t[(chunk_id*48+1):(chunk_id*48+64)], ' ')
        |      AS ctext
        |  FROM ex
        |), ctok0 AS (
        |  SELECT ckey, unnest(string_split(ctext, ' ')) AS tokk FROM ck
        |), ctok AS (
        |  SELECT ckey, word FROM (
        |    SELECT ckey,
        |      lower(regexp_replace(tokk, '[^a-zA-Z]', '', 'g')) AS word
        |    FROM ctok0)
        |  WHERE length(word) > 0
        |), hx AS (
        |  SELECT ckey, md5(word) AS h FROM ctok
        |), bkt AS (
        |  SELECT ckey,
        |    CAST(('0x' || substr(h, 29, 4))::BIGINT % 64 AS INTEGER) AS j,
        |    CASE WHEN ('0x' || substr(h, 1, 1))::BIGINT % 2 = 1
        |         THEN 1 ELSE -1 END AS sgn
        |  FROM hx
        |), emb AS (
        |  SELECT ckey, j, CAST(sum(sgn) AS BIGINT) AS w
        |  FROM bkt GROUP BY ckey, j
        |), nsq AS (
        |  SELECT ckey, CAST(sum(w * w) AS BIGINT) AS nsq
        |  FROM emb GROUP BY ckey
        |), d AS (
        |  SELECT a.ckey AS qk, bb.ckey AS nk,
        |    CAST(sum(a.w * bb.w) AS BIGINT) AS dot
        |  FROM emb a JOIN emb bb ON a.j = bb.j AND a.ckey != bb.ckey
        |  WHERE a.ckey % 97 = 0
        |  GROUP BY 1, 2
        |), s AS (
        |  SELECT qk AS query_id, nk AS neighbor_id,
        |    CAST(dot AS DOUBLE) /
        |      nullif(sqrt(CAST(x.nsq AS DOUBLE)) *
        |        sqrt(CAST(y.nsq AS DOUBLE)), 0) AS cos
        |  FROM d JOIN nsq x ON qk = x.ckey JOIN nsq y ON nk = y.ckey
        |)
        |SELECT query_id, neighbor_id, cos,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS "rank"
        |FROM s WHERE cos IS NOT NULL
        |QUALIFY "rank" <= 5""".stripMargin) { (s, dir) =>
      val chunks = TextStats.chunk(docs(s, dir), chunkTokens = 64,
          overlap = 16)
        .select((col("doc_id") * 1000 + col("chunk_id")).as("chunk_key"),
          col("chunk_text"))
      val emb = TextStats.hashEmbedBuckets(chunks,
        idCol = "chunk_key", textCol = "chunk_text")
      Similarity.sparseIntTopK(emb,
        emb.filter(col("doc_id") % 97 === 0).select("doc_id"))
    },

    // --- embedding label-purity eval (north-star; uses the labels) ---
    // Label-purity eval twin: the brute top-k CTE + label joins.
    Gate("sim_label_eval", 0.59,
      s"""WITH $vecCtes, q AS (
         |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm
         |  FROM normed WHERE vec_id % 50 = 0 AND norm > 0
         |), s AS (
         |  SELECT query_id, c.vec_id,
         |    list_sum(list_transform(generate_series(1, len(qv)),
         |      i -> qv[i] * c.v[i])) / (qnorm * c.norm) AS cos
         |  FROM q JOIN normed c ON c.vec_id != q.query_id
         |              AND c.norm > 0
         |), top AS (
         |  SELECT query_id, vec_id AS neighbor_id
         |  FROM s
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id ASC) <= 10
         |)
         |SELECT query_id, ql.label AS query_label,
         |  count(*) AS n_neighbors,
         |  sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)
         |    / count(*) AS frac_same_label
         |FROM top
         |JOIN embeddings ql ON query_id = ql.vec_id
         |JOIN embeddings nl ON neighbor_id = nl.vec_id
         |GROUP BY query_id, ql.label""".stripMargin) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      Similarity.labelEval(e.filter(col("vec_id") % 50 === 0), e)
    },
    // hard-negative mining: nearest wrong-label neighbors per query
    // Hard-negative twin: the brute twin with the label-mismatch
    // predicate in the pair join (labels looked up per side)
    Gate("sim_hard_negatives", 0.52,
      s"""WITH $vecCtes, q AS (
         |  SELECT n.vec_id AS query_id, n.v AS qv, n.norm AS qnorm,
         |         e.label AS qlabel
         |  FROM normed n JOIN embeddings e ON n.vec_id = e.vec_id
         |  WHERE n.vec_id % 50 = 0 AND n.norm > 0
         |), s AS (
         |  SELECT query_id, c.vec_id,
         |    list_sum(list_transform(generate_series(1, len(qv)),
         |      i -> qv[i] * c.v[i])) / (qnorm * c.norm) AS cos
         |  FROM q JOIN normed c ON c.vec_id != q.query_id
         |              AND c.norm > 0
         |       JOIN embeddings ce ON c.vec_id = ce.vec_id
         |              AND ce.label != q.qlabel
         |)
         |SELECT query_id, vec_id AS neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS "rank"
         |FROM s
         |QUALIFY "rank" <= 10""".stripMargin) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      Similarity.hardNegatives(e.filter(col("vec_id") % 50 === 0), e)
    },

    // --- relational coverage over the TPC-H-ish tables ---
    Gate("rel_pricing_summary", 0.84,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Relational.pricingSummary(tbl(s, dir, "lineitem"))
    },
    Gate("rel_revenue_nation", 0.78,
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin) { (s, dir) =>
      Relational.revenueByNation(tbl(s, dir, "lineitem"),
        tbl(s, dir, "supplier"), tbl(s, dir, "nation"),
        tbl(s, dir, "region"))
    },
    Gate("rel_top_customers", 0.34,
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS revenue
        |  FROM orders GROUP BY o_custkey
        |)
        |SELECT c_mktsegment,
        |  CAST(row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY revenue DESC, c_custkey ASC) AS BIGINT) AS rnk,
        |  c_custkey, c_name, revenue
        |FROM customer JOIN rev ON c_custkey = o_custkey
        |QUALIFY rnk <= 3""".stripMargin) { (s, dir) =>
      Relational.topCustomersBySegment(tbl(s, dir, "orders"),
        tbl(s, dir, "customer"))
    },
    Gate("rel_rollup", 0.32,
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin) { (s, dir) =>
      Relational.customerRollup(tbl(s, dir, "customer"),
        tbl(s, dir, "nation"), tbl(s, dir, "region"))
    },
    Gate("rel_order_history", 0.3,
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER w AS BIGINT) AS order_idx,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate ASC, o_orderkey ASC)"""
        .stripMargin) { (s, dir) =>
      Relational.customerOrderHistory(tbl(s, dir, "orders"))
    },
    Gate("rel_events_hourly", 0.47,
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS hour,
        |  event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Relational.eventsHourly(tbl(s, dir, "events"))
    },
    Gate("rel_sessionize", 0.36,
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR date_diff('second', lag(ts) OVER w, ts) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), s AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_idx
        |  FROM g
        |)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  CAST(date_diff('second', min(ts), max(ts)) AS BIGINT)
        |    AS duration_sec
        |FROM s GROUP BY user_id, session_idx""".stripMargin) { (s, dir) =>
      Relational.sessionize(tbl(s, dir, "events"))
    },
    Gate("rel_event_props", 0.4,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k')
        |    AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even_k
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      Relational.eventProps(tbl(s, dir, "events"))
    },
    // first-touch ordered conversion funnel (view → click → purchase)
    // funnel twin: iterated per-stage min over qualifying epoch-µs
    // timestamps (the stage list is fixed, so three CTE steps — no
    // recursion); strictly-after semantics via tus > prev stage's min
    Gate("rel_funnel", 0.48,
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
        |), f1 AS (
        |  SELECT user_id, min(tus) AS t FROM e
        |  WHERE event_type = 'view' GROUP BY user_id
        |), f2 AS (
        |  SELECT e.user_id, min(e.tus) AS t FROM e
        |  JOIN f1 ON e.user_id = f1.user_id
        |  WHERE e.event_type = 'click' AND e.tus > f1.t
        |  GROUP BY e.user_id
        |), f3 AS (
        |  SELECT e.user_id, min(e.tus) AS t FROM e
        |  JOIN f2 ON e.user_id = f2.user_id
        |  WHERE e.event_type = 'purchase' AND e.tus > f2.t
        |  GROUP BY e.user_id
        |)
        |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type,
        |  count(*) AS n_users FROM f1
        |UNION ALL SELECT CAST(2 AS BIGINT), 'click', count(*) FROM f2
        |UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM f3"""
        .stripMargin) { (s, dir) =>
      Relational.funnel(tbl(s, dir, "events"))
    },
    // pre-promotion constraint sweep: keys, FKs, ranges, enums, bounds
    // DQ-audit twin: 9 independent aggregate checks UNIONed, with the
    // pinned NULL semantics (NULL keys belong to null_key only; NULL
    // FKs exempt from fk_orphan; dup_key/fk_orphan totals count the
    // non-NULL-key rows inspected) and ts_bounds on epoch µs vs fixed
    // UTC constants — all matching Relational.dqAudit exactly
    Gate("rel_dq_audit", 0.64,
      """SELECT 'null_key' AS check_name, 'customer' AS table_name,
        |  CAST(coalesce(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0
        |    END), 0) AS BIGINT) AS violations,
        |  count(*) AS total
        |FROM customer
        |UNION ALL
        |SELECT 'dup_key', 'orders',
        |  CAST(coalesce(sum(c - 1), 0) AS BIGINT),
        |  CAST(coalesce(sum(c), 0) AS BIGINT)
        |FROM (SELECT count(*) AS c FROM orders
        |      WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
        |UNION ALL
        |SELECT 'dup_key', 'customer',
        |  CAST(coalesce(sum(c - 1), 0) AS BIGINT),
        |  CAST(coalesce(sum(c), 0) AS BIGINT)
        |FROM (SELECT count(*) AS c FROM customer
        |      WHERE c_custkey IS NOT NULL GROUP BY c_custkey)
        |UNION ALL
        |SELECT 'fk_orphan', 'orders',
        |  CAST((SELECT count(*) FROM orders o
        |        WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
        |          SELECT 1 FROM customer c
        |          WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL)
        |UNION ALL
        |SELECT 'fk_orphan', 'lineitem',
        |  CAST((SELECT count(*) FROM lineitem l
        |        WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
        |          SELECT 1 FROM orders o
        |          WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL)
        |UNION ALL
        |SELECT 'range_nonpositive', 'lineitem',
        |  CAST(coalesce(sum(CASE WHEN l_quantity IS NULL
        |    OR l_quantity <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT),
        |  count(*)
        |FROM lineitem
        |UNION ALL
        |SELECT 'range_nonpositive', 'orders',
        |  CAST(coalesce(sum(CASE WHEN o_totalprice IS NULL
        |    OR o_totalprice <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT),
        |  count(*)
        |FROM orders
        |UNION ALL
        |SELECT 'enum_domain', 'events',
        |  CAST(coalesce(sum(CASE WHEN NOT (event_type IN ('view',
        |    'click', 'signup', 'purchase', 'error')) THEN 1 ELSE 0
        |    END), 0) AS BIGINT),
        |  count(*)
        |FROM events
        |UNION ALL
        |SELECT 'ts_bounds', 'events',
        |  CAST(coalesce(sum(CASE WHEN ts IS NULL
        |    OR epoch_us(ts) < 1704067200000000
        |    OR epoch_us(ts) >= 1735689600000000 THEN 1 ELSE 0 END), 0)
        |    AS BIGINT),
        |  count(*)
        |FROM events""".stripMargin) { (s, dir) =>
      Relational.dqAudit(tbl(s, dir, "customer"), tbl(s, dir, "orders"),
        tbl(s, dir, "lineitem"), tbl(s, dir, "events"))
    },
    // CMS heavy hitters: exact top-k counts + per-key sketch-contract
    // boolean (estimates are hash-impl-specific — the contract is the
    // cross-engine-stable surface, the rel_approx_users pattern)
    // Heavy-hitters twin: exact counts + the contract boolean pinned
    // TRUE (CMS never undercounts; the eps-slack upper bound holds
    // with ≥ 0.99 probability per key and the 5-key domain makes
    // collisions in a 2719-wide sketch practically impossible)
    Gate("rel_heavy_hitters", 0.29,
      """SELECT event_type AS key, count(*) AS exact_cnt,
        |  TRUE AS est_ok
        |FROM events GROUP BY event_type
        |ORDER BY exact_cnt DESC, key ASC LIMIT 5""".stripMargin) { (s, dir) =>
      Relational.heavyHitters(tbl(s, dir, "events"), "event_type")
    },
    // CDC keep-latest compaction: one struct-max aggregate, state-sized
    // exchange; the _scalable name is kept registered and runs the same
    // operator against the same twin
    Gate("rel_compact_latest", 0.31, CompactLatestSql) { (s, dir) =>
      Relational.latestEventState(tbl(s, dir, "events"))
    },
    Gate("rel_compact_latest_scalable", 0.3, CompactLatestSql) { (s, dir) =>
      Relational.latestEventState(tbl(s, dir, "events"))
    },
    // record-linkage fuzzy join: SymSpell deletion-neighborhood
    // candidates + exact levenshtein<=1 verify over customer names
    // (ids one digit apart are genuine distance-1 pairs)
    // Fuzzy-join twin: same deletion-neighborhood candidates (lateral
    // range over 0..len, i=0 keeps the key) + exact levenshtein verify
    Gate("rel_fuzzy_join", 0.81,
      """WITH vocab AS (
        |  SELECT lower(trim(c_name)) AS key, count(*) AS cnt
        |  FROM customer WHERE length(lower(trim(c_name))) > 0
        |  GROUP BY 1
        |), vars AS (
        |  SELECT key, cnt,
        |    CASE WHEN i = 0 THEN key
        |         ELSE substr(key, 1, CAST(i - 1 AS INTEGER))
        |           || substr(key, CAST(i + 1 AS INTEGER)) END AS variant
        |  FROM vocab, unnest(range(0, length(key) + 1)) AS t(i)
        |), cand AS (
        |  SELECT DISTINCT a.key AS key_a, b.key AS key_b,
        |    a.cnt AS cnt_a, b.cnt AS cnt_b
        |  FROM vars a JOIN vars b USING (variant)
        |  WHERE a.key < b.key
        |)
        |SELECT key_a, key_b,
        |  CAST(levenshtein(key_a, key_b) AS BIGINT) AS dist,
        |  cnt_a, cnt_b
        |FROM cand WHERE levenshtein(key_a, key_b) <= 1""".stripMargin) { (s, dir) =>
      Dedup.editDistancePairs(tbl(s, dir, "customer"), "c_name")
    },
    // SCD/CDC change feed: diff of the compacted state 12h before the
    // stream end (epoch-µs cutoff, house discipline) vs the end — at
    // that spacing most keys are UNCHANGED and must drop out, the
    // rest update, and a fresh key inserts (append-only log ⇒ no
    // deletes; the delete arm is spec-covered on synthetic snapshots)
    // Snapshot-diff twin: two compaction CTEs, full join on the key,
    // null-safe per-column payload compare, unchanged rows dropped
    Gate("rel_snapshot_diff", 0.42,
      s"""WITH olds AS (
         |${compactLatestSql("WHERE epoch_us(ts) < 1706616000000000")}
         |), news AS (
         |$CompactLatestSql
         |), j AS (
         |  SELECT coalesce(o.user_id, n.user_id) AS user_id,
         |    coalesce(o.event_type, n.event_type) AS event_type,
         |    o.last_ts AS o_ts, o.last_event_id AS o_id,
         |    o.last_value AS o_v,
         |    n.last_ts AS n_ts, n.last_event_id AS n_id,
         |    n.last_value AS n_v,
         |    o.user_id IS NOT NULL AS has_o,
         |    n.user_id IS NOT NULL AS has_n
         |  FROM olds o FULL JOIN news n
         |    ON o.user_id = n.user_id AND o.event_type = n.event_type
         |)
         |SELECT
         |  CASE WHEN NOT has_n THEN 'delete'
         |       WHEN NOT has_o THEN 'insert'
         |       ELSE 'update' END AS op,
         |  user_id, event_type,
         |  CASE WHEN NOT has_n THEN o_ts ELSE n_ts END AS last_ts,
         |  CASE WHEN NOT has_n THEN o_id ELSE n_id END
         |    AS last_event_id,
         |  CASE WHEN NOT has_n THEN o_v ELSE n_v END AS last_value
         |FROM j
         |WHERE NOT has_n OR NOT has_o
         |  OR NOT (o_ts IS NOT DISTINCT FROM n_ts
         |    AND o_id IS NOT DISTINCT FROM n_id
         |    AND o_v IS NOT DISTINCT FROM n_v)""".stripMargin) { (s, dir) =>
      val ev = tbl(s, dir, "events")
      Relational.snapshotDiff(
        Relational.latestEventState(
          ev.filter(expr("unix_micros(ts) < 1706616000000000"))),
        Relational.latestEventState(ev),
        Seq("user_id", "event_type"))
    },
    // MERGE INTO semantics: the pre-cutoff compacted state is the base
    // snapshot, the post-cutoff log compacts into the change feed
    // (op = 'D' on event_id % 10 == 0, ~10% deletes, integer-exact in
    // both engines), one keyed full-outer join applies it — the batch
    // twin of a table-format MERGE
    // MERGE-apply twin: base/delta compaction CTEs, op derived from
    // the compacted winner's event_id (integer-exact both engines),
    // keyed full join, D drops the key, U upserts, untouched keeps
    Gate("rel_merge_upsert", 0.38,
      s"""WITH base AS (
         |${compactLatestSql("WHERE epoch_us(ts) < 1706616000000000")}
         |), delta AS (
         |  SELECT *, CASE WHEN last_event_id % 10 = 0 THEN 'D'
         |    ELSE 'U' END AS op
         |  FROM (
         |${compactLatestSql("WHERE epoch_us(ts) >= 1706616000000000")}
         |  )
         |), j AS (
         |  SELECT coalesce(b.user_id, d.user_id) AS user_id,
         |    coalesce(b.event_type, d.event_type) AS event_type,
         |    b.last_ts AS b_ts, b.last_event_id AS b_id,
         |    b.last_value AS b_v,
         |    d.last_ts AS d_ts, d.last_event_id AS d_id,
         |    d.last_value AS d_v, d.op AS op,
         |    b.user_id IS NOT NULL AS has_b,
         |    d.user_id IS NOT NULL AS has_d
         |  FROM base b FULL JOIN delta d
         |    ON b.user_id = d.user_id AND b.event_type = d.event_type
         |)
         |SELECT user_id, event_type,
         |  CASE WHEN has_d THEN d_ts ELSE b_ts END AS last_ts,
         |  CASE WHEN has_d THEN d_id ELSE b_id END AS last_event_id,
         |  CASE WHEN has_d THEN d_v ELSE b_v END AS last_value,
         |  CASE WHEN NOT has_d THEN 'keep'
         |       WHEN NOT has_b THEN 'insert'
         |       ELSE 'update' END AS action
         |FROM j
         |WHERE NOT has_d OR op <> 'D'""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.when
      val ev = tbl(s, dir, "events")
      val base = Relational.latestEventState(
        ev.filter(expr("unix_micros(ts) < 1706616000000000")))
      val delta = Relational.latestEventState(
        ev.filter(expr("unix_micros(ts) >= 1706616000000000")))
        .withColumn("op",
          when(pmod(col("last_event_id"), lit(10)) === 0, lit("D"))
            .otherwise(lit("U")))
      Relational.mergeApply(base, delta, Seq("user_id", "event_type"))
    },
    // SCD type-2 interval build: every change event becomes a version
    // row [valid_from, valid_to) via one lead window, NULL-open while
    // current — the interval form next to keep-latest's point form
    // SCD2 twin: the same lead window, ties pinned by (ts, event_id);
    // the open (current) version renders NULL valid_to + is_current
    Gate("rel_scd2", 0.33,
      """SELECT user_id, event_type,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  event_id, value,
        |  (lead(ts) OVER w IS NULL) AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id, event_type
        |  ORDER BY ts ASC, event_id ASC)""".stripMargin) { (s, dir) =>
      Relational.scd2Build(tbl(s, dir, "events"))
    },
    // incremental aggregate maintenance: pre-cutoff per-user state +
    // post-cutoff delta batch merged in one keyed full-outer join must
    // BIT-MATCH the plain groupBy over the whole feed (decimal-routed
    // sums make the merge exact) — the materialized-view update step
    // Incremental-agg twin: the FULL recompute — the merged
    // state+delta must equal it exactly (decimal sums both engines)
    Gate("rel_incremental_agg", 0.24,
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |    AS sum_value
        |FROM events GROUP BY user_id""".stripMargin) { (s, dir) =>
      val ev = tbl(s, dir, "events")
      Relational.mergeAggState(
        Relational.aggState(
          ev.filter(expr("unix_micros(ts) < 1706616000000000"))),
        ev.filter(expr("unix_micros(ts) >= 1706616000000000")))
        .select(col("user_id"), col("n_events"),
          col("sum_value").cast("double").as("sum_value"))
    },
    // pinned-values pivot: per-user event-type count/sum matrix — the
    // value list is explicit (no distinct-discovery scan, stable schema)
    // Pivot twin: FILTER aggregates over the pinned value list —
    // count cells 0-fill, sum cells stay NULL on absent combinations
    // (matching the Spark side's explicit coalesce/NULL discipline)
    Gate("rel_pivot", 0.27, {
      val cells = EventTypes.map(t =>
        s"""  CAST(count(*) FILTER (event_type = '$t') AS BIGINT)
           |    AS ${t}_n,
           |  CAST(sum(CAST(value AS DECIMAL(18,6)))
           |    FILTER (event_type = '$t') AS DOUBLE) AS ${t}_sum"""
          .stripMargin).mkString(",\n")
      s"""SELECT user_id,
         |$cells
         |FROM events GROUP BY user_id""".stripMargin
    }) { (s, dir) =>
      Relational.pivotEventTypes(tbl(s, dir, "events"), EventTypes)
    },
    // iterative graph analytics: integer fixed-point PageRank over the
    // undirected customer-supplier purchase graph (3 unrolled iters)
    // PageRank twin: the 3 iterations unrolled as (in-mass, rank) CTE
    // pairs — every quantity is BIGINT fixed-point, so `//` replays
    // Spark's `div` bit-identically (positive operands: both truncate)
    Gate("rel_pagerank", 5.75, PageRankSql(3)) { (s, dir) =>
      Graph.pageRank(tbl(s, dir, "orders"), tbl(s, dir, "lineitem"))
    },
    // HITS hubs/authorities over the DIRECTED customer→supplier
    // bipartite purchase graph: integer micro-mass with an exact
    // div-rescale in place of L2 normalization (ranking-preserving,
    // bit-replayable) — 3 unrolled rounds
    Gate("rel_hits", 6.32, HitsSql(3)) { (s, dir) =>
      Graph.hits(tbl(s, dir, "orders"), tbl(s, dir, "lineitem"))
    },
    // deterministic random-walk corpus (round-13; DeepWalk sequence
    // generation): every node walks 4 hops, hop s of walk `start`
    // takes the neighbor at dst-sorted rank md5(start,s) mod outdeg —
    // per hop TWO node-keyed joins (rank derived BEFORE touching the
    // adjacency, so the join never fans out by degree)
    // random-walk twin: rank-indexed adjacency + degree-derived hop
    // choice, 4 unrolled hop CTEs — identical md5 stream per walk,
    // identical dst-sorted rank, so the corpus replays bit-exactly
    Gate("rel_random_walk", 6.43,
      s"""WITH ${walkSqlCtes(4)}
         |SELECT start, step, node FROM walks""".stripMargin) { (s, dir) =>
      Graph.randomWalks(tbl(s, dir, "orders"), tbl(s, dir, "lineitem"))
    },
    // ...and the skip-gram (center, context) pair materialization off
    // the same walks — the word2vec-input step; walk-keyed self-join,
    // fan-out bounded by the ±2 window GEOMETRY
    // ...and the skip-gram pair materialization off the same walks:
    // walk-keyed self-join, |offset| <= 2, offset <> 0
    Gate("rel_walk_skipgram", 8.09,
      s"""WITH ${walkSqlCtes(4)}
         |SELECT a.start, a.step, a.node AS center, b.node AS context,
         |  b.step - a.step AS "offset"
         |FROM walks a JOIN walks b ON a.start = b.start
         |WHERE b.step <> a.step AND abs(b.step - a.step) <= 2""".stripMargin) { (s, dir) =>
      Graph.walkSkipGrams(tbl(s, dir, "orders"),
        tbl(s, dir, "lineitem"))
    },
    // run-to-convergence PageRank (round-7 verdict #5): relative-
    // residual stop (Δ ≤ Δ1 div 3, cap 12 — 8 rounds at every test
    // SF), rounds_executed in the output, twin unrolls + early-exits
    Gate("rel_pagerank_converged", 11.28, PageRankConvergedSql(3, 12)) { (s, dir) =>
      Graph.pageRankConverged(tbl(s, dir, "orders"),
        tbl(s, dir, "lineitem"))
    },
    // personalized PageRank: teleport mass pinned to the in-plan hub
    // source set — rank = proximity to the hubs, not centrality
    Gate("rel_ppr", 6.79, PprSql(3)) { (s, dir) =>
      Graph.personalizedPageRank(tbl(s, dir, "orders"),
        tbl(s, dir, "lineitem"))
    },
    // distributed connected components: 4-step min-label propagation —
    // the at-scale arm of dedup_assign's bounded driver union-find
    // Components twin: 4 unrolled min-label steps, pure BIGINT
    Gate("rel_components", 6.12, ComponentsSql(4)) { (s, dir) =>
      Graph.connectedComponents(tbl(s, dir, "orders"),
        tbl(s, dir, "lineitem"))
    },
    // run-to-convergence components: min-label until zero changes
    // (3/4/5 rounds at the test SFs), rounds in the output
    Gate("rel_components_converged", 6.51, ComponentsConvergedSql(8)) { (s, dir) =>
      Graph.connectedComponentsConverged(tbl(s, dir, "orders"),
        tbl(s, dir, "lineitem"))
    },
    // LPA communities: mode-label (ties → smallest) for 3 sync rounds
    // — density clustering WITHIN components, the cheap distributed
    // community detector
    Gate("rel_label_prop", 13.32, LabelPropSql(3)) { (s, dir) =>
      Graph.purchaseCommunities(tbl(s, dir, "orders"),
        tbl(s, dir, "lineitem"))
    },
    // Newman modularity Q of the 3-round LPA partition — exact-integer
    // numerator Σ(in_c·E − d_c²), one division, 6-dp round
    Gate("rel_modularity", 16.19, ModularitySql(3)) { (s, dir) =>
      Graph.purchaseModularity(tbl(s, dir, "orders"),
        tbl(s, dir, "lineitem"))
    },
    // exact one-vs-rest ROC-AUC (midrank ties) of the 2-dp-quantized
    // value score per event type — histogram-windowed, never row-ranked
    // AUC twin: per-(score, class) histogram, cumulative-below window
    // over DISTINCT scores, exact integer rank sums, one final IEEE
    // division (nullif: single-class degenerate input → NULL auc).
    // DuckDB sums are HUGEINT — cast the counts back to BIGINT.
    Gate("rel_auc", 1.26,
      """WITH scored AS (
        |  SELECT event_type, floor(value * 100 + 0.5) / 100 AS score
        |  FROM events
        |), g AS (
        |  SELECT score, event_type, count(*) AS cnt_sc
        |  FROM scored GROUP BY 1, 2
        |), hist AS (
        |  SELECT score, sum(cnt_sc) AS cnt_s FROM g GROUP BY score
        |), below AS (
        |  SELECT score, cnt_s,
        |    sum(cnt_s) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt_s
        |      AS below
        |  FROM hist
        |), pc AS (
        |  SELECT event_type,
        |    sum(cnt_sc * (below * 2 + cnt_s + 1)) AS s2,
        |    sum(cnt_sc) AS p
        |  FROM g JOIN below USING (score) GROUP BY event_type
        |), nn AS (SELECT sum(p) AS n FROM pc)
        |SELECT event_type, CAST(p AS BIGINT) AS pos_cnt,
        |  CAST(n - p AS BIGINT) AS neg_cnt,
        |  floor(CAST(s2 - p * (p + 1) AS DOUBLE) /
        |    nullif(CAST(p * (n - p) * 2 AS DOUBLE), 0)
        |    * 1000000 + 0.5) / 1000000 AS auc
        |FROM pc, nn""".stripMargin) { (s, dir) =>
      Relational.aucByType(tbl(s, dir, "events"))
    },
    // per-node triangle counts over the fuzzy-match graph: degree-
    // oriented wedge closure (O(m^1.5) keyed joins, skew-proof); the
    // twin enumerates the same triangle set lexicographically
    // Triangle twin: the fuzzy-pairs CTEs (same as rel_fuzzy_join),
    // then plain lexicographic x<y<z enumeration — the triangle SET is
    // orientation-independent, so this matches the Spark side's
    // degree-oriented plan row-for-row
    Gate("rel_triangles", 5.83,
      """WITH vocab AS (
        |  SELECT lower(trim(c_name)) AS key
        |  FROM customer WHERE length(lower(trim(c_name))) > 0
        |  GROUP BY 1
        |), vars AS (
        |  SELECT key,
        |    CASE WHEN i = 0 THEN key
        |         ELSE substr(key, 1, CAST(i - 1 AS INTEGER))
        |           || substr(key, CAST(i + 1 AS INTEGER)) END AS variant
        |  FROM vocab, unnest(range(0, length(key) + 1)) AS t(i)
        |), pairs AS (
        |  SELECT DISTINCT a.key AS key_a, b.key AS key_b
        |  FROM vars a JOIN vars b USING (variant)
        |  WHERE a.key < b.key AND levenshtein(a.key, b.key) <= 1
        |), tri AS (
        |  SELECT p1.key_a AS x, p1.key_b AS y, p2.key_b AS z
        |  FROM pairs p1
        |  JOIN pairs p2 ON p2.key_a = p1.key_a AND p2.key_b > p1.key_b
        |  JOIN pairs p3 ON p3.key_a = p1.key_b AND p3.key_b = p2.key_b
        |), nodes AS (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri
        |)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM nodes GROUP BY 1""".stripMargin) { (s, dir) =>
      Graph.triangleCounts(
        Dedup.editDistancePairs(tbl(s, dir, "customer"), "c_name")
          .select("key_a", "key_b"))
    },
    // monthly cohort retention matrix over events
    // Cohort twin: epoch-week ints (UTC), offset by each user's min
    Gate("rel_cohort", 0.43,
      """WITH active AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS w FROM events
        |), cohort AS (
        |  SELECT user_id, min(w) AS w0 FROM active GROUP BY user_id
        |)
        |SELECT w0 AS cohort_week, w - w0 AS week_offset,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM active a JOIN cohort c USING (user_id)
        |GROUP BY w0, w - w0""".stripMargin) { (s, dir) =>
      Relational.cohortRetention(tbl(s, dir, "events"))
    },
    // dense per-user date spine with zero-filled idle days
    // Date-spine twin: per-user generate_series between first and last
    // active day, left join onto the daily counts, zero fill
    Gate("rel_activity_spine", 0.36,
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), span AS (
        |  SELECT user_id, min(day) AS d0, max(day) AS d1
        |  FROM daily GROUP BY user_id
        |), spine AS (
        |  SELECT user_id, CAST(unnest(generate_series(d0, d1,
        |    INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM span
        |)
        |SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
        |  coalesce(d.cnt, 0) AS n_events
        |FROM spine s LEFT JOIN daily d
        |  ON s.user_id = d.user_id AND s.day = d.day""".stripMargin) { (s, dir) =>
      Relational.activitySpine(tbl(s, dir, "events"))
    },
    // seasonal-naive forecast (the zero-parameter baseline every
    // forecasting system is measured against): 7 days past the last
    // day, ŷ(t) = y(t-7) off the dense zero-filled per-type spine
    // Forecast twins: the shared zero-filled per-type epoch-day spine
    // (global range), then the shift-by-period lookup — exact integer
    // counts end to end, nothing to round in the forecast itself
    Gate("rel_forecast", 0.39,
      s"""WITH $forecastSpineCtes
         |SELECT event_type, day + 7 AS day, n AS yhat
         |FROM spine, bounds
         |WHERE day + 7 > d1 AND day + 7 <= d1 + 7""".stripMargin) { (s, dir) =>
      Relational.seasonalForecast(tbl(s, dir, "events"))
    },
    // ...and its backtest: per-type MAE of the same rule over the
    // last 14 in-sample days — exact integer errors, one division
    Gate("rel_forecast_eval", 0.81,
      s"""WITH $forecastSpineCtes, preds AS (
         |  SELECT event_type, day + 7 AS day, n AS yhat
         |  FROM spine, bounds
         |  WHERE day + 7 > d1 - 14 AND day + 7 <= d1
         |), act AS (
         |  SELECT event_type, day, n FROM spine, bounds
         |  WHERE day > d1 - 14
         |)
         |SELECT a.event_type, count(*) AS n_backtest,
         |  floor(CAST(sum(abs(a.n - p.yhat)) AS DOUBLE) / count(*)
         |    * 100 + 0.5) / 100 AS mae
         |FROM act a JOIN preds p USING (event_type, day)
         |GROUP BY a.event_type""".stripMargin) { (s, dir) =>
      Relational.seasonalBacktest(tbl(s, dir, "events"))
    },
    // split-conformal interval for the seasonal-naive forecast
    // (round-13): half-width q = the exact ⌈(n+1)(1−α)⌉-th smallest
    // calibration residual (α = 0.1), coverage audited on the
    // DISJOINT most-recent window — distribution-free uncertainty
    // next to the point forecast, all-integer until one round2
    // split-conformal twin: identical residual construction over the
    // two disjoint windows, the exact integer-ceil rank pick via
    // row_number, the same coverage division
    Gate("rel_forecast_conformal", 1.19, conformalSql) { (s, dir) =>
      Relational.conformalForecast(tbl(s, dir, "events"))
    },
    // deterministic A/B read-out (round-13): salted-hash arm
    // assignment + per-type Welch z on exact DECIMAL sums in one
    // keyed pass; z floored to 1e-6, verdict on the unfloored |z|
    // A/B twin: identical md5 arm assignment, the same one-pass
    // conditional DECIMAL sums, the same IEEE mean/variance/z chain
    Gate("rel_ab_test", 0.41,
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    sum(CASE WHEN arm = 0
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS sv_a,
        |    sum(CASE WHEN arm <> 0
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS sv_b,
        |    sum(CASE WHEN arm = 0
        |      THEN CAST(floor(value * value * 1000000000000 + 0.5)
        |        / 1000000000000 AS DECIMAL(20,12)) END) AS sq_a,
        |    sum(CASE WHEN arm <> 0
        |      THEN CAST(floor(value * value * 1000000000000 + 0.5)
        |        / 1000000000000 AS DECIMAL(20,12)) END) AS sq_b
        |  FROM (
        |    SELECT event_type, value,
        |      ('0x' || substr(md5('graft-ab' || '|' ||
        |        CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm
        |    FROM events
        |  )
        |  GROUP BY 1
        |), m AS (
        |  SELECT event_type, n_a, n_b,
        |    CAST(sv_a AS DOUBLE) / n_a AS ma,
        |    CAST(sv_b AS DOUBLE) / n_b AS mb,
        |    (CAST(sq_a AS DOUBLE) - n_a * (CAST(sv_a AS DOUBLE) / n_a)
        |      * (CAST(sv_a AS DOUBLE) / n_a))
        |      / nullif(CAST(n_a - 1 AS DOUBLE), 0.0) AS va,
        |    (CAST(sq_b AS DOUBLE) - n_b * (CAST(sv_b AS DOUBLE) / n_b)
        |      * (CAST(sv_b AS DOUBLE) / n_b))
        |      / nullif(CAST(n_b - 1 AS DOUBLE), 0.0) AS vb
        |  FROM g
        |)
        |SELECT event_type, n_a, n_b,
        |  floor(ma * 1000000 + 0.5) / 1000000 AS mean_a,
        |  floor(mb * 1000000 + 0.5) / 1000000 AS mean_b,
        |  floor((ma - mb) / sqrt(va / n_a + vb / n_b) * 1000000 + 0.5)
        |    / 1000000 AS z_q,
        |  abs((ma - mb) / sqrt(va / n_a + vb / n_b)) >= 1.96
        |    AS significant
        |FROM m""".stripMargin) { (s, dir) =>
      Relational.abTest(tbl(s, dir, "events"))
    },
    // ...and its CUPED-adjusted form (round-13): each user's
    // pre-cutoff activity regressed out of the post-period metric
    // (θ = pooled cov/var on quant12+DECIMAL moment sums) before the
    // same Welch z — the experimentation platform's variance knob
    // CUPED twin: identical per-(type, user) pre/post DECIMAL sums,
    // the same quant12-floored moment products, the same pooled-theta
    // and adjusted-metric IEEE chains
    Gate("rel_ab_cuped", 1.6,
      """WITH pu AS (
        |  SELECT event_type, user_id,
        |    CAST(coalesce(sum(CASE WHEN epoch_us(ts) < 1706616000000000
        |      THEN CAST(value AS DECIMAL(18,6)) END),
        |      CAST(0 AS DECIMAL(18,6))) AS DOUBLE) AS x,
        |    CAST(coalesce(sum(CASE WHEN NOT (epoch_us(ts) <
        |        1706616000000000)
        |      THEN CAST(value AS DECIMAL(18,6)) END),
        |      CAST(0 AS DECIMAL(18,6))) AS DOUBLE) AS y,
        |    (('0x' || substr(md5('graft-ab' || '|' ||
        |      CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2) = 0 AS isA
        |  FROM events GROUP BY 1, 2
        |), mom AS (
        |  SELECT event_type, count(*) AS nu,
        |    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx_d,
        |    CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy_d,
        |    CAST(sum(CAST(floor(x * y * 1000000000000 + 0.5)
        |      / 1000000000000 AS DECIMAL(24,12))) AS DOUBLE) AS sxy_d,
        |    CAST(sum(CAST(floor(x * x * 1000000000000 + 0.5)
        |      / 1000000000000 AS DECIMAL(24,12))) AS DOUBLE) AS sxx_d
        |  FROM pu GROUP BY 1
        |), th AS (
        |  SELECT event_type, nu, sx_d / nu AS xbar,
        |    (sxy_d - nu * (sx_d / nu) * (sy_d / nu))
        |      / nullif(sxx_d - nu * (sx_d / nu) * (sx_d / nu), 0.0)
        |      AS theta
        |  FROM mom
        |), adj AS (
        |  SELECT p.event_type, p.isA, t.theta,
        |    floor((p.y - t.theta * (p.x - t.xbar)) * 1000000000000
        |      + 0.5) / 1000000000000 AS ya
        |  FROM pu p JOIN th t USING (event_type)
        |), g AS (
        |  SELECT event_type, max(theta) AS theta,
        |    CAST(sum(CASE WHEN isA THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN NOT isA THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    sum(CASE WHEN isA THEN CAST(ya AS DECIMAL(20,12)) END)
        |      AS sv_a,
        |    sum(CASE WHEN NOT isA THEN CAST(ya AS DECIMAL(20,12)) END)
        |      AS sv_b,
        |    sum(CASE WHEN isA
        |      THEN CAST(floor(ya * ya * 1000000000000 + 0.5)
        |        / 1000000000000 AS DECIMAL(24,12)) END) AS sq_a,
        |    sum(CASE WHEN NOT isA
        |      THEN CAST(floor(ya * ya * 1000000000000 + 0.5)
        |        / 1000000000000 AS DECIMAL(24,12)) END) AS sq_b
        |  FROM adj GROUP BY 1
        |), m AS (
        |  SELECT event_type, theta, n_a, n_b,
        |    CAST(sv_a AS DOUBLE) / n_a AS ma,
        |    CAST(sv_b AS DOUBLE) / n_b AS mb,
        |    (CAST(sq_a AS DOUBLE) - n_a * (CAST(sv_a AS DOUBLE) / n_a)
        |      * (CAST(sv_a AS DOUBLE) / n_a))
        |      / nullif(CAST(n_a - 1 AS DOUBLE), 0.0) AS va,
        |    (CAST(sq_b AS DOUBLE) - n_b * (CAST(sv_b AS DOUBLE) / n_b)
        |      * (CAST(sv_b AS DOUBLE) / n_b))
        |      / nullif(CAST(n_b - 1 AS DOUBLE), 0.0) AS vb
        |  FROM g
        |)
        |SELECT event_type, n_a, n_b,
        |  floor(theta * 1000000 + 0.5) / 1000000 AS theta_q,
        |  floor(ma * 1000000 + 0.5) / 1000000 AS mean_a,
        |  floor(mb * 1000000 + 0.5) / 1000000 AS mean_b,
        |  floor((ma - mb) / sqrt(va / n_a + vb / n_b) * 1000000 + 0.5)
        |    / 1000000 AS z_q,
        |  abs((ma - mb) / sqrt(va / n_a + vb / n_b)) >= 1.96
        |    AS significant
        |FROM m""".stripMargin) { (s, dir) =>
      Relational.abTestCuped(tbl(s, dir, "events"))
    },
    // weekly-seasonal MEAN forecast (verdict task 5): ŷ = mean of the
    // last 4 same-weekday counts (weekday = epoch-day mod 7, pure
    // integer arithmetic), exact integers until one round2 division
    // weekly-seasonal MEAN twin: rank the spine per (type, weekday =
    // epoch-day mod 7) newest-first, average the top 4, serve each
    // forecast day off its weekday row — exact integers until the one
    // round2 division
    Gate("rel_forecast_seasonal", 0.41, seasonalMeanSql) { (s, dir) =>
      Relational.seasonalMeanForecast(tbl(s, dir, "events"))
    },
    // ...and the residual-anomaly flag composing the rel_rate_anomaly
    // z-score device with the forecast family's day spine: each (type,
    // day) scores against its own trailing same-weekday baseline
    // residual anomaly on the weekly lattice: the rel_rate_anomaly
    // z-score device with (type, weekday) partitions and a 4-row
    // trailing ROWS frame over the dense day spine
    Gate("rel_forecast_anomaly", 0.36,
      s"""WITH $forecastSpineCtes, wb AS (
         |  SELECT event_type, day, n,
         |    count(n) OVER tw AS base_n,
         |    CAST(coalesce(sum(n) OVER tw, 0) AS BIGINT) AS sx,
         |    CAST(coalesce(sum(n * n) OVER tw, 0) AS BIGINT) AS sxx
         |  FROM (SELECT event_type, day % 7 AS wd, day, n FROM spine)
         |  WINDOW tw AS (PARTITION BY event_type, wd ORDER BY day ASC
         |                ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
         |), zz AS (
         |  SELECT event_type, day, n, base_n,
         |    CASE WHEN base_n >= 3 AND base_n * sxx - sx * sx > 0 THEN
         |      floor((n - sx / base_n) /
         |        sqrt((base_n * sxx - sx * sx)
         |          / (base_n * (base_n - 1)))
         |        * 100 + 0.5) / 100
         |    END AS z
         |  FROM wb
         |)
         |SELECT event_type, day, n, base_n, z,
         |  coalesce(abs(z) >= 3.0, FALSE) AS anomaly
         |FROM zz""".stripMargin) { (s, dir) =>
      Relational.seasonalAnomaly(tbl(s, dir, "events"))
    },
    // drift-aware period detector: argmax raw-moment autocorrelation
    // over bounded lags on the day spine (exact integer products, one
    // round2 mean per lag, (score desc, lag asc) pin)
    // period-detector twin: spine self-join at every bounded lag,
    // exact integer product sums, one round2 mean, ranked pick
    Gate("rel_period_detect", 0.56,
      s"""WITH $forecastSpineCtes, lagt AS (
         |  SELECT unnest(generate_series(2, 14)) AS lag
         |), scored AS (
         |  SELECT a.event_type, l.lag,
         |    floor(CAST(sum(a.n * b.n) AS DOUBLE) / count(*)
         |      * 100 + 0.5) / 100 AS score
         |  FROM spine a CROSS JOIN lagt l
         |  JOIN spine b
         |    ON b.event_type = a.event_type AND b.day = a.day - l.lag
         |  GROUP BY 1, 2
         |), ranked AS (
         |  SELECT event_type, lag, score,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY score DESC, lag ASC) AS rn
         |  FROM scored
         |)
         |SELECT event_type, lag AS period, score
         |FROM ranked WHERE rn = 1""".stripMargin) { (s, dir) =>
      Relational.periodDetect(tbl(s, dir, "events"))
    },
    Gate("rel_asof_join", 0.77,
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        |    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |      row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |        ORDER BY o_orderkey DESC) AS rn
        |    FROM orders)
        |  WHERE rn = 1
        |)
        |SELECT e.event_id, e.user_id,
        |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ets,
        |  o.o_orderkey, o.o_totalprice,
        |  strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_date
        |FROM events e ASOF JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate"""
        .stripMargin) { (s, dir) =>
      Relational.eventsAsofOrders(tbl(s, dir, "events"),
        tbl(s, dir, "orders"))
    },
    // forward as-of: each order → the customer's FIRST event strictly
    // after it (conversion-lag attribution; equal-time rows excluded)
    // forward as-of twin: naive join-then-rank replay (earliest
    // strictly-later event per order; events deduped per (user, ts)
    // by max event_id, mirroring the Spark side)
    Gate("rel_asof_forward", 0.81,
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, event_type FROM (
        |    SELECT user_id, ts, event_id, event_type,
        |      row_number() OVER (PARTITION BY user_id, ts
        |        ORDER BY event_id DESC) AS rn
        |    FROM events)
        |  WHERE rn = 1
        |), c AS (
        |  SELECT o.o_orderkey, o.o_custkey,
        |    strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_date,
        |    e.event_id, e.event_type,
        |    strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ets,
        |    row_number() OVER (PARTITION BY o.o_orderkey
        |      ORDER BY e.ts ASC) AS rn
        |  FROM orders o JOIN ev e
        |    ON o.o_custkey = e.user_id AND o.o_orderdate < e.ts
        |)
        |SELECT o_orderkey, o_custkey, order_date, event_id, event_type,
        |  ets
        |FROM c WHERE rn = 1""".stripMargin) { (s, dir) =>
      Relational.orderNextEvent(tbl(s, dir, "orders"),
        tbl(s, dir, "events"))
    },
    Gate("rel_set_ops", 0.3,
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0"""
        .stripMargin) { (s, dir) =>
      Relational.setOps(tbl(s, dir, "orders"))
    },
    Gate("rel_promo_revenue", 1.04,
      """WITH m AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS o_ym,
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |      AS promo_revenue,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1
        |)
        |SELECT o_ym, promo_revenue, total_revenue,
        |  floor(100.0 * promo_revenue / total_revenue * 100 + 0.5) / 100
        |    AS promo_share
        |FROM m""".stripMargin) { (s, dir) =>
      Relational.promoRevenue(tbl(s, dir, "lineitem"),
        tbl(s, dir, "part"))
    },
    Gate("rel_anti_join", 0.2,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')"""
        .stripMargin) { (s, dir) =>
      Relational.customersWithoutOrders(tbl(s, dir, "customer"),
        tbl(s, dir, "orders"))
    },
    // keyless interval join via the banded equi-join rewrite
    // keyless interval join (all events within ±60 s of each purchase)
    // on a whole-second epoch basis — floor(epoch(..)) matches Spark's
    // unix_timestamp truncation on the sub-second event timestamps
    Gate("rel_range_join", 0.38,
      """SELECT a.event_id, count(*) AS n_nearby,
        |  CAST(sum(CAST(b.value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_value
        |FROM events a JOIN events b
        |  ON CAST(floor(epoch(b.ts)) AS BIGINT)
        |     BETWEEN CAST(floor(epoch(a.ts)) AS BIGINT) - 60
        |         AND CAST(floor(epoch(a.ts)) AS BIGINT) + 60
        |WHERE a.event_type = 'purchase'
        |GROUP BY a.event_id""".stripMargin) { (s, dir) =>
      Relational.eventCooccurrence(tbl(s, dir, "events"))
    },
    // hot-key-safe salted equi-join: events bucketed onto 25 hot keys
    // joined to a per-bucket orders rollup; the salted plan must emit
    // exactly the plain join's rows (the oracle joins plainly)
    // plain-join twin for the salted plan: salting is an execution
    // detail, the row set must be identical
    Gate("rel_skew_join", 0.38,
      """WITH dim AS (
        |  SELECT o_custkey % 25 AS obucket, count(*) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS bucket_revenue
        |  FROM orders GROUP BY 1
        |)
        |SELECT e.event_id, e.event_type, e.user_id % 25 AS bucket,
        |  d.n_orders, d.bucket_revenue
        |FROM events e JOIN dim d ON e.user_id % 25 = d.obucket"""
        .stripMargin) { (s, dir) =>
      val ev = tbl(s, dir, "events").select(col("event_id"),
        col("event_type"), pmod(col("user_id"), lit(25)).as("bucket"))
      val dim = tbl(s, dir, "orders")
        .groupBy(pmod(col("o_custkey"), lit(25)).as("obucket"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_orders"),
          org.apache.spark.sql.functions.sum(
            col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("bucket_revenue"))
      Skew.saltedJoin(ev, dim, "bucket", "obucket", Seq("event_id"))
        .select("event_id", "event_type", "bucket",
          "n_orders", "bucket_revenue")
    },

    // --- structured streaming ---
    Gate("stream_events_hourly", 1.03,
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS hour,
        |  event_type, count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.hourlyCounts(s, dir)
    },
    Gate("stream_user_counts", 0.9,
      "SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id") { (s, dir) =>
      graft.streaming.EventsStream.userCountsStateful(s, dir)
    },
    // flatMapGroupsWithState: the multi-row-per-group stateful API —
    // a group emits one row per event_type its micro-batch touched
    Gate("stream_type_counts", 1.24,
      """SELECT user_id, event_type, count(*) AS n_events
        |FROM events GROUP BY user_id, event_type""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.typeCountsStateful(s, dir)
    },
    // 1h windows sliding every 30m: an event at t is in the windows
    // starting at bucket30(t) and bucket30(t) - 30m
    Gate("stream_events_sliding", 1.0,
      """WITH w AS (
        |  SELECT event_type,
        |    unnest([time_bucket(INTERVAL '30 minutes', ts),
        |            time_bucket(INTERVAL '30 minutes', ts)
        |              - INTERVAL '30 minutes']) AS wstart
        |  FROM events
        |)
        |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n_events
        |FROM w GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.slidingCounts(s, dir)
    },
    // Derived deterministic surface: HLL++ is deterministic for a given
    // dataset but implementation-specific across engines, so the gate
    // checks the sketch's accuracy CONTRACT (|approx-exact| <= 5%·exact)
    // rather than the raw estimate; the DuckDB twin computes exact and
    // literal TRUE. The sketch path stays fully exercised.
    // The sketch's accuracy contract, not its raw estimate (HLL++ is
    // engine-specific): DuckDB computes exact and asserts TRUE; Spark
    // computes |approx-exact| <= 5%·exact. See the queries entry.
    Gate("rel_approx_users", 0.67,
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_5pct
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.abs
      Relational.approxUsers(tbl(s, dir, "events"))
        .select(col("event_type"),
          col("n_users_exact").as("exact_users"),
          (abs(col("n_users_approx") - col("n_users_exact"))
            <= lit(0.05) * col("n_users_exact")).as("within_5pct"))
    },
    // same derived-contract pattern as rel_approx_users: the GK-sketch
    // estimate is engine-specific, its exact-rank guarantee is not
    // accuracy-contract surface, same pattern as rel_approx_users:
    // DuckDB asserts TRUE per probability; Spark computes the exact
    // rank-interval check of its GK estimate
    Gate("rel_quantile_contract", 0.6,
      """SELECT CAST(p AS DOUBLE) AS p, TRUE AS rank_within_eps
        |FROM (VALUES (0.25), (0.5), (0.75), (0.95)) t(p)""".stripMargin) { (s, dir) =>
      Relational.approxQuantiles(tbl(s, dir, "lineitem"))
    },
    Gate("rel_cube", 0.49,
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"""
        .stripMargin) { (s, dir) =>
      Relational.orderCube(tbl(s, dir, "orders"))
    },
    // non-hierarchical GROUPING SETS: per-status AND per-priority
    // slices in one Expand pass, grouping(col) flags (engine-stable)
    // grouping-sets twin: DuckDB's GROUPING SETS with the same
    // explicit grouping() flags
    Gate("rel_grouping_sets", 0.38,
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |  ())""".stripMargin) { (s, dir) =>
      Relational.orderGroupingSets(tbl(s, dir, "orders"))
    },
    Gate("rel_window_funcs", 0.35,
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey ASC)"""
        .stripMargin) { (s, dir) =>
      Relational.orderWindowFuncs(tbl(s, dir, "orders"))
    },
    // gap-aware 7-day trailing revenue: RANGE frame on the epoch-day
    // int over the per-day AGGREGATE (|days| rows, not N) — calendar
    // windows shrink across gaps where ROWS frames would reach back
    // RANGE frame on the epoch-day int over the per-day DECIMAL
    // aggregate; trail_avg replays round2(double sum / day count)
    Gate("rel_rolling_stats", 0.26,
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1
        |), e AS (
        |  SELECT d, datediff('day', DATE '1970-01-01', d) AS ed, rev
        |  FROM daily
        |)
        |SELECT CAST(d AS VARCHAR) AS day,
        |  CAST(rev AS DOUBLE) AS revenue,
        |  CAST(sum(rev) OVER w AS DOUBLE) AS trail_sum,
        |  floor(CAST(sum(rev) OVER w AS DOUBLE) / (count(*) OVER w)
        |    * 100 + 0.5) / 100 AS trail_avg,
        |  count(*) OVER w AS n_days
        |FROM e
        |WINDOW w AS (ORDER BY ed ASC
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)"""
        .stripMargin) { (s, dir) =>
      Relational.rollingDailyRevenue(tbl(s, dir, "orders"))
    },
    // hourly rate-anomaly z-scores vs the trailing-24h per-type
    // baseline (current hour excluded) — exact-integer window sums,
    // every double one correctly-rounded IEEE op, flag on rounded z
    // rate-anomaly twin: exact-integer trailing sums, then the same
    // fixed chain of correctly-rounded IEEE ops — (x − Σx/n) /
    // sqrt((n·Σx² − (Σx)²)/(n·(n−1))) — round2'd, flag on rounded z
    Gate("rel_rate_anomaly", 0.28,
      """WITH h AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS eh,
        |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |      AS hour,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2, 3
        |), w AS (
        |  SELECT event_type, hour, cnt,
        |    count(cnt) OVER tw AS base_n,
        |    CAST(coalesce(sum(cnt) OVER tw, 0) AS BIGINT) AS sx,
        |    CAST(coalesce(sum(cnt * cnt) OVER tw, 0) AS BIGINT) AS sxx
        |  FROM h
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY eh ASC
        |                RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |), z AS (
        |  SELECT hour, event_type, cnt AS n_events, base_n,
        |    CASE WHEN base_n >= 8 AND base_n * sxx - sx * sx > 0 THEN
        |      floor((cnt - sx / base_n) /
        |        sqrt((base_n * sxx - sx * sx) / (base_n * (base_n - 1)))
        |        * 100 + 0.5) / 100
        |    END AS z
        |  FROM w
        |)
        |SELECT hour, event_type, n_events, base_n, z,
        |  coalesce(abs(z) >= 3.0, FALSE) AS anomaly
        |FROM z""".stripMargin) { (s, dir) =>
      Relational.rateAnomaly(tbl(s, dir, "events"))
    },
    // CUSUM level-shift change-point per event_type: the day where
    // the integer-scaled cumulative deviation from the global mean
    // peaks — the regime-change detector beside the spike z-scores
    // CUSUM twin: identical integer-scaled statistic over the per-type
    // day spine; earliest-day tie pin via the same ranked window
    Gate("rel_cusum", 0.32,
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, sum(cnt) AS total, count(*) AS n_days
        |  FROM d GROUP BY 1
        |), s AS (
        |  SELECT d.event_type, d.day, t.n_days,
        |    CAST(abs(t.n_days * sum(d.cnt) OVER (
        |        PARTITION BY d.event_type ORDER BY d.day ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - (row_number() OVER (PARTITION BY d.event_type
        |          ORDER BY d.day ASC)) * t.total) AS BIGINT) AS s
        |  FROM d JOIN t USING (event_type)
        |)
        |SELECT event_type, day AS cp_day, s AS max_cusum, n_days
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY event_type
        |  ORDER BY s DESC, day ASC) = 1""".stripMargin) { (s, dir) =>
      Relational.cusumChangepoint(tbl(s, dir, "events"))
    },
    // daily active/new/cumulative-distinct users — the linear
    // first-seen rewrite of the inexpressible running-distinct window
    // cumulative-users twin: the same linear first-seen rewrite — a
    // per-user min day, new-user counts, prefix sum over the day rows
    Gate("rel_cumulative_users", 0.38,
      """WITH dd AS (
        |  SELECT CAST(ts AS DATE) AS d, user_id FROM events
        |), act AS (
        |  SELECT d, count(DISTINCT user_id) AS active_users
        |  FROM dd GROUP BY d
        |), fs AS (
        |  SELECT user_id, min(d) AS d FROM dd GROUP BY user_id
        |), nu AS (
        |  SELECT d, count(*) AS new_users FROM fs GROUP BY d
        |)
        |SELECT CAST(a.d AS VARCHAR) AS day, a.active_users,
        |  coalesce(n.new_users, 0) AS new_users,
        |  CAST(sum(coalesce(n.new_users, 0)) OVER (ORDER BY a.d ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_users
        |FROM act a LEFT JOIN nu n ON a.d = n.d""".stripMargin) { (s, dir) =>
      Relational.cumulativeUsers(tbl(s, dir, "events"))
    },
    // fixed-round k-core peel over the purchase graph, threshold
    // derived in-plan as the mean degree (a fixed k can't travel
    // across SFs); multi-round cascade semantics spec-pinned on a
    // path graph in Round12Spec
    // k-core twin: the purchase-graph canonical edges as e0, the
    // in-plan mean-degree threshold, then 3 unrolled peel rounds
    // (degree agg → keep set → edge filter), final degree rollup +
    // the pageRank node decode
    Gate("rel_kcore", 4.07,
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |), kk AS (
        |  SELECT (SELECT count(*) FROM e0) //
        |    (SELECT count(DISTINCT n) FROM (
        |       SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0)) AS k
        |), d1 AS (
        |  SELECT n, count(*) AS d FROM (
        |    SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n
        |), k1 AS (SELECT n FROM d1, kk WHERE d >= k),
        |e1 AS (
        |  SELECT e.a, e.b FROM e0 e
        |  JOIN k1 x ON e.a = x.n JOIN k1 y ON e.b = y.n
        |), d2 AS (
        |  SELECT n, count(*) AS d FROM (
        |    SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1) GROUP BY n
        |), k2 AS (SELECT n FROM d2, kk WHERE d >= k),
        |e2 AS (
        |  SELECT e.a, e.b FROM e1 e
        |  JOIN k2 x ON e.a = x.n JOIN k2 y ON e.b = y.n
        |), d3 AS (
        |  SELECT n, count(*) AS d FROM (
        |    SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2) GROUP BY n
        |), k3 AS (SELECT n FROM d3, kk WHERE d >= k),
        |e3 AS (
        |  SELECT e.a, e.b FROM e2 e
        |  JOIN k3 x ON e.a = x.n JOIN k3 y ON e.b = y.n
        |)
        |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
        |            ELSE 'supplier' END AS node_type,
        |  node // 2 AS key, degree FROM (
        |  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        |    SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3)
        |  GROUP BY node)""".stripMargin) { (s, dir) =>
      Graph.purchaseKCore(tbl(s, dir, "orders"),
        tbl(s, dir, "lineitem"))
    },
    // run-to-convergence k-core: peel until the keep set stops
    // shrinking (2 rounds at every test SF), rounds in the output
    Gate("rel_kcore_converged", 3.38, KCoreConvergedSql(6)) { (s, dir) =>
      Graph.purchaseKCoreConverged(tbl(s, dir, "orders"),
        tbl(s, dir, "lineitem"))
    },
    // class-balanced downsample: every lang stratum capped to the
    // smallest stratum's size, deterministic (md5, key) rank order
    // balance twin: the derived min-stratum cap as a scalar subquery,
    // the same (md5 salt graft-bal, key) rank order, full rows out
    Gate("samp_balance", 0.48,
      """WITH sz AS (
        |  SELECT min(n) AS cap FROM (
        |    SELECT lang, count(*) AS n FROM documents
        |    WHERE doc_id IS NOT NULL GROUP BY lang)
        |)
        |SELECT doc_id, text, lang, source, n_chars FROM (
        |  SELECT doc_id, text, lang, source, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      ('0x' || substr(md5('graft-bal' || '|' ||
        |        CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT ASC,
        |      doc_id ASC) AS rn
        |  FROM documents WHERE doc_id IS NOT NULL), sz
        |WHERE rn <= cap""".stripMargin) { (s, dir) =>
      Sampling.balanceClasses(docs(s, dir))
    },
    // Matryoshka truncation eval: recall@10 of 16-dim-truncated cosine
    // top-k vs the full 64-dim ranking, per query
    // truncation-eval twin: the full-width brute ranking and the
    // 16-dim-sliced one (fresh norms; truncated zero vectors rank
    // nothing), overlap counted per query, recall = round2(h / 10)
    Gate("sim_trunc_eval", 1.42,
      s"""WITH $vecCtes, q AS (
         |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm
         |  FROM normed WHERE vec_id % 50 = 0 AND norm > 0
         |), s AS (
         |  SELECT query_id, c.vec_id,
         |    list_sum(list_transform(generate_series(1, len(qv)),
         |      i -> qv[i] * c.v[i])) / (qnorm * c.norm) AS cos
         |  FROM q JOIN normed c ON c.vec_id != q.query_id
         |              AND c.norm > 0
         |), fullk AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
         |      AS rn
         |    FROM s) WHERE rn <= 10
         |), tn AS (
         |  SELECT vec_id, v[1:16] AS v,
         |    sqrt(list_sum(list_transform(v[1:16], x -> x * x)))
         |      AS norm
         |  FROM vecs
         |), tq AS (
         |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm
         |  FROM tn WHERE vec_id % 50 = 0 AND norm > 0
         |), ts2 AS (
         |  SELECT query_id, c.vec_id,
         |    list_sum(list_transform(generate_series(1, 16),
         |      i -> qv[i] * c.v[i])) / (qnorm * c.norm) AS cos
         |  FROM tq JOIN tn c ON c.vec_id != tq.query_id
         |               AND c.norm > 0
         |), trunck AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
         |      AS rn
         |    FROM ts2) WHERE rn <= 10
         |), hits AS (
         |  SELECT f.query_id, count(*) AS h
         |  FROM fullk f JOIN trunck t
         |    ON f.query_id = t.query_id AND f.vec_id = t.vec_id
         |  GROUP BY f.query_id
         |)
         |SELECT q2.query_id, coalesce(h, 0) AS n_hits,
         |  floor(coalesce(h, 0) / 10 * 100 + 0.5) / 100 AS recall
         |FROM (SELECT DISTINCT query_id FROM fullk) q2
         |LEFT JOIN hits USING (query_id)""".stripMargin) { (s, dir) =>
      Similarity.truncationRecall(tbl(s, dir, "embeddings"))
    },
    // small-file compaction planner over file METADATA (docs stand in
    // as the file listing): quota-binning via one prefix-sum window
    // compaction-plan twin: the docs-as-file-listing, the exclusive
    // prefix sum, exact integer division by the 4096-byte quota, and
    // the per-bin rollup windows
    Gate("io_compaction_plan", 0.29,
      """WITH f AS (
        |  SELECT doc_id AS file_id, CAST(length(text) AS BIGINT)
        |    AS bytes
        |  FROM documents
        |), c AS (
        |  SELECT file_id, bytes,
        |    CAST(coalesce(sum(bytes) OVER (ORDER BY file_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS excl
        |  FROM f
        |), b AS (
        |  SELECT file_id, bytes, excl // 4096 AS bin FROM c
        |)
        |SELECT file_id, bytes, bin,
        |  count(*) OVER (PARTITION BY bin) AS bin_files,
        |  CAST(sum(bytes) OVER (PARTITION BY bin) AS BIGINT)
        |    AS bin_bytes
        |FROM b""".stripMargin) { (s, dir) =>
      graft.io.CompatIo.compactionPlan(
        docs(s, dir).select(col("doc_id").as("file_id"),
          length(col("text")).cast("long").as("bytes")),
        targetBytes = 4096L)
    },
    // single-pass column profiler: one multi-distinct agg (Expand ×
    // |cols|, one shuffle), stack-unpivoted to a row per column
    // profiler twin: one aggregate row per column, UNION ALL'd — the
    // same stats the stack-unpivot emits. Renderings replay the
    // operator's canonical forms: longs/strings verbatim, doubles as
    // floor(x·1e6 + 0.5) micro-unit longs, timestamps as epoch-µs
    Gate("rel_profile", 2.95,
      """SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
        |  count(*) - count(o_orderkey) AS n_null,
        |  count(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(min(o_orderkey) AS VARCHAR) AS min_str,
        |  CAST(max(o_orderkey) AS VARCHAR) AS max_str
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |  count(DISTINCT o_custkey),
        |  CAST(min(o_custkey) AS VARCHAR),
        |  CAST(max(o_custkey) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*),
        |  count(*) - count(o_orderstatus),
        |  count(DISTINCT o_orderstatus),
        |  min(o_orderstatus), max(o_orderstatus)
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
        |  count(DISTINCT o_totalprice),
        |  CAST(CAST(floor(min(o_totalprice) * 1000000 + 0.5) AS BIGINT)
        |    AS VARCHAR),
        |  CAST(CAST(floor(max(o_totalprice) * 1000000 + 0.5) AS BIGINT)
        |    AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
        |  count(DISTINCT o_orderdate),
        |  CAST(epoch_us(min(o_orderdate)) AS VARCHAR),
        |  CAST(epoch_us(max(o_orderdate)) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*),
        |  count(*) - count(o_orderpriority),
        |  count(DISTINCT o_orderpriority),
        |  min(o_orderpriority), max(o_orderpriority)
        |FROM orders""".stripMargin) { (s, dir) =>
      Relational.profile(tbl(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))
    },
    Gate("stream_dedup_pairs", 0.73,
      "SELECT DISTINCT user_id, event_type FROM events") { (s, dir) =>
      graft.streaming.EventsStream.dedupPairs(s, dir)
    },
    // bounded-state streaming dedup: dropDuplicatesWithinWatermark —
    // state expires with the watermark (the unbounded-stream dedup);
    // a 40-day delay covers the whole staged span, so the result
    // equals global DISTINCT and shares dedupPairs' oracle
    // bounded-state dedup: with the 40-day watermark covering the whole
    // staged span, the result is definitionally global DISTINCT — one
    // oracle, two physical operators (unbounded vs expiring state)
    Gate("stream_dedup_bounded", 1.19,
      "SELECT DISTINCT user_id, event_type FROM events") { (s, dir) =>
      graft.streaming.EventsStream.dedupPairsBounded(s, dir)
    },
    Gate("stream_events_by_segment", 0.97,
      """SELECT c_mktsegment, count(*) AS n_events
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.eventsBySegment(s, dir)
    },
    Gate("stream_stream_join", 2.98,
      """SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
        |  s.user_id
        |FROM events s JOIN events p
        |  ON s.user_id = p.user_id
        | AND s.event_type = 'signup' AND p.event_type = 'purchase'
        | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL '1 hour'"""
        .stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.signupToPurchase(s, dir)
    },
    // stream-stream LEFT OUTER with watermark state eviction actually
    // firing (3-batch replay with empty carrier batches; see
    // EventsStream.signupToPurchaseOuter) — unmatched signups emit
    // NULL purchases only once the watermark passes s_ts + 1h
    // Outer-join eviction replay: the terminal watermark is
    // min(max signup ts, max purchase ts) - 1min (two event-time
    // columns; global watermark = their min); a left row's unmatched
    // emission requires its last matchable instant s.ts + 1h to be
    // STRICTLY below W (probed: a row exactly at W stays in state —
    // Round14Spec). Matched pairs are all produced in batch 0 (full
    // data, watermark still MIN_VALUE).
    Gate("stream_stream_outer", 4.19,
      """WITH w AS (
        |  SELECT least(
        |    (SELECT max(ts) FROM events WHERE event_type = 'signup'),
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL '1 minute' AS wm
        |)
        |SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
        |  s.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'signup') s
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON s.user_id = p.user_id
        | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL '1 hour'
        |WHERE p.event_id IS NOT NULL
        |   OR s.ts + INTERVAL '1 hour' < (SELECT wm FROM w)"""
        .stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.signupToPurchaseOuter(
        s, dir, scratchDir("sojoinstage"))
    },
    // session_window twin: break at gap > 30 min — an event EXACTLY
    // gap after its predecessor still merges (probed empirically: the
    // window-end boundary is inclusive for merging; an sf0.1 fixture
    // pair at exactly 1800s caught the off-by-one)
    Gate("stream_session_window", 1.5,
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR date_diff('second', lag(ts) OVER w, ts) > 1800
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), s AS (
        |  SELECT user_id, ts,
        |    sum(ns) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g
        |)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.sessionWindows(s, dir)
    },
    // raw-API sessionization with EventTimeTimeout state eviction
    // (time-sliced 3-batch replay; see EventsStream.sessionsWithTimeout)
    // Timeout-sessionization replay: the batch sessionize CTE, kept to
    // sessions that either have a successor (same-user later session —
    // closed in-batch by the gap break) or, for each user's LAST
    // session, whose timeout instant (last_sec + 1800 s, in ms) lies
    // STRICTLY below the terminal watermark max-event-ms - 60000
    // (timeouts at the watermark do not fire; Round14Spec).
    Gate("stream_session_timeout", 2.65,
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR date_diff('second', lag(ts) OVER w, ts) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), s AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_idx
        |  FROM g
        |), sess AS (
        |  SELECT user_id, session_idx,
        |    strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |    count(*) AS n_events,
        |    CAST(date_diff('second', min(ts), max(ts)) AS BIGINT)
        |      AS duration_sec,
        |    epoch_us(max(ts)) // 1000000 AS last_sec,
        |    max(session_idx) OVER (PARTITION BY user_id) AS max_idx
        |  FROM s GROUP BY user_id, session_idx
        |), wm AS (
        |  SELECT epoch_us(max(ts)) // 1000 - 60000 AS w FROM events
        |)
        |SELECT user_id, session_start, n_events, duration_sec
        |FROM sess
        |WHERE session_idx < max_idx
        |   OR (last_sec + 1800) * 1000 < (SELECT w FROM wm)"""
        .stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.sessionsWithTimeout(
        s, dir, scratchDir("sesstostage"))
    },
    // foreachBatch file-sink pattern; result read back from the files
    // it wrote, so the gate checks the SINK, not just the aggregation
    // (scratchDir handles the per-JVM reap of prior invocations).
    Gate("stream_foreach_sink", 1.14,
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS hour,
        |  event_type, count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.hourlyViaForeachBatch(
        s, dir, scratchDir("fbsink"))
    },
    // watermark late-data drops, actually firing (3-batch replay; see
    // EventsStream.hourlyCountsLate) — the one semantics AvailableNow
    // over ordered input can never exercise
    // Relational replay of the 3-batch watermark drop rule (probed +
    // spec-pinned in Round5Spec): W = max(ts over batch 0) - 1 min;
    // batches 0/1 (event_id%10 != 0) are always kept, the late batch 2
    // (event_id%10 == 0) keeps only rows whose hour-window END exceeds
    // W — equality drops, matching Spark's `end <= watermark` filter.
    // ts is cast to µs TIMESTAMP first, mirroring the engine's ns→µs
    // truncation (Tables.normalizeTs).
    Gate("stream_late_drop", 2.45,
      """WITH ev AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events
        |), w AS (
        |  SELECT max(ts) - INTERVAL 1 MINUTE AS wm FROM ev
        |  WHERE event_id % 10 >= 2
        |), kept AS (
        |  SELECT ts, event_type FROM ev WHERE event_id % 10 != 0
        |  UNION ALL
        |  SELECT e.ts, e.event_type FROM ev e, w
        |  WHERE e.event_id % 10 = 0
        |    AND date_trunc('hour', e.ts) + INTERVAL 1 HOUR > w.wm
        |)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS hour,
        |  event_type, count(*) AS n_events
        |FROM kept GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.hourlyCountsLate(
        s, dir, scratchDir("latestage"))
    },
    // queue-shaped ingestion behind the QueueSource interface: events
    // staged as a Kafka-wire file log (key/value/topic/partition/
    // offset), consumed as a stream with JSON value deserialization;
    // the Kafka impl is the same consumer over KafkaQueueSource
    // Queue-ETL twin: replays the md5 partitioner, the per-partition
    // (epoch-µs, event_id) offset window, and the consumer aggregates
    // from the RAW events table — so a break anywhere in the staged
    // log's key/partition/offset assignment OR the JSON value
    // round-trip (string/long/double fields) hash-mismatches
    Gate("stream_queue_etl", 2.21,
      """WITH log AS (
        |  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))
        |      ::BIGINT % 4 AS partition,
        |    user_id, event_type, value, epoch_us(ts) AS tus, event_id
        |  FROM events
        |), off AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY partition
        |    ORDER BY tus ASC, event_id ASC) - 1 AS BIGINT) AS "offset"
        |  FROM log
        |)
        |SELECT partition, count(*) AS n_records,
        |  max("offset") AS max_offset,
        |  min(CASE WHEN event_type = 'purchase' THEN "offset" END)
        |    AS first_purchase_offset,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1
        |    ELSE 0 END), 0) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM off GROUP BY partition""".stripMargin) { (s, dir) =>
      graft.streaming.QueueLog.etl(s, dir, scratchDir("queuelog"))
    },
    Gate("rel_scalar_funcs", 0.23,
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
        |  CAST(day(o_orderdate) AS BIGINT) AS o_day,
        |  strftime(o_orderdate, '%Y-%m') AS o_ym,
        |  upper(o_orderstatus) AS status_u,
        |  lower(o_orderpriority) AS prio_l,
        |  substring(o_orderpriority, 1, 1) AS prio_code,
        |  CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
        |  concat_ws('#', o_orderstatus, o_orderpriority) AS status_prio,
        |  reverse(o_orderstatus) AS status_rev,
        |  abs(o_totalprice - 100000.0) AS price_dist,
        |  greatest(o_totalprice, CAST(250000.0 AS DOUBLE)) AS price_floor,
        |  least(o_totalprice, CAST(250000.0 AS DOUBLE)) AS price_cap,
        |  sqrt(o_totalprice) AS price_sqrt,
        |  o_orderkey % 7 AS key_mod
        |FROM orders""".stripMargin) { (s, dir) =>
      Relational.scalarFuncs(tbl(s, dir, "orders"))
    },

    // keyed interval overlap join, emitted dedup-free (each pair in
    // exactly one bucket — the one holding the overlap start); see
    // Relational.intervalJoin
    // Interval-join replay: the naive overlap join — the bucketed plan
    // must emit the identical pair set (each pair exactly once).
    Gate("rel_interval_join", 0.24,
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    epoch_us(ts) - 21600000000 AS ls, epoch_us(ts) AS le
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT event_id AS click_id, user_id AS c_user,
        |    epoch_us(ts) AS rs, epoch_us(ts) + 1800000000 AS re
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT p.purchase_id, c.click_id, p.user_id,
        |  least(p.le, c.re) - greatest(p.ls, c.rs) AS overlap_us
        |FROM p JOIN c
        |  ON p.user_id = c.c_user AND p.ls < c.re AND c.rs < p.le"""
        .stripMargin) { (s, dir) =>
      Relational.purchaseClickAttribution(tbl(s, dir, "events"))
    },
    // exact rank-selection order statistics (no interpolation — the
    // emitted values are raw input doubles, engine-exact)
    // Rank-selection order statistics: the q-quantile is the element
    // at 1-based rank floor(q*(n-1)) + 1 — integer rank targets, raw
    // double values, no interpolation arithmetic anywhere.
    Gate("rel_order_stats", 0.4,
      """WITH nn AS (
        |  SELECT event_type, value FROM events WHERE value IS NOT NULL
        |), h AS (
        |  SELECT event_type, value, count(*) AS c FROM nn GROUP BY 1, 2
        |), cum AS (
        |  SELECT event_type, value,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h
        |), n AS (
        |  SELECT event_type, count(*) AS n FROM nn GROUP BY 1
        |)
        |SELECT n.event_type, n.n,
        |  min(CASE WHEN cum.cum >= 1 THEN cum.value END) AS min_v,
        |  min(CASE WHEN cum.cum >= (n.n - 1) // 4 + 1
        |    THEN cum.value END) AS p25_v,
        |  min(CASE WHEN cum.cum >= (n.n - 1) // 2 + 1
        |    THEN cum.value END) AS med_v,
        |  min(CASE WHEN cum.cum >= ((n.n - 1) * 3) // 4 + 1
        |    THEN cum.value END) AS p75_v,
        |  min(CASE WHEN cum.cum >= n.n THEN cum.value END) AS max_v
        |FROM cum JOIN n ON cum.event_type = n.event_type
        |GROUP BY n.event_type, n.n""".stripMargin) { (s, dir) =>
      Relational.orderStats(tbl(s, dir, "events"), "event_type",
        "value")
    },
    // Tukey-fence outlier flags off the exact quartiles (see
    // Relational.iqrOutliers)
    // Outlier twin: the same exact-quartile chain, Tukey fences as
    // the identical IEEE op sequence (q1 - (q3-q1)*1.5), flags only
    Gate("rel_outliers", 0.45,
      """WITH nn AS (
        |  SELECT event_type, value FROM events WHERE value IS NOT NULL
        |), h AS (
        |  SELECT event_type, value, count(*) AS c FROM nn GROUP BY 1, 2
        |), cum AS (
        |  SELECT event_type, value,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h
        |), n AS (
        |  SELECT event_type, count(*) AS n FROM nn GROUP BY 1
        |), q AS (
        |  SELECT n.event_type,
        |    min(CASE WHEN cum.cum >= (n.n - 1) // 4 + 1
        |      THEN cum.value END) AS p25_v,
        |    min(CASE WHEN cum.cum >= ((n.n - 1) * 3) // 4 + 1
        |      THEN cum.value END) AS p75_v
        |  FROM cum JOIN n ON cum.event_type = n.event_type
        |  GROUP BY n.event_type
        |)
        |SELECT e.event_id, e.event_type, e.value,
        |  CASE WHEN e.value < q.p25_v - (q.p75_v - q.p25_v) * 1.5
        |    THEN 'low' ELSE 'high' END AS side
        |FROM events e JOIN q ON e.event_type = q.event_type
        |WHERE e.value < q.p25_v - (q.p75_v - q.p25_v) * 1.5
        |   OR e.value > q.p75_v + (q.p75_v - q.p25_v) * 1.5"""
        .stripMargin) { (s, dir) =>
      Relational.iqrOutliers(tbl(s, dir, "events"))
    },
    // multi-source BFS distance from in-plan-derived hub nodes
    Gate("rel_bfs_hops", 5.38, BfsHopsSql(3)) { (s, dir) =>
      Graph.purchaseHubDistance(tbl(s, dir, "orders"),
        tbl(s, dir, "lineitem"))
    },
    // the frontier-BFS name (round-7 verdict #6): the same operator
    // as rel_bfs_hops (Graph.bfsHops expands only the nodes reached last
    // round), kept under its own name and stamp; shares the twin
    Gate("rel_bfs_frontier", 5.6, BfsHopsSql(3)) { (s, dir) =>
      Graph.purchaseHubDistance(tbl(s, dir, "orders"),
        tbl(s, dir, "lineitem"))
    },
    // bounded-round Bellman-Ford (round-8 verdict #4): cheapest
    // <=3-edge path cost in exact cents from the in-plan hub set over
    // l_extendedprice-weighted purchase edges; twin unrolls the
    // relax-merge rounds as CTE pairs
    Gate("rel_sssp", 5.58, SsspSql(3)) { (s, dir) =>
      Graph.purchaseHubCost(tbl(s, dir, "orders"),
        tbl(s, dir, "lineitem"))
    },
    // the delta-frontier Bellman-Ford name: the same operator as
    // rel_sssp (Graph.ssspBounded relaxes only the nodes whose dist
    // improved last round), kept under its own name and stamp; shares
    // the twin (the rel_bfs_frontier precedent)
    Gate("rel_sssp_delta", 4.76, SsspSql(3)) { (s, dir) =>
      Graph.purchaseHubCost(tbl(s, dir, "orders"),
        tbl(s, dir, "lineitem"))
    },
    // spend-weighted PageRank: transition mass proportional to edge
    // weight via ppm-quantized integer shares (see
    // Graph.pageRankWeighted); twin unrolls the rounds
    Gate("rel_pagerank_weighted", 6.51, PageRankWeightedSql(3)) { (s, dir) =>
      Graph.pageRankWeighted(tbl(s, dir, "orders"),
        tbl(s, dir, "lineitem"))
    },

    // --- skew-salted distinct (hot-key holistic agg; see operators.Skew) ---
    // Buckets partition the value space, so the per-bucket distinct
    // counts sum to the exact distinct count — the oracle is plain
    // count(DISTINCT).
    Gate("rel_skew_distinct", 0.21,
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct_user_id
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      Skew.saltedCountDistinct(tbl(s, dir, "events"),
        key = "event_type", value = "user_id")
    },

    // --- repetition quality signals (north-star) ---
    Gate("text_repetition", 1.22,
      """WITH nrm AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g'))), ' ') AS t
        |  FROM documents
        |), uni AS (
        |  SELECT doc_id, w, count(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS w FROM nrm) GROUP BY doc_id, w
        |), u AS (
        |  SELECT doc_id, max(c) AS top_c, sum(c) AS n_tokens
        |  FROM uni GROUP BY doc_id
        |), tg AS (
        |  SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
        |        FROM nrm)
        |), tri AS (
        |  SELECT doc_id, count(*) AS n3, count(DISTINCT g) AS d3
        |  FROM tg GROUP BY doc_id
        |)
        |SELECT u.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  top_c / n_tokens AS top_unigram_share,
        |  1.0 - d3 / n3 AS dup_trigram_frac
        |FROM u JOIN tri USING (doc_id)""".stripMargin) { (s, dir) =>
      TextStats.repetition(docs(s, dir))
    },

    // --- Gopher-rule hard filters (north-star) ---
    Gate("text_quality_flags", 0.21,
      s"""WITH $wsToksCte, c AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
         |    length(array_to_string(toks, '')) AS tok_chars,
         |    length(text) - length(regexp_replace(text, '#', '', 'g'))
         |      + len(regexp_extract_all(text, '\\.\\.\\.')) AS symbols,
         |    len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))
         |      AS alpha_words,
         |    CAST(len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.EnStopwords)}, lower(t))))
         |      AS BIGINT) AS n_stop_hits
         |  FROM wtoks
         |), r AS (
         |  SELECT doc_id, n_words,
         |    tok_chars / nullif(n_words, 0) AS mean_word_len,
         |    symbols / nullif(n_words, 0) AS symbol_word_ratio,
         |    alpha_words / nullif(n_words, 0) AS alpha_word_ratio,
         |    n_stop_hits
         |  FROM c
         |)
         |SELECT *,
         |  n_words >= 50 AND n_words <= 100000 AS r_words,
         |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS r_mean_len,
         |  symbol_word_ratio <= 0.1 AS r_symbols,
         |  alpha_word_ratio >= 0.8 AS r_alpha,
         |  n_stop_hits >= 2 AS r_stops,
         |  r_words AND r_mean_len AND r_symbols AND r_alpha AND r_stops
         |    AS keep
         |FROM r""".stripMargin) { (s, dir) =>
      TextStats.gopherFlags(docs(s, dir))
    },

    // --- benchmark decontamination (north-star) ---
    // Deterministic synthetic benchmark: every 20th doc; the corpus side
    // is everything else. 4-gram granularity flags ~10% of the corpus at
    // sf0.01 (49 docs) — a non-vacuous, selective check.
    // 4-gram contamination vs the every-20th-doc benchmark split
    Gate("dedup_decontam", 1.25, decontamOracle) { (s, dir) =>
      val d = docs(s, dir)
      Dedup.decontaminate(d.filter(col("doc_id") % 20 =!= 0),
        d.filter(col("doc_id") % 20 === 0), n = 4)
    },
    // Bloom-prefiltered twin: bit-identical output (false positives are
    // re-verified by the exact join), so it shares the exact oracle —
    // what the gate proves is that the prefilter drops nothing real
    // the bloom prefilter never changes the result — ONE oracle, two
    // physical plans under test
    Gate("dedup_decontam_bloom", 2.46, decontamOracle) { (s, dir) =>
      val d = docs(s, dir)
      Dedup.decontaminateBloom(d.filter(col("doc_id") % 20 =!= 0),
        d.filter(col("doc_id") % 20 === 0), n = 4)
    },
    // decontamination-index artifact: the frozen benchmark's shingles
    // + Bloom words persisted once, the corpus decontaminated from the
    // RE-READ index (raw benchmark never touched) — same exact oracle,
    // third physical plan (see Dedup.decontamIndexWrite)
    Gate("dedup_decontam_artifact", 2.69, decontamOracle) { (s, dir) =>
      val d = docs(s, dir)
      val out = scratchDir("decontamidx")
      Dedup.decontamIndexWrite(d.filter(col("doc_id") % 20 === 0), out,
        n = 4)
      Dedup.decontaminateFromIndex(d.filter(col("doc_id") % 20 =!= 0),
        out, n = 4)
    },

    // --- composed curation pipeline (north-star) ---
    Gate("pipe_curate", 4.86,
      s"""WITH RECURSIVE $wsToksCte, qc AS (
         |  SELECT doc_id, length(text) AS n_chars, len(toks) AS n_tokens,
         |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
         |    length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS punct_chars,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.EnStopwords)}, lower(t)))) AS stop_toks,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.DeStopwords)}, lower(t)))) AS de_hits,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.EsStopwords)}, lower(t)))) AS es_hits,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.FrStopwords)}, lower(t)))) AS fr_hits
         |  FROM wtoks
         |), q AS (
         |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |    CAST(0.25 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
         |        n_tokens / CAST(100.0 AS DOUBLE))
         |    + CAST(0.25 AS DOUBLE) * (alpha_chars / n_chars)
         |    + CAST(0.25 AS DOUBLE)
         |        * (CAST(1.0 AS DOUBLE) - punct_chars / n_chars)
         |    + CAST(0.25 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
         |        (stop_toks / n_tokens) * CAST(4.0 AS DOUBLE))
         |      AS quality_score,
         |    CASE WHEN stop_toks >= de_hits AND stop_toks >= es_hits
         |              AND stop_toks >= fr_hits THEN 'en'
         |         WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
         |         WHEN es_hits >= fr_hits THEN 'es'
         |         ELSE 'fr' END AS lang_pred
         |  FROM qc
         |), nrm AS (
         |  SELECT doc_id,
         |         lower(trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g'))) AS t
         |  FROM documents
         |), sh0 AS (
         |  SELECT doc_id, string_split(t, ' ') AS tk FROM nrm
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, greatest(len(tk) - 2, 1)),
         |    i -> array_to_string(tk[i:i+2], ' ')))) AS s
         |  FROM sh0
         |), sz AS (
         |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
         |), com AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), jpairs AS (
         |  SELECT da, db FROM com
         |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
         |  WHERE c / (x.n + y.n - c) >= 0.8
         |), edges AS (
         |  SELECT da AS a, db AS b FROM jpairs
         |  UNION ALL SELECT db, da FROM jpairs
         |), reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.b AS id, reach.r FROM reach JOIN edges e
         |    ON e.a = reach.id
         |), canon AS (
         |  SELECT id AS doc_id, min(r) AS canonical_id FROM reach GROUP BY id
         |)
         |SELECT q.doc_id, lang_pred, n_tokens, quality_score
         |FROM q JOIN canon USING (doc_id)
         |WHERE lang_pred = 'en' AND quality_score >= 0.5
         |  AND doc_id = canonical_id
         |  AND ('0x' || substr(md5('graft' || '|' ||
         |        CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      < ${operators.Sampling.thresholdFor(0.5)}""".stripMargin) { (s, dir) =>
      Curate.curate(docs(s, dir))
    },
    // end-to-end BUDGETED prep: quality floor → exact-dedup keep-first
    // → water-filling budget mix applied as hash thresholds →
    // train/val/test split → per-(split, source) composition report.
    // Every stage is an already-gated operator; this gate pins the
    // COMPOSITION (stage order + the exact frame each stage sees)
    // The composed curation twin: langid + quality + recursive canonical
    // components + the hash-sample predicate, assembled from the same
    // building blocks as the individual oracles.
    // Budgeted-prep twin: the pipe_curate quality chain (minus the
    // lang cascade), dedup_exact keep-first over the survivors, the
    // shared water-filling chain re-rooted on the kept set
    // (mixFitCtes("kept")), the samp_mix_fit_apply threshold
    // predicate, and the samp_split CASE — composition pinned
    // stage-for-stage against Curate.budgetPrep
    Gate("pipe_budget_prep", 2.3,
      s"""WITH $wsToksCte, qc AS (
         |  SELECT doc_id, length(text) AS n_chars, len(toks) AS n_tokens,
         |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
         |    length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS punct_chars,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.EnStopwords)}, lower(t)))) AS stop_toks
         |  FROM wtoks
         |), ql AS (
         |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |    CAST(0.25 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
         |        n_tokens / CAST(100.0 AS DOUBLE))
         |    + CAST(0.25 AS DOUBLE) * (alpha_chars / n_chars)
         |    + CAST(0.25 AS DOUBLE)
         |        * (CAST(1.0 AS DOUBLE) - punct_chars / n_chars)
         |    + CAST(0.25 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
         |        (stop_toks / n_tokens) * CAST(4.0 AS DOUBLE))
         |      AS quality_score
         |  FROM qc
         |), fpq AS (
         |  SELECT d.doc_id, d.source, d.n_chars, ql.n_tokens,
         |    md5(lower(trim(regexp_replace(d.text, '[ \\t\\n\\f\\r]+',
         |      ' ', 'g')))) AS fp
         |  FROM documents d JOIN ql USING (doc_id)
         |  WHERE ql.quality_score >= 0.5
         |), kept AS (
         |  SELECT f.* FROM fpq f
         |  JOIN (SELECT fp, min(doc_id) AS kid FROM fpq GROUP BY fp) kf
         |    ON f.fp = kf.fp AND f.doc_id = kf.kid
         |), ${mixFitCtes("kept")}, thr AS (
         |  SELECT source, CAST(floor(least(1.0,
         |    CASE WHEN k.k IS NULL OR rn < k.k THEN 1.0
         |      ELSE (SELECT lamstar FROM l) * w / a END) * 4294967296.0)
         |    AS BIGINT) AS thr
         |  FROM q, k
         |), mixed AS (
         |  SELECT kept.doc_id, kept.source, kept.n_tokens
         |  FROM kept JOIN thr USING (source)
         |  WHERE ('0x' || substr(md5('graft-fit' || '|' ||
         |    CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < thr
         |)
         |SELECT ${operators.Sampling.splitCaseSql(SplitWeights,
               "doc_id", "graft-prep")} AS split,
         |  source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM mixed GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Curate.budgetPrep(docs(s, dir), splits = SplitWeights)
    },
    // entity resolution end-to-end: SymSpell fuzzy blocking + exact
    // verify -> 3-step min-label propagation (distributed union-find
    // arm) -> golden-record rollup; singletons survive as their own
    // entity, so the output is the total entity table
    // Entity-resolution twin: fuzzy CTEs + 3 unrolled min-label steps
    // + golden-record rollup (generator above)
    Gate("pipe_entity_res", 4.59, EntityResSql(3)) { (s, dir) =>
      Dedup.resolveEntities(tbl(s, dir, "customer"), "c_name")
    },

    // --- deterministic sampling (north-star; see operators.Sampling) ---
    // Deterministic hash sampling twins: identical md5-hex thresholds,
    // thresholds/bounds interpolated from the SAME Scala constants the
    // Spark plans use.
    Gate("samp_hash", 0.14,
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE ('0x' || substr(md5('graft' || '|' ||
         |  CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |  < ${operators.Sampling.thresholdFor(0.25)}""".stripMargin) { (s, dir) =>
      Sampling.hashSample(docs(s, dir), 0.25)
        .select("doc_id", "lang", "n_chars")
    },
    // exact-count eval-set carve: top-k of the md5 permutation
    // (TakeOrderedAndProject — no global sort; see
    // Sampling.fixedSizeSample)
    // fixed-k twin: the same md5 permutation order, LIMIT k
    Gate("samp_fixed_k", 0.22,
      """SELECT doc_id FROM (
        |  SELECT doc_id, ('0x' || substr(md5('graft-fix' || '|' ||
        |    CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM documents WHERE doc_id IS NOT NULL
        |  ORDER BY h ASC, doc_id ASC LIMIT 137
        |)""".stripMargin) { (s, dir) =>
      Sampling.fixedSizeSample(docs(s, dir), 137)
    },
    // length-proportional keep probability — the token-budget sampler
    // identical float64 threshold arithmetic on both engines:
    // floor(clamp01(n_chars/3000) * 2^32)
    Gate("samp_weighted", 0.15,
      """SELECT doc_id, n_chars FROM documents
        |WHERE ('0x' || substr(md5('graft-w' || '|' ||
        |  CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |  < floor(greatest(0.0, least(1.0, n_chars / 3000.0))
        |      * 4294967296.0)""".stripMargin) { (s, dir) =>
      Sampling.weightedSample(docs(s, dir),
          org.apache.spark.sql.functions.least(
            lit(1.0), col("n_chars") / lit(3000.0)))
        .select("doc_id", "n_chars")
    },
    // EXACT-k weighted sample without replacement (Efraimidis-Spirakis
    // exponential race, char-count weights): samp_weighted's binomial
    // size becomes exactly 137, samp_fixed_k's uniform vote becomes
    // length-proportional — the "k docs, weighted by tokens" carve
    // Efraimidis-Spirakis exponential race: identical u and w in both
    // engines, key floored onto the 1e-9 grid so a last-ulp ln()
    // disagreement cannot reorder the race; grid ties pin by doc_id
    Gate("samp_weighted_k", 0.26,
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    CAST(floor(-ln(
        |        ((('0x' || substr(md5('graft-wk' || '|' ||
        |            CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
        |          / 4294967296.0))
        |      / CAST(greatest(n_chars, 1) AS DOUBLE)
        |      * 1000000000.0) AS BIGINT) AS ekey
        |  FROM documents WHERE doc_id IS NOT NULL
        |  ORDER BY ekey ASC, doc_id ASC LIMIT 137
        |)""".stripMargin) { (s, dir) =>
      Sampling.weightedBottomK(docs(s, dir), 137,
          org.apache.spark.sql.functions.greatest(col("n_chars"), lit(1L)))
        .select("doc_id", "n_chars")
    },
    // ...and per stratum: the domain cap + token weighting in one pass
    // (10 per source, long docs favored by the same exponential race)
    // weighted per-stratum cap: the same race clock ranked WITHIN each
    // source via QUALIFY
    Gate("samp_weighted_cap", 0.41,
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    CAST(floor(-ln(
        |        ((('0x' || substr(md5('graft-wkc' || '|' ||
        |            CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
        |          / 4294967296.0))
        |      / CAST(greatest(n_chars, 1) AS DOUBLE)
        |      * 1000000000.0) AS BIGINT) AS ekey
        |  FROM documents WHERE doc_id IS NOT NULL
        |  QUALIFY row_number() OVER (PARTITION BY source
        |    ORDER BY ekey ASC, doc_id ASC) <= 10
        |)""".stripMargin) { (s, dir) =>
      Sampling.weightedCapPerStratum(docs(s, dir), 10,
          org.apache.spark.sql.functions.greatest(col("n_chars"), lit(1L)))
        .select("doc_id", "source", "n_chars")
    },
    // DSIR importance selection (round-13; Xie et al. 2023): hashed
    // unigram+bigram bucket LMs over the corpus vs its en target
    // slice, add-one smoothing, per-bucket log-ratios floored ONCE to
    // the 1e-9 grid — every per-doc weight is then an exact BIGINT
    // sum, and the 200-doc selection is a pure top-k race
    // (TakeOrderedAndProject), ties pinned doc_id asc
    // DSIR replay: identical tokenize → hashed unigram+bigram buckets,
    // the same ONE-pass (raw, target) bucket counts, each bucket's
    // log-ratio = four ln() calls on exactly-representable doubles
    // floored ONCE to the 1e-9 grid (the samp_weighted_k device), then
    // exact BIGINT per-doc sums and the top-200 race
    Gate("samp_dsir", 1.63,
      s"""WITH $dsirSqlCtes
         |SELECT doc_id, n_feats, logw_q FROM (
         |  SELECT f.doc_id, count(*) AS n_feats,
         |    CAST(sum(l.lr) AS BIGINT) AS logw_q
         |  FROM feats f JOIN lr l USING (b) GROUP BY 1
         |  ORDER BY logw_q DESC, doc_id ASC LIMIT 200
         |)""".stripMargin) { (s, dir) =>
      Sampling.dsirSelect(docs(s, dir))
    },
    // ...against an EXTERNAL target corpus (the paper's real setup:
    // target = a trusted reference, raw = the crawl): target LM from
    // the src0 slice, scored set = everything else; the bucket
    // tables full-outer merge, add-one smoothing covers either side's
    // zeros
    // external-target twin: the same tokenize/bucket chain with the
    // source axis, full-outer bucket merge, the same gridded ratio
    Gate("samp_dsir_external", 4.4,
      """WITH n AS (
        |  SELECT doc_id, source,
        |    lower(trim(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g')))
        |      AS norm
        |  FROM documents
        |), tk AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(norm, ' '), x -> x <> '') AS t
        |  FROM n
        |), uni AS (
        |  SELECT doc_id, source, unnest(t) AS f FROM tk
        |), bi AS (
        |  SELECT doc_id, source, unnest(list_transform(
        |    generate_series(1, len(t) - 1),
        |    i -> t[i] || '_' || t[i + 1])) AS f
        |  FROM tk WHERE len(t) >= 2
        |), feats AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5('graft-dsir' || '|' || f), 1, 8))::BIGINT
        |      % 256 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) u
        |), rfeats AS (
        |  SELECT doc_id, b FROM feats WHERE source <> 'src0'
        |), rc AS (
        |  SELECT b, count(*) AS rc FROM rfeats GROUP BY 1
        |), tcc AS (
        |  SELECT b, count(*) AS tc FROM feats
        |  WHERE source = 'src0' GROUP BY 1
        |), cnt AS (
        |  SELECT coalesce(r.b, t.b) AS b,
        |    coalesce(r.rc, 0) AS rc, coalesce(t.tc, 0) AS tc
        |  FROM rc r FULL OUTER JOIN tcc t ON r.b = t.b
        |), tot AS (
        |  SELECT sum(rc) AS rtot, sum(tc) AS ttot FROM cnt
        |), lr AS (
        |  SELECT b, CAST(floor((ln(CAST(tc + 1 AS DOUBLE))
        |      - ln(CAST(rc + 1 AS DOUBLE))
        |      + ln(CAST(rtot + 256 AS DOUBLE))
        |      - ln(CAST(ttot + 256 AS DOUBLE)))
        |      * 1000000000.0) AS BIGINT) AS lr
        |  FROM cnt CROSS JOIN tot
        |)
        |SELECT doc_id, n_feats, logw_q FROM (
        |  SELECT f.doc_id, count(*) AS n_feats,
        |    CAST(sum(l.lr) AS BIGINT) AS logw_q
        |  FROM rfeats f JOIN lr l USING (b) GROUP BY 1
        |  ORDER BY logw_q DESC, doc_id ASC LIMIT 200
        |)""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      Sampling.dsirSelectAgainst(
        d.filter(col("source") =!= "src0"),
        d.filter(col("source") === "src0"))
    },
    // ...and the paper's ACTUAL selection step: Gumbel-top-k
    // resampling without replacement ∝ e^logw, run entirely in log
    // domain (key = −ln(−ln u) + logw — no exp() anywhere), key
    // floored once to the 1e-9 grid, ties doc_id asc
    // Gumbel-resampling twin: the same score CTE, the same log-domain
    // race key (u strictly inside (0,1) via h + 0.5), gridded at 1e-9
    Gate("samp_dsir_gumbel", 1.44,
      s"""WITH $dsirSqlCtes, sc AS (
         |  SELECT f.doc_id, count(*) AS n_feats,
         |    CAST(sum(l.lr) AS BIGINT) AS logw_q
         |  FROM feats f JOIN lr l USING (b) GROUP BY 1
         |)
         |SELECT doc_id, n_feats, logw_q, gkey_q FROM (
         |  SELECT doc_id, n_feats, logw_q,
         |    CAST(floor((-ln(-ln(
         |        (('0x' || substr(md5('graft-dsir-g' || '|' ||
         |          CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
         |          / 4294967296.0))
         |      + CAST(logw_q AS DOUBLE) / 1000000000.0)
         |      * 1000000000.0) AS BIGINT) AS gkey_q
         |  FROM sc
         |  ORDER BY gkey_q DESC, doc_id ASC LIMIT 200
         |)""".stripMargin) { (s, dir) =>
      Sampling.dsirResample(docs(s, dir))
    },
    // deterministic global shuffle into 8 shards (training-order write)
    // one fixed md5-random permutation, bucketed into 8 shards; total
    // order via (hash, key) tie-break
    Gate("samp_shard", 0.28,
      """SELECT doc_id, h % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8
        |    ORDER BY h ASC, doc_id ASC) AS BIGINT) AS pos
        |FROM (
        |  SELECT doc_id, ('0x' || substr(md5('graft-shard' || '|' ||
        |    CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM documents WHERE doc_id IS NOT NULL)""".stripMargin) { (s, dir) =>
      Sampling.shardAssign(docs(s, dir), 8)
    },
    Gate("samp_split", 0.17,
      s"""SELECT doc_id,
         |  ${operators.Sampling.splitCaseSql(SplitWeights, "doc_id", "graft")}
         |    AS split
         |FROM documents""".stripMargin) { (s, dir) =>
      Sampling.splitByHash(docs(s, dir), SplitWeights)
        .select("doc_id", "split")
    },
    Gate("samp_stratified", 0.17,
      s"""SELECT doc_id, lang FROM documents
         |WHERE ('0x' || substr(md5('graft' || '|' ||
         |  CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT <
         |  CASE ${StratFractions.toSeq.sortBy(_._1).map { case (l, p) =>
             s"WHEN lang = '$l' THEN ${operators.Sampling.thresholdFor(p)}"
           }.mkString(" ")}
         |  ELSE ${operators.Sampling.thresholdFor(0.25)} END"""
        .stripMargin) { (s, dir) =>
      Sampling.stratifiedSample(docs(s, dir), StratFractions,
          defaultFraction = 0.25)
        .select("doc_id", "lang")
    },
    Gate("samp_cap", 0.44, capSql) { (s, dir) =>
      Sampling.capPerStratum(docs(s, dir), maxPerStratum = 10)
        .select("doc_id", "source")
    },
    // cluster-stratified DIVERSITY sample: 10 deterministic
    // representatives per IVF semantic cluster — caps dense embedding
    // regions instead of letting a uniform draw over-represent them
    // Cluster-stratified diversity-sample twin: the assignment CTE of
    // the IVF chain (queries pruned via FALSE), then the samp_cap
    // device per cluster
    Gate("samp_diverse", 0.68,
      s"""WITH $vecCtes, ${ivfKnnCtes(16, 1, "FALSE")}
         |SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY cid ORDER BY
         |      ('0x' || substr(md5('graft-div' || '|' ||
         |        CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT ASC,
         |      vec_id ASC) AS rn
         |  FROM assign)
         |WHERE rn <= 10""".stripMargin) { (s, dir) =>
      Sampling.clusterStratifiedSample(tbl(s, dir, "embeddings"))
    },
    // samp_cap's name twin: the same hash-bucketed cap against the same
    // oracle (see Sampling.capPerStratum)
    Gate("samp_cap_scalable", 0.64, capSql) { (s, dir) =>
      Sampling.capPerStratum(docs(s, dir), maxPerStratum = 10)
        .select("doc_id", "source")
    },
    // Mixture twin: identical fraction derivation (w·T*/count with
    // T* = min(count/w)) and the same left-associative double
    // arithmetic, so thresholds agree bit-for-bit.
    Gate("samp_mix", 0.49,
      s"""WITH cnt AS (
         |  SELECT lang, count(*) AS c FROM documents GROUP BY lang
         |), w AS (
         |  SELECT lang, c,
         |    CASE ${SparkEntry.MixTargets.toSeq.sortBy(_._1).map {
               case (l, p) => s"WHEN lang = '$l' THEN $p"
             }.mkString(" ")} ELSE 0.0 END AS w
         |  FROM cnt
         |), t AS (
         |  SELECT min(c / w) AS tstar FROM w WHERE w > 0
         |), f AS (
         |  SELECT lang, CAST(floor(w * tstar / c * 4294967296.0)
         |    AS BIGINT) AS thr
         |  FROM w, t WHERE w > 0
         |)
         |SELECT doc_id, lang FROM documents JOIN f USING (lang)
         |WHERE ('0x' || substr(md5('graft' || '|' ||
         |  CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < thr""".stripMargin) { (s, dir) =>
      Sampling.mixtureSample(docs(s, dir), MixTargets)
        .select("doc_id", "lang")
    },
    // token-share mixture: stratum sizes are TOKEN sums, the form an
    // LLM data mix specifies (see Sampling.mixtureSampleByTokens)
    // Token-share mixture twin: identical machinery with the stratum
    // size as the exact-integer token sum (the TF raw-len convention)
    Gate("samp_mix_tokens", 0.43,
      s"""WITH cnt AS (
         |  SELECT lang,
         |    CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT)
         |      AS c
         |  FROM documents GROUP BY lang
         |), w AS (
         |  SELECT lang, c,
         |    CASE ${SparkEntry.MixTargets.toSeq.sortBy(_._1).map {
               case (l, p) => s"WHEN lang = '$l' THEN $p"
             }.mkString(" ")} ELSE 0.0 END AS w
         |  FROM cnt
         |), t AS (
         |  SELECT min(c / w) AS tstar FROM w WHERE w > 0
         |), f AS (
         |  SELECT lang, CAST(floor(w * tstar / c * 4294967296.0)
         |    AS BIGINT) AS thr
         |  FROM w, t WHERE w > 0
         |)
         |SELECT doc_id, lang FROM documents JOIN f USING (lang)
         |WHERE ('0x' || substr(md5('graft' || '|' ||
         |  CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < thr""".stripMargin) { (s, dir) =>
      Sampling.mixtureSampleByTokens(docs(s, dir), MixTargets)
        .select("doc_id", "lang")
    },
    // budgeted mixture FIT: the water-filling solver — fixed budget
    // (50% of corpus chars), md5-derived target weights; scarce
    // sources cap at rate 1, the rest split the remainder by weight
    // in one relational pass (sorted saturation breakpoints)
    // Water-filling mixture-fit twin: same md5-derived weights, same
    // sorted saturation breakpoints (two exclusive prefix-sum windows
    // in the identical (r, source) order — sequential double sums, so
    // the IEEE values match bit-for-bit), first unsaturated row pins
    // (k*, λ*), capped sources allocate avail at rate 1
    Gate("samp_mix_fit", 0.62,
      s"""WITH ${mixFitCtes()}
         |SELECT source, CAST(a AS BIGINT) AS avail_tokens,
         |  floor(w * 100 + 0.5) / 100 AS target_w,
         |  floor(CASE WHEN k.k IS NULL OR rn < k.k THEN a
         |    ELSE (SELECT lamstar FROM l) * w END * 100 + 0.5) / 100
         |    AS alloc_tokens,
         |  floor(CASE WHEN k.k IS NULL OR rn < k.k THEN 1.0
         |    ELSE (SELECT lamstar FROM l) * w / a END * 100 + 0.5) / 100
         |    AS rate,
         |  k.k IS NULL OR rn < k.k AS capped
         |FROM q, k""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.{conv, substring, sum}
      Sampling.mixtureFit(docs(s, dir).groupBy("source")
        .agg(sum(col("n_chars")).as("avail"))
        .withColumn("w",
          conv(substring(md5(col("source")), 1, 4), 16, 10)
            .cast("long") % 5 + 1))
    },
    // ...and the APPLY: the same water level as per-source hash
    // thresholds executed over the corpus — the end-to-end budgeted
    // mix pass (exact rate, not the round2 report value)
    // Mixture-fit APPLY twin: the same water level turned into
    // per-source hash thresholds (exact rate, not the round2 report
    // value), the hashSample keep predicate per row
    Gate("samp_mix_fit_apply", 0.71,
      s"""WITH ${mixFitCtes()}, thr AS (
         |  SELECT source,
         |    CAST(floor(least(1.0,
         |      CASE WHEN k.k IS NULL OR rn < k.k THEN 1.0
         |        ELSE (SELECT lamstar FROM l) * w / a END)
         |      * 4294967296.0) AS BIGINT) AS thr
         |  FROM q, k
         |)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN thr USING (source)
         |WHERE ('0x' || substr(md5('graft-fit' || '|' ||
         |  CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < thr""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.{conv, substring, sum}
      val d = docs(s, dir)
      Sampling.mixtureFitApply(d.select("doc_id", "source"),
        d.groupBy("source").agg(sum(col("n_chars")).as("avail"))
          .withColumn("w",
            conv(substring(md5(col("source")), 1, 4), 16, 10)
              .cast("long") % 5 + 1))
    },
    // water-filling with per-source FLOORS (the fairness knob): floors
    // up to 60% of avail derived from md5 nibbles, INTEGRAL (floor'd)
    // so every prefix sum in the solve stays exact in double across
    // engines; floor-bound sources sit at their floor, the rest
    // water-fill the remaining budget by weight
    // Floors twin: the two-event-class water solve — each source
    // explodes into (leave-floor, hit-cap) events, one sorted pass of
    // running prefix sums, the first interval whose candidate level
    // lands inside it pins λ*. Floors are integral (floor'd md5
    // percentage of avail), so every running sum is exact in double.
    Gate("samp_mix_fit_floors", 0.82,
      s"""WITH $mixFitFloorsCtes
         |SELECT source,
         |  CAST(a AS BIGINT) AS avail_tokens,
         |  floor(w * 100 + 0.5) / 100 AS target_w,
         |  floor(lo * 100 + 0.5) / 100 AS floor_tokens,
         |  floor((CASE WHEN a / w <= lamstar THEN a
         |    WHEN lo / w > lamstar THEN lo
         |    ELSE lamstar * w END) * 100 + 0.5) / 100 AS alloc_tokens,
         |  floor((CASE WHEN a / w <= lamstar THEN 1.0
         |    WHEN lo / w > lamstar THEN lo / nullif(a, 0.0)
         |    ELSE lamstar * w / nullif(a, 0.0) END) * 100 + 0.5) / 100
         |    AS rate,
         |  (a / w <= lamstar) AS capped,
         |  (lo / w > lamstar) AS floored
         |FROM s2, l""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.{conv, floor, substring, sum}
      Sampling.mixtureFitFloors(docs(s, dir).groupBy("source")
        .agg(sum(col("n_chars")).as("avail"))
        .withColumn("w",
          conv(substring(md5(col("source")), 1, 4), 16, 10)
            .cast("long") % 5 + 1)
        .withColumn("floor_tokens",
          floor(col("avail") * (conv(substring(md5(col("source")), 5, 2),
            16, 10).cast("long") % 60) / 100.0).cast("long")))
    },
    // ...and the floors APPLY: floor-bound sources keep at lo/avail,
    // capped at 1, active at λ*·w/avail — the fairness-constrained
    // budgeted mix executed end-to-end as hash thresholds
    // Floors APPLY twin: the same solve turned into per-source hash
    // thresholds (exact rate: 1 capped / lo/a floored / λ*·w/a
    // active), the hashSample keep predicate per row
    Gate("samp_mix_fit_floors_apply", 0.82,
      s"""WITH $mixFitFloorsCtes, thr AS (
         |  SELECT source,
         |    CAST(floor(least(1.0,
         |      CASE WHEN a / w <= lamstar THEN 1.0
         |        WHEN lo / w > lamstar THEN lo / nullif(a, 0.0)
         |        ELSE lamstar * w / nullif(a, 0.0) END)
         |      * 4294967296.0) AS BIGINT) AS thr
         |  FROM s2, l
         |)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN thr USING (source)
         |WHERE ('0x' || substr(md5('graft-fit' || '|' ||
         |  CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < thr""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.{conv, floor, substring, sum}
      val d = docs(s, dir)
      Sampling.mixtureFitFloorsApply(d.select("doc_id", "source"),
        d.groupBy("source").agg(sum(col("n_chars")).as("avail"))
          .withColumn("w",
            conv(substring(md5(col("source")), 1, 4), 16, 10)
              .cast("long") % 5 + 1)
          .withColumn("floor_tokens",
            floor(col("avail") * (conv(substring(md5(col("source")), 5, 2),
              16, 10).cast("long") % 60) / 100.0).cast("long")))
    },
    // temperature-2 rebalance: weights sqrt(count) derived in-plan
    // (sqrt is correctly rounded per IEEE 754 → oracle-pinnable; other
    // temperatures go through pow and are not)
    // Temperature-mixture twin: identical chain with w = sqrt(c)
    // (correctly-rounded IEEE — bit-identical across engines); the
    // keep fraction w·T*/c is scale-invariant in w, so no share
    // normalization sum appears anywhere
    Gate("samp_mix_temp", 0.47,
      """WITH cnt AS (
        |  SELECT lang, count(*) AS c FROM documents GROUP BY lang
        |), w AS (
        |  SELECT lang, c, sqrt(c) AS w FROM cnt
        |), t AS (
        |  SELECT min(c / w) AS tstar FROM w
        |), f AS (
        |  SELECT lang, CAST(floor(w * tstar / c * 4294967296.0)
        |    AS BIGINT) AS thr
        |  FROM w, t
        |)
        |SELECT doc_id, lang FROM documents JOIN f USING (lang)
        |WHERE ('0x' || substr(md5('graft' || '|' ||
        |  CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < thr""".stripMargin) { (s, dir) =>
      Sampling.temperatureMixture(docs(s, dir))
        .select("doc_id", "lang")
    },
    // epoch-repeat upsampling: per-lang epoch factors (2.5 epochs of
    // de, ...), full copies unconditional, the fractional epoch is a
    // deterministic hash-chosen subset; es has no factor and drops
    // Epoch-repeat twin: identical per-lang constant CASE chains
    // (floor/ceil/partial-epoch threshold all interpolated from the
    // SAME Scala map), lateral range explode, same hash keep on the
    // fractional copy
    Gate("samp_repeat_epochs", 0.17, {
      def chain(f: Double => String): String =
        "CASE " + EpochFactors.toSeq.sortBy(_._1).map { case (l, e) =>
          s"WHEN lang = '$l' THEN ${f(e)}"
        }.mkString(" ") + " ELSE NULL END"
      s"""WITH f AS (
         |  SELECT doc_id, lang,
         |    ${chain(e => math.floor(e).toLong.toString)} AS full_e,
         |    ${chain(e => math.ceil(e).toLong.toString)} AS ceil_e,
         |    ${chain(e =>
               operators.Sampling.thresholdFor(e - math.floor(e)).toString)}
         |      AS thr
         |  FROM documents
         |  WHERE doc_id IS NOT NULL
         |    AND lang IN (${EpochFactors.keys.toSeq.sorted
               .map(l => s"'$l'").mkString(", ")})
         |)
         |SELECT doc_id, lang, CAST(t.epoch AS BIGINT) AS epoch
         |FROM f, unnest(range(1, ceil_e + 1)) AS t(epoch)
         |WHERE t.epoch <= full_e
         |   OR ('0x' || substr(md5('graft-ep' || '|' ||
         |     CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < thr""".stripMargin
    }) { (s, dir) =>
      Sampling.repeatEpochs(docs(s, dir), EpochFactors)
        .select("doc_id", "lang", "epoch")
    },
    // token-budget selection: best docs by (score desc, id asc) until
    // the running token total hits the budget (score-histogram
    // boundary-block top-up); the _scalable name is kept registered and
    // runs the same operator against the same twin
    Gate("samp_token_budget", 0.9, tokenBudgetSql) { (s, dir) =>
      Sampling.tokenBudgetSelect(docs(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long")
          .as("score"), col("n_chars")),
        TokenBudget, tokensCol = "n_chars")
    },
    Gate("samp_token_budget_scalable", 0.79, tokenBudgetSql) { (s, dir) =>
      Sampling.tokenBudgetSelect(docs(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long")
          .as("score"), col("n_chars")),
        TokenBudget, tokensCol = "n_chars")
    },
    // curriculum deciles by text length: exact ntile over the pinned
    // (score, doc_id) total order — the global-sort baseline
    // Curriculum twins: exact ntile over the pinned total order, and
    // the histogram value-quantile replay (running sum over DISTINCT
    // scores, block-start bin ceil((cum-c+1)*nBins/N))
    Gate("samp_curriculum", 1.17,
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS score,
        |  CAST(ntile(10) OVER (ORDER BY length(text) ASC, doc_id ASC)
        |    AS BIGINT) AS bin
        |FROM documents""".stripMargin) { (s, dir) =>
      Sampling.curriculumBins(docs(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long")
          .as("score")), "score")
        .select("doc_id", "score", "bin")
    },
    // the 100 TB form: value-quantile bins from the score histogram —
    // no global row sort; tie blocks land whole (block-start bin)
    Gate("samp_curriculum_scalable", 0.58,
      """WITH s AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS score
        |  FROM documents
        |), hist AS (
        |  SELECT score, count(*) AS c FROM s GROUP BY score
        |), cum AS (
        |  SELECT score, c, sum(c) OVER (ORDER BY score ASC) AS cum
        |  FROM hist
        |), n AS (SELECT count(*) AS n FROM s),
        |b AS (
        |  SELECT score,
        |    CAST(ceil((cum - c + 1) * 10.0 / n) AS BIGINT) AS bin
        |  FROM cum, n
        |)
        |SELECT s.doc_id, s.score, b.bin FROM s JOIN b USING (score)"""
        .stripMargin) { (s, dir) =>
      Sampling.curriculumBinsScalable(docs(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long")
          .as("score")), "score")
        .select("doc_id", "score", "bin")
    },

    // --- greedy sequence packing (north-star; see operators.Packing) ---
    // Greedy-packing twin: the same per-shard sequential fold, replayed
    // as a recursive CTE over row_number-ordered docs (state = (nb, nr):
    // next bin index and running fill AFTER each row; budget 256,
    // md5 shard % 8 — the identical constants/hash as the Spark plan).
    Gate("text_pack", 0.35,
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(text,
        |      '[ \t\n\f\r]+'), t -> t != '')) AS BIGINT) AS n_tokens,
        |    CAST(('0x' || substr(md5('graft-pack|' ||
        |      CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS INTEGER)
        |      AS shard
        |  FROM documents
        |), ord AS (
        |  SELECT *, row_number()
        |    OVER (PARTITION BY shard ORDER BY doc_id ASC) AS rn
        |  FROM toks
        |), pack AS (
        |  SELECT shard, rn, doc_id, n_tokens,
        |    CAST(0 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS bin_offset,
        |    CAST(CASE WHEN n_tokens >= 256 THEN 1 ELSE 0 END AS BIGINT)
        |      AS nb,
        |    CAST(CASE WHEN n_tokens >= 256 THEN 0 ELSE n_tokens
        |      END AS BIGINT) AS nr
        |  FROM ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
        |    CASE WHEN o.n_tokens >= 256 THEN
        |           (CASE WHEN p.nr > 0 THEN p.nb + 1 ELSE p.nb END)
        |         WHEN p.nr + o.n_tokens > 256 THEN p.nb + 1
        |         ELSE p.nb END AS bin,
        |    CASE WHEN o.n_tokens >= 256 THEN 0
        |         WHEN p.nr + o.n_tokens > 256 THEN 0
        |         ELSE p.nr END AS bin_offset,
        |    CASE WHEN o.n_tokens >= 256 THEN
        |           (CASE WHEN p.nr > 0 THEN p.nb + 2 ELSE p.nb + 1 END)
        |         WHEN p.nr + o.n_tokens > 256 THEN p.nb + 1
        |         ELSE p.nb END AS nb,
        |    CASE WHEN o.n_tokens >= 256 THEN 0
        |         WHEN p.nr + o.n_tokens > 256 THEN o.n_tokens
        |         ELSE p.nr + o.n_tokens END AS nr
        |  FROM pack p JOIN ord o ON o.shard = p.shard AND o.rn = p.rn + 1
        |)
        |SELECT doc_id, shard, bin, bin_offset, n_tokens FROM pack"""
        .stripMargin) { (s, dir) =>
      Packing.packGreedy(docs(s, dir), budget = 256L, shards = 8)
    },

    // --- PII scrub (north-star) ---
    // The synthetic corpus carries no PII, so the gate injects a
    // deterministic email/URL/digit-run per row (same injection in the
    // oracle) — the redaction provably fires on every document instead
    // of passing vacuously.
    // Injected-PII redaction twin (same injection, same patterns — the
    // regexes are vals shared with TextStats.redactPii).
    Gate("text_redact", 0.22,
      s"""WITH inj AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@mail.example.com see https://data.example.com/d/'
         |      || CAST(doc_id AS VARCHAR)
         |      || ' ref 20260812' || CAST(doc_id AS VARCHAR) AS text
         |  FROM documents
         |)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '${operators.TextStats.EmailRe}', '<EMAIL>', 'g'),
         |    '${operators.TextStats.UrlRe}', '<URL>', 'g'),
         |    '${operators.TextStats.DigitRunRe}', '<NUM>', 'g')
         |    AS clean_text,
         |  len(regexp_extract_all(text, '${operators.TextStats.EmailRe}'))
         |    AS n_emails,
         |  len(regexp_extract_all(text, '${operators.TextStats.UrlRe}'))
         |    AS n_urls,
         |  len(regexp_extract_all(text, '${operators.TextStats.DigitRunRe}'))
         |    AS n_digit_runs
         |FROM inj""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.concat
      TextStats.redactPii(docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.example.com see https://data.example.com/d/"),
          col("doc_id"), lit(" ref 20260812"), col("doc_id"))
          .as("text")))
    },
    // per-source PII audit around the redaction pass. The synthetic
    // corpus carries no PII, so the gate injects it UNEVENLY (email+URL
    // on doc_id % 3 = 0, digit run on % 5 = 0; same injection in the
    // oracle) — the per-source rates and the TOTAL rollup row are
    // exercised with real variation instead of vacuous zeros
    // PII-audit twin: the same uneven injection, the same shared
    // pattern vals, GROUP BY ROLLUP(source) with the TOTAL sentinel
    Gate("text_pii_report", 0.45,
      s"""WITH inj AS (
         |  SELECT source,
         |    text ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' contact user'
         |      || CAST(doc_id AS VARCHAR)
         |      || '@mail.example.com via https://data.example.com/d/'
         |      || CAST(doc_id AS VARCHAR) ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN ' ref 20260812'
         |      || CAST(doc_id AS VARCHAR) ELSE '' END AS text
         |  FROM documents
         |), c AS (
         |  SELECT source,
         |    CAST(len(regexp_extract_all(text,
         |      '${operators.TextStats.EmailRe}')) AS BIGINT) AS ne,
         |    CAST(len(regexp_extract_all(text,
         |      '${operators.TextStats.UrlRe}')) AS BIGINT) AS nu,
         |    CAST(len(regexp_extract_all(text,
         |      '${operators.TextStats.DigitRunRe}')) AS BIGINT) AS nd
         |  FROM inj
         |)
         |SELECT CASE WHEN GROUPING(source) = 1 THEN 'TOTAL'
         |    ELSE source END AS source,
         |  count(*) AS n_docs,
         |  CAST(sum(CASE WHEN ne + nu + nd > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS docs_with_pii,
         |  CAST(sum(ne) AS BIGINT) AS n_emails,
         |  CAST(sum(nu) AS BIGINT) AS n_urls,
         |  CAST(sum(nd) AS BIGINT) AS n_digit_runs,
         |  floor(CAST(sum(CASE WHEN ne + nu + nd > 0 THEN 1 ELSE 0 END)
         |      AS DOUBLE) / count(*) * 100 + 0.5) / 100 AS pii_rate
         |FROM c GROUP BY ROLLUP(source)""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.{concat, when}
      TextStats.piiReport(docs(s, dir).select(col("source"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id"),
              lit("@mail.example.com via https://data.example.com/d/"),
              col("doc_id"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" ref 20260812"), col("doc_id")))
            .otherwise(lit(""))).as("text")))
    },

    // --- embedding quantization (north-star) ---
    // Gate surface: the quantized values exploded to scalar rows (array
    // columns are un-hashable by a row-compare harness); scale rides
    // along per row.
    // Int8 quantization twin: same double-precision max-abs scale and
    // half-up integer mapping, exploded to (vec_id, j, q) scalars.
    Gate("sim_quantize", 1.2,
      """WITH q0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
        |    AS v
        |  FROM embeddings
        |), m AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m
        |  FROM q0
        |), e AS (
        |  SELECT vec_id, nullif(m, 0) / 127 AS scale, v, m,
        |         unnest(generate_series(1, len(v))) AS i
        |  FROM m
        |)
        |SELECT vec_id, scale, CAST(i - 1 AS INTEGER) AS j,
        |  CAST(floor(v[i] * 127 / nullif(m, 0) + 0.5) AS INTEGER) AS q
        |FROM e""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.posexplode
      Similarity.quantizeInt8(tbl(s, dir, "embeddings"))
        .select(col("vec_id"), col("scale"), posexplode(col("qvec")))
        .select(col("vec_id"), col("scale"),
          col("pos").cast("int").as("j"), col("col").as("q"))
    },

    // --- multimodal plumbing (decode step stubbed; see Multimodal) ---
    // Gate surface: the fixed-width feature vector flattened to scalar
    // columns f0..f7 (the array<float> column itself is un-hashable by
    // a row-compare harness), floats widened to double (exact). The
    // gate runs the PRODUCTION mapPartitions path; the stub decoder is
    // SQL-expressible (bounded modular byte arithmetic), so the oracle
    // replays it exactly and a spec pins the in-plan expression twin
    // (Multimodal.featuresInPlan) to the same rows.
    // Stub-codec replay: per-stripe rolling polynomial hash over the
    // payload bytes ((i-1) mod 8 → stripe), acc ← (acc·31 + byte) mod
    // 1000003 — exact BIGINT arithmetic in both engines; features are
    // the double-scaled hash rounded through FLOAT exactly as the
    // production decoder stores them.
    Gate("mm_features", 0.2, {
      s"""WITH pay AS (
         |  SELECT doc_id, encode(text) AS data,
         |    CAST(('0x' || substr(md5(text), 1, 4))::BIGINT % 512 + 64
         |      AS INTEGER) AS width,
         |    CAST(('0x' || substr(md5(text), 5, 4))::BIGINT % 512 + 64
         |      AS INTEGER) AS height
         |  FROM documents
         |), hx AS (
         |  SELECT doc_id, width, height,
         |    CAST(octet_length(data) AS BIGINT) AS n_bytes,
         |    hex(data) AS h
         |  FROM pay
         |)
         |SELECT doc_id, width, height, n_bytes,
         |$mmFeatureColsSql
         |FROM hx""".stripMargin
    }) { (s, dir) =>
      val feats = graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.withPayload(docs(s, dir))).toDF()
      val dims = 0 until graft.multimodal.Multimodal.FeatureDims
      feats.select(
        (Seq("doc_id", "width", "height", "n_bytes").map(col) ++
          dims.map(i =>
            get(col("features"), lit(i)).cast("double").as(s"f$i"))): _*)
    },

    // Resize gate surface: the new metadata dims plus a checksum of the
    // subsampled payload (md5 over its hex rendering — DuckDB 1.0 has
    // no BLOB md5/substr, so the hex string is the cross-engine form).
    // Resize replay: scale = min(1, 128/max(w,h,1)) in IEEE double both
    // engines (DuckDB int/int division is double); the payload
    // subsample is a prefix of the hex rendering (DuckDB 1.0 has no
    // BLOB substr/md5). Spark's double→int cast truncates toward zero
    // — DuckDB CAST rounds, so the twin goes through trunc(). upper()
    // because DuckDB hex is lowercase while Spark's is uppercase.
    Gate("mm_resize", 0.18,
      """WITH pay AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'png'
        |         WHEN doc_id % 3 = 1 THEN 'jpeg'
        |         ELSE 'webp' END AS format,
        |    upper(hex(encode(text))) AS h,
        |    octet_length(encode(text)) AS len,
        |    CAST(('0x' || substr(md5(text), 1, 4))::BIGINT % 512 + 64
        |      AS INTEGER) AS width,
        |    CAST(('0x' || substr(md5(text), 5, 4))::BIGINT % 512 + 64
        |      AS INTEGER) AS height
        |  FROM documents
        |), scaled AS (
        |  SELECT doc_id, format, width, height, h, len,
        |    least(CAST(1.0 AS DOUBLE),
        |      128 / greatest(width, height, 1)) AS scale
        |  FROM pay
        |), cut AS (
        |  SELECT doc_id, format, width, height, h, scale,
        |    greatest(CAST(trunc(len * scale) AS INTEGER), 1) AS new_len
        |  FROM scaled
        |)
        |SELECT doc_id, format,
        |  CAST(ceil(width * scale) AS INTEGER) AS width,
        |  CAST(ceil(height * scale) AS INTEGER) AS height,
        |  CAST(new_len AS BIGINT) AS n_bytes,
        |  md5(substr(h, 1, 2 * new_len)) AS data_md5
        |FROM cut""".stripMargin) { (s, dir) =>
      val resized = graft.multimodal.Multimodal.resize(
        graft.multimodal.Multimodal.withPayload(docs(s, dir)))
      resized.select(col("doc_id"), col("format"),
        col("width"), col("height"),
        length(col("data")).cast("long").as("n_bytes"),
        md5(hex(col("data"))).as("data_md5"))
    },

    // Frame-sampling gate surface: every 4th 16-byte frame with its
    // index; the frame itself travels as its hex rendering (uppercase
    // in both engines).
    // Frame-sampling replay: frame i covers hex chars [32i+1, 32i+32]
    // (16 bytes); generate_series is stop-inclusive with step, exactly
    // like Spark's sequence. len//16-1 (int floor-div) equals Spark's
    // trunc-toward-zero double path for every len >= 0 after the
    // greatest(...,0) clamp.
    Gate("mm_frames", 0.18,
      """WITH pay AS (
        |  SELECT doc_id, upper(hex(encode(text))) AS h,
        |    octet_length(encode(text)) AS len
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, h,
        |    unnest(generate_series(0, greatest(len // 16 - 1, 0), 4))
        |      AS frame_idx
        |  FROM pay
        |)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  substr(h, frame_idx * 32 + 1, 32) AS frame_hex
        |FROM fr""".stripMargin) { (s, dir) =>
      graft.multimodal.Multimodal.sampleFrames(
          graft.multimodal.Multimodal.withPayload(docs(s, dir)))
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          hex(col("frame")).as("frame_hex"))
    },

    // Pixel-budget batch packing over the media metadata — the
    // multimodal twin of text_pack, as per-shard quota binning (no
    // global window; see Multimodal.packBatches)
    // Batch-packing replay: the same md5 metadata dims, md5 doc_id
    // shard bucket, and per-shard exclusive-prefix-sum quota binning
    // (window sum of BIGINT is HUGEINT in DuckDB — cast back)
    Gate("mm_batch", 0.47,
      """WITH pay AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(text), 1, 4))::BIGINT % 512 + 64
        |      AS INTEGER) AS width,
        |    CAST(('0x' || substr(md5(text), 5, 4))::BIGINT % 512 + 64
        |      AS INTEGER) AS height
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 16 AS shard,
        |    CAST(width AS BIGINT) * height AS px
        |  FROM pay
        |), cum AS (
        |  SELECT doc_id, shard, px,
        |    CAST(coalesce(sum(px) OVER (PARTITION BY shard
        |      ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS excl
        |  FROM m
        |)
        |SELECT doc_id, shard, px, excl // 1048576 AS batch
        |FROM cum""".stripMargin) { (s, dir) =>
      graft.multimodal.Multimodal.packBatches(
        graft.multimodal.Multimodal.withPayload(docs(s, dir)))
    },

    // pHash-style media dedup over a cloned corpus (code bucket join +
    // full-feature verify; see Multimodal.phashDedup)
    // pHash-dedup replay: the cloned corpus, the same 8 feature
    // expressions, the 8-bit threshold code, bucket self-join on the
    // code, equality verify on n_bytes + every dim
    Gate("mm_phash", 0.82, {
      val codeSql = (0 until 8)
        .map(d => s"(CASE WHEN f$d >= 0.5 THEN ${1L << d} ELSE 0 END)")
        .mkString(" + ")
      val eqSql = (0 until 8).map(d => s"a.f$d = b.f$d")
        .mkString(" AND ")
      s"""WITH docs2 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents
         |  WHERE doc_id % 7 = 0
         |), hx AS (
         |  SELECT doc_id,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |    hex(encode(text)) AS h
         |  FROM docs2
         |), feat AS (
         |  SELECT doc_id, n_bytes,
         |$mmFeatureColsSql
         |  FROM hx
         |), coded AS (
         |  SELECT doc_id, n_bytes, f0, f1, f2, f3, f4, f5, f6, f7,
         |    CAST($codeSql AS BIGINT) AS code
         |  FROM feat
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.code
         |FROM coded a JOIN coded b ON a.code = b.code
         |  AND a.doc_id < b.doc_id AND a.n_bytes = b.n_bytes
         |  AND $eqSql""".stripMargin
    }) { (s, dir) =>
      val d = docs(s, dir)
      val cloned = d.unionAll(d.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
      graft.multimodal.Multimodal.phashDedup(
        graft.multimodal.Multimodal.withPayload(cloned))
    },

    // Adamic–Adar "customers who bought the same things" link
    // prediction over the co-purchase bipartite graph (hub-capped
    // wedge join; see Graph.adamicAdar)
    // Adamic–Adar replay: distinct customer–part edges, hub-capped
    // part degrees, wedge join, per-pair DECIMAL sum of the
    // round2(1/ln(deg)) terms, top-20 pinned (score desc, a, b)
    Gate("rel_link_predict", 3.27,
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), d AS (
        |  SELECT p, CAST(floor((1.0 / ln(count(*))) * 100 + 0.5) / 100
        |    AS DECIMAL(18,2)) AS aa
        |  FROM e GROUP BY p HAVING count(*) BETWEEN 2 AND 200
        |)
        |SELECT e1.c AS cust_a, e2.c AS cust_b,
        |  CAST(sum(d.aa) AS DOUBLE) AS score
        |FROM e e1 JOIN e e2 ON e1.p = e2.p AND e1.c < e2.c
        |JOIN d ON d.p = e1.p
        |GROUP BY 1, 2
        |ORDER BY score DESC, cust_a ASC, cust_b ASC
        |LIMIT 20""".stripMargin) { (s, dir) =>
      Graph.adamicAdar(tbl(s, dir, "orders"), tbl(s, dir, "lineitem"))
    },

    // Exponentially-decayed daily revenue (power-of-two decay keeps
    // the whole computation integer-exact; see
    // Relational.ewmaDailyRevenue)
    // EWMA replay: exact BIGINT cents per day, each day explodes its
    // 8 decayed contributions (integer power-of-two weights) onto the
    // target days, semi join back onto the day set, one keyed sum;
    // the human-unit column is the single exact-int / 12800.0 IEEE
    // division, round2-pinned
    Gate("rel_ewma", 0.87,
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |), contrib AS (
        |  SELECT d + CAST(k AS INTEGER) AS td,
        |    cents * (1 << (7 - CAST(k AS INTEGER))) AS w
        |  FROM daily CROSS JOIN range(0, 8) r(k)
        |), agg AS (
        |  SELECT td, CAST(sum(w) AS BIGINT) AS ewma_scaled
        |  FROM contrib
        |  JOIN (SELECT DISTINCT d FROM daily) dd ON dd.d = contrib.td
        |  GROUP BY td
        |)
        |SELECT strftime(td, '%Y-%m-%d') AS day, ewma_scaled,
        |  floor((ewma_scaled / 12800.0) * 100 + 0.5) / 100 AS ewma
        |FROM agg""".stripMargin) { (s, dir) =>
      Relational.ewmaDailyRevenue(tbl(s, dir, "orders"))
    },

    // Privacy-governance audit: per quasi-identifier group size and
    // sensitive-value diversity with k/l risk flags (see
    // Relational.kAnonymityAudit)
    // k-anonymity replay: QI grouping, banded sensitive attribute,
    // size + distinct-band counts, k=5 / l=2 risk flags
    Gate("rel_k_anonymity", 0.2,
      """SELECT c_mktsegment, c_nationkey,
        |  count(*) AS n,
        |  CAST(count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
        |    WHEN c_acctbal < 5000.0 THEN 'mid' ELSE 'high' END)
        |    AS BIGINT) AS l_div,
        |  (count(*) < 5 OR count(DISTINCT CASE WHEN c_acctbal < 0
        |    THEN 'neg' WHEN c_acctbal < 5000.0 THEN 'mid'
        |    ELSE 'high' END) < 2) AS at_risk
        |FROM customer
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Relational.kAnonymityAudit(tbl(s, dir, "customer"))
    },

    // BPE tokenizer-training pair statistics: adjacent-character pair
    // frequencies over the distinct-word dictionary (see
    // TextStats.bpePairStats)
    // BPE pair replay: distinct-word frequency dictionary, adjacent
    // character pairs per >=2-char word via SELECT-unnest (empty
    // series drops the row, mirroring the pre-explode length filter),
    // frequency-weighted counts, top-20 pinned (cnt desc, a, b)
    Gate("text_bpe_pairs", 0.54,
      """WITH nrm AS (
        |  SELECT string_split(
        |    lower(trim(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g'))),
        |    ' ') AS t
        |  FROM documents
        |), tk AS (
        |  SELECT unnest(t) AS w FROM nrm
        |), wf AS (
        |  SELECT w, count(*) AS wf FROM tk
        |  WHERE w != '' GROUP BY w HAVING length(w) >= 2
        |), pos AS (
        |  SELECT w, wf,
        |    unnest(generate_series(1, length(w) - 1)) AS i
        |  FROM wf
        |), pr AS (
        |  SELECT substr(w, CAST(i AS INTEGER), 1) AS a,
        |    substr(w, CAST(i AS INTEGER) + 1, 1) AS b, wf
        |  FROM pos
        |)
        |SELECT a, b, CAST(sum(wf) AS BIGINT) AS cnt,
        |  CAST(row_number() OVER (ORDER BY sum(wf) DESC, a ASC, b ASC)
        |    AS BIGINT) AS "rank"
        |FROM pr GROUP BY a, b
        |ORDER BY cnt DESC, a ASC, b ASC
        |LIMIT 20""".stripMargin) { (s, dir) =>
      TextStats.bpePairStats(docs(s, dir))
    },

    // One BPE merge round applied to the vocabulary — leftmost
    // non-overlapping literal replace of the in-plan-derived top pair
    // (see TextStats.bpeApplyTopMerge)
    // BPE merge replay: same dictionary + top-1 pair as a scalar CTE,
    // literal replace() (leftmost non-overlapping in both engines),
    // merge count from the +2-chars-per-merge length delta
    Gate("text_bpe_merge", 0.61,
      """WITH nrm AS (
        |  SELECT string_split(
        |    lower(trim(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g'))),
        |    ' ') AS t
        |  FROM documents
        |), tk AS (
        |  SELECT unnest(t) AS w FROM nrm
        |), wf AS (
        |  SELECT w, count(*) AS wf FROM tk WHERE w != '' GROUP BY w
        |), pos AS (
        |  SELECT w, wf, unnest(generate_series(1, length(w) - 1)) AS i
        |  FROM wf WHERE length(w) >= 2
        |), top AS (
        |  SELECT substr(w, CAST(i AS INTEGER), 1) AS a,
        |    substr(w, CAST(i AS INTEGER) + 1, 1) AS b
        |  FROM pos
        |  GROUP BY 1, 2
        |  ORDER BY sum(wf) DESC, a ASC, b ASC LIMIT 1
        |)
        |SELECT w, wf,
        |  replace(w, a || b, '(' || a || b || ')') AS merged,
        |  CAST((length(replace(w, a || b, '(' || a || b || ')'))
        |    - length(w)) // 2 AS BIGINT) AS n_merges
        |FROM wf CROSS JOIN top""".stripMargin) { (s, dir) =>
      TextStats.bpeApplyTopMerge(docs(s, dir))
    },

    // Full BPE training loop (round-7 verdict #3): 6 greedy merge
    // rounds over the symbol-sequence vocabulary, driver-looped like
    // trainCodebook; the output IS the tokenizer's merge table and the
    // twin replays every round (see TextStats.bpeTrain / bpeTrainSql)
    // Full BPE-training replay: all merge rounds unrolled (see
    // bpeTrainSql)
    Gate("text_bpe_train", 1.51, bpeTrainSql(BpeTrainRounds)) { (s, dir) =>
      TextStats.bpeTrain(docs(s, dir), rounds = BpeTrainRounds)
    },

    // Apply the trained tokenizer: per-document subword token counts
    // through the 6-merge vocabulary — the token count a data budget
    // bills by (see TextStats.bpeEncode)
    // Tokenizer-apply replay: the same chain + the per-doc word join
    Gate("text_bpe_encode", 2.33, bpeEncodeSql(BpeTrainRounds)) { (s, dir) =>
      TextStats.bpeEncode(docs(s, dir), rounds = BpeTrainRounds)
    },

    // Tokenizer-as-artifact (round-8 verdict #1): train the 6-merge
    // tokenizer ONCE, persist merges+vocab as parquet, and encode from
    // the RE-READ artifact — the oracle is text_bpe_encode's own twin,
    // so the gate proves train→persist→apply is bit-identical to the
    // in-plan encode (the sim_topk_ivf_persisted precedent)
    // stored-artifact apply ≡ in-plan encode, by the shared-tail
    // construction — same twin
    Gate("text_bpe_apply_stored", 3.17, bpeEncodeSql(BpeTrainRounds)) { (s, dir) =>
      val d = docs(s, dir)
      val out = scratchDir("bpetok")
      TextStats.bpeArtifactWrite(d, out, rounds = BpeTrainRounds)
      TextStats.bpeEncodeFromArtifact(d, out)
    },

    // Per-language fertility / compression of the STORED tokenizer —
    // the health report a tokenizer artifact ships with
    // fertility twin: the same trained chain, grouped by language —
    // count/symbol/char sums are exact BIGINTs, the two ratios round2
    Gate("text_bpe_fertility", 2.68, bpeFertilitySql(BpeTrainRounds)) { (s, dir) =>
      val d = docs(s, dir)
      val out = scratchDir("bpefert")
      TextStats.bpeArtifactWrite(d, out, rounds = BpeTrainRounds)
      TextStats.bpeFertility(d, out)
    },

    // The FROZEN-tokenizer apply on data it never saw: train+persist on
    // 6/7 of the corpus, encode the held-out 1/7 by unfolding the
    // stored merge table into in-plan folds — OOV words encode instead
    // of dropping (see TextStats.bpeEncodeOov)
    Gate("text_bpe_encode_oov", 2.97, bpeEncodeOovSql(BpeTrainRounds)) { (s, dir) =>
      val d = docs(s, dir)
      val out = scratchDir("bpeoov")
      TextStats.bpeArtifactWrite(d.filter(col("doc_id") % 7 =!= 0), out,
        rounds = BpeTrainRounds)
      TextStats.bpeEncodeOov(d.filter(col("doc_id") % 7 === 0), out)
    },

    // Group-leakage-safe split: the hash key is the GROUP (source),
    // not the row, so every group lands wholly in one split — the
    // contamination guard a benchmark-vs-train split actually needs
    // Group-safe split replay: the samp_split CASE over md5(source)
    Gate("samp_split_grouped", 0.14,
      s"""SELECT doc_id, source,
         |  ${operators.Sampling.splitCaseSql(SplitWeights, "source",
              "graft")} AS split
         |FROM documents""".stripMargin) { (s, dir) =>
      Sampling.splitByHash(docs(s, dir), SplitWeights,
          keyCol = "source")
        .select("doc_id", "source", "split")
    },

    // Recency-decayed retention: weekly age bands vs the in-plan max
    // day, band b keeps a 2^-b md5-hash fraction (see
    // Sampling.decaySample)
    // Decay-sample replay: same age bands vs the max event date, same
    // md5 bucket, same floor-division halving threshold
    Gate("samp_decay", 0.28,
      """WITH mx AS (SELECT max(CAST(ts AS DATE)) AS mx FROM events),
        |b AS (
        |  SELECT event_id,
        |    date_diff('day', CAST(ts AS DATE), mx.mx) // 7 AS band,
        |    ('0x' || substr(md5('graft-decay' || '|' ||
        |      CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 10000
        |      AS bucket
        |  FROM events, mx
        |)
        |SELECT event_id, CAST(band AS BIGINT) AS band FROM b
        |WHERE bucket < 10000 // (1 << CAST(least(band, 30) AS INTEGER))"""
        .stripMargin) { (s, dir) =>
      Sampling.decaySample(tbl(s, dir, "events"))
    },

    // Deadline-bounded funnel: each stage within 24h of the previous
    // frontier (see Relational.funnelWindowed)
    // Windowed-funnel twin: the same iterated-min chain with the 24h
    // deadline against the previous frontier
    Gate("rel_funnel_window", 0.42,
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
        |), f1 AS (
        |  SELECT user_id, min(tus) AS t FROM e
        |  WHERE event_type = 'view' GROUP BY user_id
        |), f2 AS (
        |  SELECT e.user_id, min(e.tus) AS t FROM e
        |  JOIN f1 ON e.user_id = f1.user_id
        |  WHERE e.event_type = 'click' AND e.tus > f1.t
        |    AND e.tus <= f1.t + 86400000000
        |  GROUP BY e.user_id
        |), f3 AS (
        |  SELECT e.user_id, min(e.tus) AS t FROM e
        |  JOIN f2 ON e.user_id = f2.user_id
        |  WHERE e.event_type = 'purchase' AND e.tus > f2.t
        |    AND e.tus <= f2.t + 86400000000
        |  GROUP BY e.user_id
        |)
        |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type,
        |  count(*) AS n_users FROM f1
        |UNION ALL SELECT CAST(2 AS BIGINT), 'click', count(*) FROM f2
        |UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM f3"""
        .stripMargin) { (s, dir) =>
      Relational.funnelWindowed(tbl(s, dir, "events"))
    },

    // Revenue decile concentration (Lorenz/Gini table; see
    // Relational.revenueDeciles)
    // Decile twin: per-customer DECIMAL spend, ntile(10) over the
    // pinned (spend desc, custkey) order, exact-decimal decile sums,
    // share as floor(x·10000+0.5) basis points
    Gate("rel_revenue_deciles", 1.61,
      """WITH pc AS (
        |  SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY 1
        |), d AS (
        |  SELECT o_custkey, spend,
        |    CAST(ntile(10) OVER (ORDER BY spend DESC, o_custkey ASC)
        |      AS BIGINT) AS decile
        |  FROM pc
        |), t AS (SELECT sum(spend) AS total FROM pc)
        |SELECT decile, count(*) AS n_customers,
        |  CAST(sum(spend) AS DOUBLE) AS revenue,
        |  CAST(floor(CAST(sum(spend) AS DOUBLE)
        |    / CAST(t.total AS DOUBLE) * 10000 + 0.5) AS BIGINT)
        |    AS share_bp
        |FROM d, t GROUP BY decile, t.total""".stripMargin) { (s, dir) =>
      Relational.revenueDeciles(tbl(s, dir, "orders"))
    },
    // Exact Gini coefficient of customer spend (see
    // Relational.giniSpend)
    // Gini twin: exact integer cents/rank-products through the final
    // two IEEE divisions, 4-dp round2
    Gate("rel_gini", 0.69,
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |      AS HUGEINT) AS cents
        |  FROM orders GROUP BY 1
        |), r AS (
        |  SELECT cents, row_number() OVER (ORDER BY cents ASC,
        |    o_custkey ASC) AS i
        |  FROM pc
        |), a AS (
        |  SELECT count(*) AS n, sum(cents) AS total_cents,
        |    sum(cents * i) AS wsum
        |  FROM r
        |)
        |SELECT CAST(n AS BIGINT) AS n_customers,
        |  CAST(total_cents AS DOUBLE) / 100.0 AS total_revenue,
        |  floor((CAST(wsum AS DOUBLE) * 2.0
        |      / (CAST(n AS DOUBLE) * CAST(total_cents AS DOUBLE))
        |    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE))
        |    * 10000 + 0.5) / 10000 AS gini
        |FROM a""".stripMargin) { (s, dir) =>
      Relational.giniSpend(tbl(s, dir, "orders"))
    },

    // Mergeable-HLL distinct maintenance: union-of-sketches ==
    // single-pass sketch, pinned as booleans per the sketch-contract
    // pattern (see Relational.hllMaintain)
    // HLL-maintenance contract replay: exact distincts + both contract
    // booleans pinned TRUE (estimates are sketch-impl-specific — the
    // engine-stable contract is what crosses engines; the CMS pattern)
    Gate("rel_hll_maintain", 0.35,
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS inc_within_rel_err, TRUE AS full_within_rel_err
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      Relational.hllMaintain(tbl(s, dir, "events"))
    },

    // Sketch-as-artifact: persist the pre-cutoff HLL sketches as
    // parquet, merge the post-cutoff delta against the RE-READ
    // artifact (old events never scanned), estimate within the 5%
    // contract (see Relational.hllArtifactWrite/hllArtifactMerge)
    // Sketch-artifact twin: the same sketch-contract shape — exact
    // distinct per type, the artifact-merged estimate must sit inside
    // the 5% band
    Gate("rel_hll_artifact", 0.42,
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS merged_within_rel_err
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val ev = tbl(s, dir, "events")
      val out = scratchDir("hllart")
      Relational.hllArtifactWrite(
        ev.filter(expr("unix_micros(ts) < 1706616000000000")), out)
      Relational.hllArtifactMerge(
        ev.filter(expr("unix_micros(ts) >= 1706616000000000")), ev, out)
    },

    // last-touch attribution: per purchase, the same user's most
    // recent click/view inside a 7-day horizon — one per-user range
    // frame (the deadline lives in the FRAME), argmax via max(struct)
    // Attribution twin: the equivalent horizon range-join + QUALIFY
    // rank-1 (Spark's single window frame, as the join formulation —
    // same rows, the asof-twin pattern); LEFT JOIN keeps unattributed
    // purchases with NULL touch columns
    Gate("rel_attribution", 0.38,
      """WITH conv AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS cus
        |  FROM events WHERE event_type = 'purchase'
        |), t AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id AS tid,
        |    event_type AS tty
        |  FROM events WHERE event_type IN ('click', 'view')
        |)
        |SELECT c.event_id, c.user_id, t.tid AS touch_id,
        |  t.tty AS touch_type,
        |  (c.cus - t.tus) // 60000000 AS mins_before
        |FROM conv c LEFT JOIN t ON t.user_id = c.user_id
        |  AND t.tus < c.cus AND t.tus >= c.cus - 604800000000
        |QUALIFY row_number() OVER (PARTITION BY c.event_id
        |  ORDER BY t.tus DESC, t.tid DESC) = 1""".stripMargin) { (s, dir) =>
      Relational.lastTouchAttribution(tbl(s, dir, "events"))
    },
    // first-order Markov transition matrix over per-user event
    // sequences: (from, to) counts + round2 row probabilities; ties
    // pinned by event_id, per-user lead() window, enum²-sized agg
    // Markov twin: per-user lead() with the same (ts, event_id) tie
    // pin, (from, to) counts, probability = count over the from-state
    // outgoing total. Ordering uses epoch_us(ts) — DuckDB reads the
    // parquet as TIMESTAMP_NS while Spark truncates to micros, so raw
    // ts would tie-break at nano precision and diverge (ADVICE r11).
    Gate("rel_markov", 0.48,
      """WITH seq AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) ASC, event_id ASC) AS next_type
        |  FROM events
        |), pr AS (
        |  SELECT event_type, next_type, count(*) AS n
        |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, sum(n) AS tot FROM pr GROUP BY 1
        |)
        |SELECT pr.event_type, pr.next_type, pr.n,
        |  floor(pr.n / t.tot * 100 + 0.5) / 100 AS p
        |FROM pr JOIN t USING (event_type)""".stripMargin) { (s, dir) =>
      Relational.markovTransitions(tbl(s, dir, "events"))
    },
    // ...and its consumer: per-user mean −log10 transition probability
    // under the population model — the sequence-anomaly outlier signal
    // (DECIMAL-summed log-probs, the lmScore invariant)
    // Markov-score twin: same model fit, each user's transitions score
    // against it; log10-probs quantized to DECIMAL(20,12) before the
    // sum (the lmScore cross-engine invariant), round2 mean NLL
    Gate("rel_markov_score", 0.93,
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) ASC, event_id ASC) AS next_type
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_type, next_type FROM seq
        |  WHERE next_type IS NOT NULL
        |), pr AS (
        |  SELECT event_type, next_type, count(*) AS n
        |  FROM s GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, sum(n) AS tot FROM pr GROUP BY 1
        |), m AS (
        |  SELECT pr.event_type, pr.next_type, pr.n / t.tot AS pp
        |  FROM pr JOIN t USING (event_type)
        |), l AS (
        |  SELECT s.user_id, CAST(log10(m.pp) AS DECIMAL(20,12)) AS lp
        |  FROM s JOIN m USING (event_type, next_type)
        |)
        |SELECT user_id, count(*) AS n_transitions,
        |  floor(-CAST(sum(lp) AS DOUBLE) / count(*) * 100 + 0.5) / 100
        |    AS avg_nll
        |FROM l GROUP BY 1""".stripMargin) { (s, dir) =>
      Relational.markovScore(tbl(s, dir, "events"))
    },

    // equi-width histogram artifact: the DISTRIBUTION sketch beside
    // HLL (distinct) and CMS (frequency) — write pre-cutoff, merge
    // the delta, estimate p50/p90/p99 off the merged counters; every
    // output is exact integers/edges, so the estimates hash-match
    // Histogram-artifact replay: same power-of-two bucket floor, full
    // rebuild (count linearity), cumulative window over ≤128 rows per
    // type, exact integer cross-multiplied rank comparison
    Gate("rel_hist_artifact", 0.55, histAuditSql) { (s, dir) =>
      Relational.histArtifactAudit(tbl(s, dir, "events"),
        scratchDir("histart"))
    },

    // Count-min-sketch artifact: persist the pre-cutoff per-user CMS
    // (≤ 4096 md5-bucketed counters), merge the post-cutoff delta
    // against the RE-READ parquet, point-estimate the top-20 users.
    // md5 buckets ⇒ the oracle replays the ESTIMATES exactly — a
    // hash-match gate, not a contract band (unlike HLL, whose sketch
    // internals are engine-private).
    // CMS-artifact replay: identical md5-salted bucket derivation,
    // dense rebuild over the FULL table (counters sum linearly, so
    // pre-artifact + delta ≡ from-scratch), min-over-depths estimate
    Gate("rel_cms_artifact", 1.06, cmsAuditSql) { (s, dir) =>
      Relational.cmsArtifactAudit(tbl(s, dir, "events"),
        scratchDir("cmsart"))
    },

    // Incremental partition diff: per-day xor fingerprints of the
    // pre-cutoff snapshot vs the full table → added/changed/unchanged
    // days (see Relational.partitionDiff; snapshot_diff's µs cutoff)
    // Partition-diff replay: per-day bit_xor of the 60-bit md5 slice
    // over the same canonical row rendering, full-outer on day
    Gate("rel_partition_diff", 0.48,
      """WITH fo AS (
        |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |    bit_xor(('0x' || substr(md5(
        |      CAST(event_id AS VARCHAR) || '|' ||
        |      CAST(user_id AS VARCHAR) || '|' || event_type),
        |      1, 15))::BIGINT) AS fp, count(*) AS cnt
        |  FROM events WHERE epoch_us(ts) < 1706616000000000
        |  GROUP BY 1
        |), fn AS (
        |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |    bit_xor(('0x' || substr(md5(
        |      CAST(event_id AS VARCHAR) || '|' ||
        |      CAST(user_id AS VARCHAR) || '|' || event_type),
        |      1, 15))::BIGINT) AS fp, count(*) AS cnt
        |  FROM events
        |  GROUP BY 1
        |)
        |SELECT coalesce(fo.day, fn.day) AS day,
        |  CASE WHEN fo.fp IS NULL THEN 'added'
        |       WHEN fn.fp IS NULL THEN 'removed'
        |       WHEN fo.fp = fn.fp AND fo.cnt = fn.cnt THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM fo FULL OUTER JOIN fn ON fo.day = fn.day""".stripMargin) { (s, dir) =>
      val ev = tbl(s, dir, "events")
      Relational.partitionDiff(
        ev.filter(expr("unix_micros(ts) < 1706616000000000")), ev,
        Seq("event_id", "user_id", "event_type"))
    },

    // The diff DRIVING a refresh: keep unchanged days' old aggregates,
    // recompute only dirty days, splice — must equal the full
    // recompute bit-for-bit (see Relational.incrementalRefresh)
    // Diff-driven-refresh twin: the FULL daily recompute over the new
    // snapshot — the spliced kept+recomputed result must equal it
    Gate("rel_incremental_refresh", 0.9,
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |    AS sum_value
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val ev = tbl(s, dir, "events")
      Relational.incrementalRefresh(
        ev.filter(expr("unix_micros(ts) < 1706616000000000")), ev,
        Seq("event_id", "user_id", "event_type"))
    },

    // Refresh from a MATERIALIZED rollup artifact (round-8 verdict #3):
    // write rollup+fingerprints from the old snapshot, refresh against
    // the full table reading ONLY the artifact (the old snapshot is
    // never scanned), write the new artifact, serve from it — the
    // full round-trip must equal the full recompute (same twin as
    // rel_incremental_refresh)
    // Artifact-refresh twin: identical contract — the materialized
    // write→refresh→serve round-trip must equal the full recompute
    Gate("rel_refresh_artifact", 1.64,
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |    AS sum_value
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val ev = tbl(s, dir, "events")
      val out0 = scratchDir("rollup0")
      val out1 = scratchDir("rollup1")
      Relational.rollupArtifactWrite(
        ev.filter(expr("unix_micros(ts) < 1706616000000000")), out0,
        Seq("event_id", "user_id", "event_type"))
      Relational.incrementalRefreshFromArtifact(ev, out0, out1,
        Seq("event_id", "user_id", "event_type"))
    },

    // Append-mode watermark-finalized hourly windows over the staged
    // 3-batch replay — pins WHICH windows have been emitted (finalized)
    // by end-of-stream vs held in state
    // Append-mode finalization replay (pinned by Round16Spec):
    // kept rows follow stream_late_drop's rule (batch 2 filtered
    // against W0 = max(ts over batch 0) - 1 min, equality drops);
    // the final no-data micro-batch then applies the watermark from
    // ALL data (Wf = global max ts - 1 min) and emits exactly the
    // windows with end <= Wf — later windows stay in state, never
    // emitted under AvailableNow
    Gate("stream_append_final", 2.69,
      """WITH ev AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events
        |), w0 AS (
        |  SELECT max(ts) - INTERVAL 1 MINUTE AS wm FROM ev
        |  WHERE event_id % 10 >= 2
        |), wf AS (
        |  SELECT max(ts) - INTERVAL 1 MINUTE AS wm FROM ev
        |), kept AS (
        |  SELECT ts, event_type FROM ev WHERE event_id % 10 != 0
        |  UNION ALL
        |  SELECT e.ts, e.event_type FROM ev e, w0
        |  WHERE e.event_id % 10 = 0
        |    AND date_trunc('hour', e.ts) + INTERVAL 1 HOUR > w0.wm
        |)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS hour,
        |  event_type, count(*) AS n_events
        |FROM kept, wf
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wf.wm
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.hourlyCountsAppend(
        s, dir, scratchDir("appendfin"))
    },

    // Checkpointed stop-and-resume: drain 2 staged batches, append a
    // third file, restart from the SAME checkpoint — state and source
    // offsets must restore (exactly-once across the restart; see
    // EventsStream.hourlyCountsResumed)
    // Resume gate shares the plain hourly aggregate: equality over ALL
    // events is exactly what breaks if the restarted query re-reads
    // committed files (double counts) or loses state (missing hours)
    Gate("stream_resume", 2.77,
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS hour,
        |  event_type, count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      graft.streaming.EventsStream.hourlyCountsResumed(
        s, dir, scratchDir("resumestage"), scratchDir("resumeout"),
        scratchDir("resumeckpt"))
    },
  )

  // Shared DuckDB CTE chain mirroring WikiText.tokens / TfIdfOps over the
  // `documents` parquet table. Kept textually aligned with the Scala ops:
  // any semantic change must land in BOTH places.
  // Keep-latest compaction twin: the (ts desc, event_id desc) argmax
  // per (user_id, event_type) — shared by rel_compact_latest and its
  // _scalable name and, WHERE-filtered, by the snapshot-diff and
  // merge-upsert twins' snapshots
  private def compactLatestSql(where: String = ""): String =
    s"""SELECT user_id, event_type,
       |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       |  event_id AS last_event_id, value AS last_value
       |FROM events $where
       |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
       |  ORDER BY ts DESC, event_id DESC) = 1""".stripMargin
  private val CompactLatestSql: String = compactLatestSql()

  // PageRank twin generator: unrolls `iters` (in-mass, rank) CTE pairs
  // over the shared edge/degree/teleport scaffolding. All-BIGINT
  // fixed-point (total mass 1e12), mirroring operators.Graph.pageRank.
  // Run-to-convergence PageRank twin: `cap` rounds unrolled with the
  // PageRankSql scaffolding, every per-round L∞ delta computed, tol =
  // first-round delta // residualDiv, rounds_executed = the first
  // at/under-tol round (else the cap), and the emitted ranks selected
  // from exactly that round — the literal Graph.pageRankConverged
  // semantics in exact BIGINT arithmetic.
  private def PageRankConvergedSql(residualDiv: Long, cap: Int): String = {
    val total = operators.Graph.TotalMass
    val tele = total * 15 / 100
    val steps = (1 to cap).map { i =>
      s"""s$i AS (
         |  SELECT e.dst AS node, sum(r.rank // r.deg) AS m
         |  FROM r${i - 1} r JOIN edges e ON r.node = e.src
         |  GROUP BY e.dst
         |), r$i AS MATERIALIZED (
         |  SELECT d.node, d.deg,
         |    CAST($tele // n.n + (85 * coalesce(s$i.m, 0)) // 100
         |      AS BIGINT) AS rank
         |  FROM deg d CROSS JOIN n LEFT JOIN s$i ON d.node = s$i.node
         |)""".stripMargin
    }.mkString(",\n")
    val deltas = (1 to cap).map { i =>
      s"""SELECT $i AS k,
         |    (SELECT max(abs(a.rank - b.rank)) FROM r$i a
         |     JOIN r${i - 1} b ON a.node = b.node) AS d""".stripMargin
    }.mkString("\n  UNION ALL ")
    val picks = (1 to cap).map { i =>
      s"""SELECT CASE WHEN node % 2 = 0 THEN 'customer'
         |            ELSE 'supplier' END AS node_type,
         |  node // 2 AS key, "rank",
         |  (SELECT re FROM re) AS rounds
         |FROM r$i WHERE (SELECT re FROM re) = $i""".stripMargin
    }.mkString("\nUNION ALL ")
    // every multi-referenced CTE is MATERIALIZED: DuckDB would
    // otherwise INLINE each reference, re-expanding the whole round
    // chain per delta/pick subquery — exponential scan blowup ("too
    // many open files" before it even runs out of time)
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), edges AS MATERIALIZED (
       |  SELECT c AS src, s AS dst FROM e0
       |  UNION ALL SELECT s, c FROM e0
       |), deg AS MATERIALIZED (
       |  SELECT src AS node, count(*) AS deg FROM edges GROUP BY src
       |), n AS MATERIALIZED (SELECT count(*) AS n FROM deg),
       |r0 AS MATERIALIZED (
       |  SELECT node, deg, $total // n.n AS rank FROM deg, n
       |),
       |$steps,
       |dl AS MATERIALIZED (
       |  $deltas
       |),
       |re AS MATERIALIZED (
       |  SELECT CAST(coalesce(min(k), $cap) AS BIGINT) AS re FROM dl
       |  WHERE d <= (SELECT d FROM dl WHERE k = 1) // $residualDiv
       |)
       |$picks""".stripMargin
  }

  /** Shared random-walk CTE chain (rank-indexed adjacency, degree
    * table, hop frames w1..w`steps`, and the `walks` union) for
    * rel_random_walk and rel_walk_skipgram — identical md5 stream per
    * walk, identical dst-sorted rank. */
  private def walkSqlCtes(steps: Int): String = {
    def hop(i: Int) =
      s"""w$i AS (
         |  SELECT p.start, a.dst AS node
         |  FROM w${i - 1} p
         |  JOIN deg d ON p.node = d.src
         |  JOIN adj a ON a.src = p.node AND a.rk =
         |    ('0x' || substr(md5('graft-walk' || '|' ||
         |      CAST(p.start AS VARCHAR) || '|$i'), 1, 8))::BIGINT
         |      % d.odeg + 1
         |)""".stripMargin
    val ss = 1 to steps
    s"""e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), e AS (
       |  SELECT c AS src, s AS dst FROM e0
       |  UNION ALL SELECT s AS src, c AS dst FROM e0
       |), adj AS (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rk
       |  FROM e
       |), deg AS (
       |  SELECT src, count(*) AS odeg FROM e GROUP BY 1
       |), w0 AS (
       |  SELECT src AS start, src AS node FROM deg
       |), ${ss.map(hop).mkString(", ")}, walks AS (
       |  SELECT start, CAST(0 AS INTEGER) AS step, node FROM w0
       |${ss.map(i =>
           s"  UNION ALL SELECT start, CAST($i AS INTEGER) AS step, " +
             s"node FROM w$i").mkString("\n")}
       |)""".stripMargin
  }

  private def PageRankSql(iters: Int): String = {
    val total = operators.Graph.TotalMass
    val tele = total * 15 / 100
    val steps = (1 to iters).map { i =>
      s"""s$i AS (
         |  SELECT e.dst AS node, sum(r.rank // r.deg) AS m
         |  FROM r${i - 1} r JOIN edges e ON r.node = e.src
         |  GROUP BY e.dst
         |), r$i AS (
         |  SELECT d.node, d.deg,
         |    CAST($tele // n.n + (85 * coalesce(s$i.m, 0)) // 100
         |      AS BIGINT) AS rank
         |  FROM deg d CROSS JOIN n LEFT JOIN s$i ON d.node = s$i.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), edges AS (
       |  SELECT c AS src, s AS dst FROM e0
       |  UNION ALL SELECT s, c FROM e0
       |), deg AS (
       |  SELECT src AS node, count(*) AS deg FROM edges GROUP BY src
       |), n AS (SELECT count(*) AS n FROM deg),
       |r0 AS (
       |  SELECT node, deg, $total // n.n AS rank FROM deg, n
       |),
       |$steps
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
       |            ELSE 'supplier' END AS node_type,
       |  node // 2 AS key, "rank"
       |FROM r$iters""".stripMargin
  }

  // HITS twin: the same all-BIGINT `//` arithmetic as PageRankSql —
  // per round the authority sums, the 1-row Σ, the exact div-rescale,
  // then hubs symmetrically; final hubs ∪ authorities
  private def HitsSql(iters: Int): String = {
    val m = operators.Graph.TotalMass
    val steps = (1 to iters).map { i =>
      s"""ar$i AS (
         |  SELECT e.s, sum(h.h) AS ar
         |  FROM e0 e JOIN h${i - 1} h USING (c) GROUP BY e.s
         |), sa$i AS (SELECT sum(ar) AS sa FROM ar$i),
         |a$i AS (
         |  SELECT s, CAST(ar // greatest(sa // $m, 1) AS BIGINT) AS a
         |  FROM ar$i, sa$i
         |), hr$i AS (
         |  SELECT e.c, sum(a.a) AS hr
         |  FROM e0 e JOIN a$i a USING (s) GROUP BY e.c
         |), sh$i AS (SELECT sum(hr) AS sh FROM hr$i),
         |h$i AS (
         |  SELECT c, CAST(hr // greatest(sh // $m, 1) AS BIGINT) AS h
         |  FROM hr$i, sh$i
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), cs AS (SELECT DISTINCT c FROM e0),
       |ncc AS (SELECT count(*) AS nc FROM cs),
       |h0 AS (SELECT c, CAST($m // nc AS BIGINT) AS h FROM cs, ncc),
       |$steps
       |SELECT 'customer' AS node_type, c AS key, h AS score
       |FROM h$iters
       |UNION ALL
       |SELECT 'supplier' AS node_type, s AS key, a AS score
       |FROM a$iters""".stripMargin
  }

  // Personalized-PageRank twin: the PageRankSql scaffolding with the
  // teleport redirected to the in-plan hub source set (deg >= 3 ×
  // mean; is_src ∈ {0,1} multiplies both the seed and the per-round
  // teleport). All-BIGINT `//` arithmetic, bit-exact.
  private def PprSql(iters: Int): String = {
    val total = operators.Graph.TotalMass
    val tele = total * 15 / 100
    val steps = (1 to iters).map { i =>
      s"""s$i AS (
         |  SELECT e.dst AS node, sum(r.rank // r.deg) AS m
         |  FROM r${i - 1} r JOIN edges e ON r.node = e.src
         |  GROUP BY e.dst
         |), r$i AS (
         |  SELECT d.node, d.deg, d.is_src,
         |    CAST(d.is_src * coalesce($tele // nullif(ns.ns, 0), 0)
         |      + (85 * coalesce(s$i.m, 0)) // 100 AS BIGINT) AS rank
         |  FROM degs d CROSS JOIN ns LEFT JOIN s$i ON d.node = s$i.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), edges AS (
       |  SELECT c AS src, s AS dst FROM e0
       |  UNION ALL SELECT s, c FROM e0
       |), deg AS (
       |  SELECT src AS node, count(*) AS deg FROM edges GROUP BY src
       |), thr AS (
       |  SELECT 3 * ((SELECT count(*) FROM edges)
       |    // (SELECT count(*) FROM deg)) AS thr
       |), degs AS (
       |  SELECT node, deg,
       |    CASE WHEN deg >= thr.thr THEN 1 ELSE 0 END AS is_src
       |  FROM deg, thr
       |), ns AS (SELECT sum(is_src) AS ns FROM degs),
       |r0 AS (
       |  SELECT node, deg, is_src,
       |    CAST(is_src * coalesce($total // nullif(ns.ns, 0), 0)
       |      AS BIGINT) AS rank
       |  FROM degs, ns
       |),
       |$steps
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
       |            ELSE 'supplier' END AS node_type,
       |  node // 2 AS key, "rank"
       |FROM r$iters""".stripMargin
  }

  // Multi-source-BFS twin: `iters` rounds unrolled as full-set
  // (neighbor-min, merged-dist) CTE pairs over the same purchase-graph
  // scaffolding — the rows Graph.bfsHops' frontier rounds emit (a
  // node's hop count never improves after first reach). All BIGINT —
  // bit-exact.
  private def BfsHopsSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""s$i AS (
         |  SELECT e.dst AS node, min(d.dist) + 1 AS nd
         |  FROM d${i - 1} d JOIN edges e ON d.node = e.src
         |  GROUP BY e.dst
         |), d$i AS (
         |  SELECT coalesce(d.node, s.node) AS node,
         |    least(coalesce(d.dist, s.nd), coalesce(s.nd, d.dist))
         |      AS dist
         |  FROM d${i - 1} d FULL JOIN s$i s ON d.node = s.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), edges AS (
       |  SELECT c AS src, s AS dst FROM e0
       |  UNION ALL SELECT s, c FROM e0
       |), deg AS (
       |  SELECT src AS node, count(*) AS deg FROM edges GROUP BY src
       |), ne AS (SELECT count(*) AS ne FROM edges),
       |nn AS (SELECT count(*) AS nn FROM deg),
       |thr AS (SELECT 3 * (ne.ne // nn.nn) AS t FROM ne, nn),
       |d0 AS (
       |  SELECT node, CAST(0 AS BIGINT) AS dist FROM deg, thr
       |  WHERE deg >= thr.t
       |),
       |$steps
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
       |            ELSE 'supplier' END AS node_type,
       |  node // 2 AS key, CAST(dist AS BIGINT) AS dist
       |FROM d$iters""".stripMargin
  }

  // Weighted-PageRank twin: PageRankSql's round pairs with the
  // ppm-quantized weighted transition — (rank * ppm) // 1e6 replays
  // Spark's exact-integer share arithmetic bit for bit.
  private def PageRankWeightedSql(iters: Int): String = {
    val total = operators.Graph.TotalMass
    val tele = total * 15 / 100
    val steps = (1 to iters).map { i =>
      s"""s$i AS (
         |  SELECT sh.dst AS node,
         |    sum((r.rank * sh.ppm) // 1000000) AS m
         |  FROM r${i - 1} r JOIN sh ON r.node = sh.src
         |  GROUP BY sh.dst
         |), r$i AS (
         |  SELECT nd.node,
         |    CAST($tele // n.n + (85 * coalesce(s$i.m, 0)) // 100
         |      AS BIGINT) AS rank
         |  FROM nd CROSS JOIN n LEFT JOIN s$i ON nd.node = s$i.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
       |    CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
       |      AS BIGINT) AS w
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2
       |), edges AS (
       |  SELECT c AS src, s AS dst, w FROM e0
       |  UNION ALL SELECT s, c, w FROM e0
       |), sw AS (
       |  SELECT src, sum(w) AS sw FROM edges GROUP BY src
       |), sh AS (
       |  SELECT e.src, e.dst, (e.w * 1000000) // s.sw AS ppm
       |  FROM edges e JOIN sw s ON e.src = s.src
       |), nd AS (SELECT src AS node FROM sw),
       |n AS (SELECT count(*) AS n FROM nd),
       |r0 AS (
       |  SELECT node, $total // n.n AS rank FROM nd, n
       |),
       |$steps
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
       |            ELSE 'supplier' END AS node_type,
       |  node // 2 AS key, "rank"
       |FROM r$iters""".stripMargin
  }

  // TextRank twin: the PMI twin's bigram construction feeding
  // PageRankWeightedSql's unrolled ppm-share rounds — same integer
  // arithmetic, word-keyed instead of the encoded purchase nodes.
  private def TextRankSql(iters: Int, minCount: Long, k: Int): String = {
    val total = operators.Graph.TotalMass
    val tele = total * 15 / 100
    val ws = "[ \\t\\n\\f\\r]+"
    val steps = (1 to iters).map { i =>
      s"""s$i AS (
         |  SELECT sh.dst AS node,
         |    sum((r.rank * sh.ppm) // 1000000) AS m
         |  FROM r${i - 1} r JOIN sh ON r.node = sh.src
         |  GROUP BY sh.dst
         |), r$i AS (
         |  SELECT nd.node,
         |    CAST($tele // n.n + (85 * coalesce(s$i.m, 0)) // 100
         |      AS BIGINT) AS rank
         |  FROM nd CROSS JOIN n LEFT JOIN s$i ON nd.node = s$i.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH nrm AS (
       |  SELECT string_split(
       |    lower(trim(regexp_replace(text, '$ws', ' ', 'g'))), ' ') AS t
       |  FROM documents
       |), idx AS (
       |  SELECT t, unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i
       |  FROM nrm
       |), bg AS (
       |  SELECT t[i] AS a, t[i+1] AS b FROM idx WHERE t[i+1] IS NOT NULL
       |), und AS (
       |  SELECT least(a, b) AS u, greatest(a, b) AS v, count(*) AS w
       |  FROM bg WHERE a <> '' AND b <> '' AND a <> b
       |  GROUP BY 1, 2 HAVING count(*) >= $minCount
       |), edges AS (
       |  SELECT u AS src, v AS dst, w FROM und
       |  UNION ALL SELECT v, u, w FROM und
       |), sw AS (SELECT src, sum(w) AS sw FROM edges GROUP BY src),
       |sh AS (
       |  SELECT e.src, e.dst, (e.w * 1000000) // s.sw AS ppm
       |  FROM edges e JOIN sw s ON e.src = s.src
       |), nd AS (SELECT src AS node FROM sw),
       |n AS (SELECT count(*) AS n FROM nd),
       |r0 AS (SELECT node, $total // n.n AS rank FROM nd, n),
       |$steps
       |SELECT node AS word, "rank"
       |FROM r$iters ORDER BY "rank" DESC, word LIMIT $k""".stripMargin
  }

  // kNN-components twin: the sim_knn_graph twin's mutual-edge
  // construction (rank ≤ k) feeding ComponentsConvergedSql's unrolled
  // min-label rounds with the first-zero-change pick, vec_id-keyed.
  // The candidate-scoring front is pluggable (sign-bucket LSH chain /
  // the parameterized IVF chain), mirroring the Spark side's shared
  // componentsTail over either blocking.
  private def KnnComponentsSql(k: Int, cap: Int): String =
    knnComponentsSqlOver(
      s"""cb AS MATERIALIZED (
         |  SELECT vec_id, v, norm,
         |    (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN v[2] > 0 THEN 2 ELSE 0 END
         |     + CASE WHEN v[3] > 0 THEN 4 ELSE 0 END
         |     + CASE WHEN v[4] > 0 THEN 8 ELSE 0 END
         |     + CASE WHEN v[5] > 0 THEN 16 ELSE 0 END
         |     + CASE WHEN v[6] > 0 THEN 32 ELSE 0 END
         |     + CASE WHEN v[7] > 0 THEN 64 ELSE 0 END
         |     + CASE WHEN v[8] > 0 THEN 128 ELSE 0 END) AS bucket
         |  FROM normed WHERE norm > 0
         |), p AS (
         |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm,
         |    unnest([bucket, xor(bucket, 1), xor(bucket, 2),
         |            xor(bucket, 4), xor(bucket, 8), xor(bucket, 16),
         |            xor(bucket, 32), xor(bucket, 64), xor(bucket, 128)])
         |      AS bucket
         |  FROM cb
         |), s AS (
         |  SELECT query_id, c.vec_id,
         |    list_sum(list_transform(generate_series(1, len(qv)),
         |      i -> qv[i] * c.v[i])) / (qnorm * c.norm) AS cos
         |  FROM p JOIN cb c ON c.bucket = p.bucket
         |                  AND c.vec_id != p.query_id
         |)""".stripMargin, "s", k, cap)

  // IVF-routed components twin: the SAME unrolled min-label tail over
  // the parameterized IVF chain (ivfKnnCtes — every vector queries its
  // 16-of-128 probed lists, the round-11 frontier point), vec_id-keyed.
  private def KnnComponentsIvfSql(k: Int, cap: Int): String =
    knnComponentsSqlOver(ivfKnnCtes(128, 16, "TRUE"), "ivs", k, cap)

  // SemDeDup-over-IVF-clusters twin: the same IVF components chain,
  // then semanticDedupBest's pairwise duel INSIDE each component — a
  // member drops iff some same-component member at cosine >= 0.5
  // strictly beats it on (quality desc, id asc). Quality = document
  // length through the aligned doc_id, missing rows rank at 0 (the
  // operator's contract); vectors come from the front's `normed` CTE.
  private def SemanticDedupKnnSql(k: Int, cap: Int,
                                  threshold: Double): String =
    knnComponentsSqlOver(ivfKnnCtes(128, 16, "TRUE"), "ivs", k, cap,
      tail = s""", m AS MATERIALIZED (
        |  SELECT c.vec_id, c.component,
        |    coalesce(CAST(d.n_chars AS DOUBLE), 0.0) AS q,
        |    n.v, n.norm
        |  FROM comp c
        |  LEFT JOIN documents d ON d.doc_id = c.vec_id
        |  JOIN normed n ON n.vec_id = c.vec_id
        |), dr AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM m a JOIN m b ON a.component = b.component
        |  WHERE (a.q > b.q OR (a.q = b.q AND a.vec_id < b.vec_id))
        |    AND list_sum(list_transform(generate_series(1, len(a.v)),
        |      i -> a.v[i] * b.v[i])) / nullif(a.norm * b.norm, 0.0)
        |      >= $threshold
        |)
        |SELECT m.vec_id, m.component, (dr.vec_id IS NULL) AS keep
        |FROM m LEFT JOIN dr ON dr.vec_id = m.vec_id""".stripMargin)

  private def knnComponentsSqlOver(frontCtes: String, scored: String,
                                   k: Int, cap: Int,
                                   tail: String =
                                     "SELECT vec_id, component, rounds FROM comp")
  : String = {
    val steps = (1 to cap).map { i =>
      s"""n$i AS (
         |  SELECT e.dst AS node, min(l.lbl) AS nl
         |  FROM l${i - 1} l JOIN edges e ON l.node = e.src
         |  GROUP BY e.dst
         |), l$i AS MATERIALIZED (
         |  SELECT l.node, least(l.lbl, coalesce(n$i.nl, l.lbl)) AS lbl
         |  FROM l${i - 1} l LEFT JOIN n$i ON l.node = n$i.node
         |)""".stripMargin
    }.mkString(",\n")
    val chs = (1 to cap).map { i =>
      s"""SELECT $i AS k,
         |    (SELECT count(*) FROM l$i a JOIN l${i - 1} b
         |     ON a.node = b.node WHERE a.lbl != b.lbl) AS ch""".stripMargin
    }.mkString("\n  UNION ALL ")
    val picks = (1 to cap).map { i =>
      s"""SELECT node AS vec_id, lbl AS component,
         |  (SELECT re FROM re) AS rounds
         |FROM l$i WHERE (SELECT re FROM re) = $i""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH $vecCtes, $frontCtes, knn AS MATERIALIZED (
       |  SELECT query_id, vec_id AS neighbor_id
       |  FROM $scored
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, vec_id ASC) <= $k
       |), mu AS MATERIALIZED (
       |  SELECT a.query_id AS u, a.neighbor_id AS v
       |  FROM knn a JOIN knn b ON a.query_id = b.neighbor_id
       |                       AND a.neighbor_id = b.query_id
       |  WHERE a.query_id < a.neighbor_id
       |), edges AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM mu
       |  UNION ALL SELECT v, u FROM mu
       |), l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS lbl FROM edges
       |),
       |$steps,
       |dl AS MATERIALIZED (
       |  $chs
       |),
       |re AS MATERIALIZED (
       |  SELECT CAST(coalesce(min(k), $cap) AS BIGINT) AS re FROM dl
       |  WHERE ch = 0
       |),
       |comp AS MATERIALIZED (
       |$picks
       |)
       |$tail""".stripMargin
  }

  // Bounded Bellman-Ford twin: BfsHopsSql's relax-merge rounds with
  // min(dist + w) over cent-exact weighted edges (min price per
  // distinct partner pair, DECIMAL(18,2) ×100 → BIGINT in both
  // engines); hub sources reuse the same in-plan degree threshold.
  private def SsspSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""s$i AS (
         |  SELECT e.dst AS node, min(d.dist + e.w) AS nd
         |  FROM d${i - 1} d JOIN edges e ON d.node = e.src
         |  GROUP BY e.dst
         |), d$i AS (
         |  SELECT coalesce(d.node, s.node) AS node,
         |    least(coalesce(d.dist, s.nd), coalesce(s.nd, d.dist))
         |      AS dist
         |  FROM d${i - 1} d FULL JOIN s$i s ON d.node = s.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
       |    CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
       |      AS BIGINT) AS w
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2
       |), edges AS (
       |  SELECT c AS src, s AS dst, w FROM e0
       |  UNION ALL SELECT s, c, w FROM e0
       |), deg AS (
       |  SELECT src AS node, count(*) AS deg FROM edges GROUP BY src
       |), ne AS (SELECT count(*) AS ne FROM edges),
       |nn AS (SELECT count(*) AS nn FROM deg),
       |thr AS (SELECT 3 * (ne.ne // nn.nn) AS t FROM ne, nn),
       |d0 AS (
       |  SELECT node, CAST(0 AS BIGINT) AS dist FROM deg, thr
       |  WHERE deg >= thr.t
       |),
       |$steps
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
       |            ELSE 'supplier' END AS node_type,
       |  node // 2 AS key, CAST(dist AS BIGINT) AS cost
       |FROM d$rounds""".stripMargin
  }

  // Connected-components twin: k min-label steps unrolled as
  // (neighbor-min, label) CTE pairs — all BIGINT mins, bit-exact
  private def ComponentsSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""n$i AS (
         |  SELECT e.dst AS node, min(l.lbl) AS nl
         |  FROM l${i - 1} l JOIN edges e ON l.node = e.src
         |  GROUP BY e.dst
         |), l$i AS (
         |  SELECT l.node, least(l.lbl, coalesce(n$i.nl, l.lbl)) AS lbl
         |  FROM l${i - 1} l LEFT JOIN n$i ON l.node = n$i.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), edges AS (
       |  SELECT c AS src, s AS dst FROM e0
       |  UNION ALL SELECT s, c FROM e0
       |), l0 AS (
       |  SELECT DISTINCT src AS node, src AS lbl FROM edges
       |),
       |$steps
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
       |            ELSE 'supplier' END AS node_type,
       |  node // 2 AS key, lbl AS component
       |FROM l$iters""".stripMargin
  }

  // LPA twin chain: k unrolled mode-label steps — per-(node, label)
  // neighbor counts, argmax via row_number ordered (c DESC, lbl ASC) —
  // the same smallest-label tie pin as the Spark max(struct(c, -lbl))
  // trick. Shared by the community gate and the modularity gate.
  private def lpaChainSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""n$i AS (
         |  SELECT e.dst AS node, l.lbl, count(*) AS c
         |  FROM l${i - 1} l JOIN edges e ON l.node = e.src
         |  GROUP BY e.dst, l.lbl
         |), b$i AS (
         |  SELECT node, lbl AS nl FROM (
         |    SELECT node, lbl, row_number() OVER
         |      (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
         |    FROM n$i) q WHERE rn = 1
         |), l$i AS (
         |  SELECT l.node, coalesce(b$i.nl, l.lbl) AS lbl
         |  FROM l${i - 1} l LEFT JOIN b$i ON l.node = b$i.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), edges AS (
       |  SELECT c AS src, s AS dst FROM e0
       |  UNION ALL SELECT s, c FROM e0
       |), l0 AS (
       |  SELECT DISTINCT src AS node, src AS lbl FROM edges
       |),
       |$steps""".stripMargin
  }

  private def LabelPropSql(iters: Int): String =
    s"""WITH ${lpaChainSql(iters)}
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer'
       |            ELSE 'supplier' END AS node_type,
       |  node // 2 AS key, lbl AS community
       |FROM l$iters""".stripMargin

  // Modularity twin: the LPA chain's final labels, intra-community
  // directed edge counts, community degree sums, then ONE exact
  // integer numerator Σ(in_c·E − d_c²) divided by E² and rounded to
  // 6 dp — the literal Graph.modularity arithmetic.
  private def ModularitySql(iters: Int): String =
    s"""WITH ${lpaChainSql(iters)},
       |ee AS (SELECT count(*) AS e FROM edges),
       |el AS (
       |  SELECT ls.lbl AS sl, ld.lbl AS dl
       |  FROM edges g JOIN l$iters ls ON g.src = ls.node
       |    JOIN l$iters ld ON g.dst = ld.node
       |), inc AS (
       |  SELECT sl AS cls, count(*) AS in_c FROM el
       |  WHERE sl = dl GROUP BY sl
       |), dc AS (
       |  SELECT l.lbl AS cls, count(*) AS d_c
       |  FROM edges g JOIN l$iters l ON g.src = l.node
       |  GROUP BY l.lbl
       |), terms AS (
       |  SELECT d.cls,
       |    coalesce(i.in_c, 0) * ee.e - d.d_c * d.d_c AS t, ee.e AS e
       |  FROM dc d LEFT JOIN inc i ON d.cls = i.cls, ee
       |)
       |SELECT count(*) AS n_communities, max(e) AS m_directed,
       |  floor(CAST(sum(t) AS DOUBLE) /
       |    (CAST(max(e) AS DOUBLE) * max(e)) * 1000000 + 0.5) / 1000000
       |    AS q_modularity
       |FROM terms""".stripMargin

  // Run-to-convergence components twin: `cap` unrolled min-label
  // steps (MATERIALIZED — the change-count and pick subqueries
  // re-reference every round), per-round changed-label counts,
  // rounds_executed = first zero-change round (else the cap), labels
  // picked from exactly that round — the literal
  // Graph.connectedComponentsConverged semantics.
  private def ComponentsConvergedSql(cap: Int): String = {
    val steps = (1 to cap).map { i =>
      s"""n$i AS (
         |  SELECT e.dst AS node, min(l.lbl) AS nl
         |  FROM l${i - 1} l JOIN edges e ON l.node = e.src
         |  GROUP BY e.dst
         |), l$i AS MATERIALIZED (
         |  SELECT l.node, least(l.lbl, coalesce(n$i.nl, l.lbl)) AS lbl
         |  FROM l${i - 1} l LEFT JOIN n$i ON l.node = n$i.node
         |)""".stripMargin
    }.mkString(",\n")
    val chs = (1 to cap).map { i =>
      s"""SELECT $i AS k,
         |    (SELECT count(*) FROM l$i a JOIN l${i - 1} b
         |     ON a.node = b.node WHERE a.lbl != b.lbl) AS ch""".stripMargin
    }.mkString("\n  UNION ALL ")
    val picks = (1 to cap).map { i =>
      s"""SELECT CASE WHEN node % 2 = 0 THEN 'customer'
         |            ELSE 'supplier' END AS node_type,
         |  node // 2 AS key, lbl AS component,
         |  (SELECT re FROM re) AS rounds
         |FROM l$i WHERE (SELECT re FROM re) = $i""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), edges AS MATERIALIZED (
       |  SELECT c AS src, s AS dst FROM e0
       |  UNION ALL SELECT s, c FROM e0
       |), l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS lbl FROM edges
       |),
       |$steps,
       |dl AS MATERIALIZED (
       |  $chs
       |),
       |re AS MATERIALIZED (
       |  SELECT CAST(coalesce(min(k), $cap) AS BIGINT) AS re FROM dl
       |  WHERE ch = 0
       |)
       |$picks""".stripMargin
  }

  // Run-to-convergence k-core twin: `cap` unrolled peel rounds with
  // per-round keep-set counts; rounds_executed = the first round whose
  // count equals its predecessor's (the monotone-shrink fixpoint
  // rule), degrees emitted from that round's edge set.
  private def KCoreConvergedSql(cap: Int): String = {
    val steps = (1 to cap).map { i =>
      s"""d$i AS (
         |  SELECT n, count(*) AS d FROM (
         |    SELECT a AS n FROM e${i - 1} UNION ALL
         |    SELECT b FROM e${i - 1}) GROUP BY n
         |), k$i AS MATERIALIZED (
         |  SELECT n FROM d$i, kk WHERE d >= k
         |), e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN k$i x ON e.a = x.n JOIN k$i y ON e.b = y.n
         |)""".stripMargin
    }.mkString(",\n")
    val cnts = (0 to cap).map { i =>
      val src = if (i == 0)
        s"(SELECT count(DISTINCT n) FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0))"
      else s"(SELECT count(*) FROM k$i)"
      s"SELECT $i AS k, $src AS c"
    }.mkString("\n  UNION ALL ")
    val picks = (1 to cap).map { i =>
      s"""SELECT CASE WHEN node % 2 = 0 THEN 'customer'
         |            ELSE 'supplier' END AS node_type,
         |  node // 2 AS key, degree, (SELECT re FROM re) AS rounds
         |FROM (
         |  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
         |    SELECT a AS node FROM e$i UNION ALL SELECT b FROM e$i)
         |  GROUP BY node)
         |WHERE (SELECT re FROM re) = $i""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |), kk AS MATERIALIZED (
       |  SELECT (SELECT count(*) FROM e0) //
       |    (SELECT count(DISTINCT n) FROM (
       |       SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0)) AS k
       |),
       |$steps,
       |cnts AS MATERIALIZED (
       |  $cnts
       |),
       |re AS MATERIALIZED (
       |  SELECT CAST(coalesce(min(a.k), $cap) AS BIGINT) AS re
       |  FROM cnts a JOIN cnts b ON b.k = a.k - 1
       |  WHERE a.c = b.c AND a.k >= 1
       |)
       |$picks""".stripMargin
  }

  // Entity-resolution twin generator: the fuzzy-join vocab/variant CTEs
  // (SymSpell deletion neighborhood + levenshtein verify, mirroring
  // Dedup.editDistancePairs), symmetrized edges, `iters` unrolled
  // min-label steps over lexicographic string labels, golden-record
  // rollup joined back to the vocab counts. Singletons keep their own
  // key as entity_id (LEFT JOIN + coalesce in each step's base).
  private def EntityResSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""n$i AS (
         |  SELECT e.dst AS node, min(l.lbl) AS nl
         |  FROM l${i - 1} l JOIN edges e ON l.node = e.src
         |  GROUP BY e.dst
         |), l$i AS (
         |  SELECT l.node, least(l.lbl, coalesce(n$i.nl, l.lbl)) AS lbl
         |  FROM l${i - 1} l LEFT JOIN n$i ON l.node = n$i.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH vocab AS (
       |  SELECT lower(trim(c_name)) AS key, count(*) AS cnt
       |  FROM customer WHERE length(lower(trim(c_name))) > 0
       |  GROUP BY 1
       |), vars AS (
       |  SELECT key,
       |    CASE WHEN i = 0 THEN key
       |         ELSE substr(key, 1, CAST(i - 1 AS INTEGER))
       |           || substr(key, CAST(i + 1 AS INTEGER)) END AS variant
       |  FROM vocab, unnest(range(0, length(key) + 1)) AS t(i)
       |), pairs AS (
       |  SELECT DISTINCT a.key AS key_a, b.key AS key_b
       |  FROM vars a JOIN vars b USING (variant)
       |  WHERE a.key < b.key AND levenshtein(a.key, b.key) <= 1
       |), edges AS (
       |  SELECT key_a AS src, key_b AS dst FROM pairs
       |  UNION ALL SELECT key_b, key_a FROM pairs
       |), l0 AS (
       |  SELECT key AS node, key AS lbl FROM vocab
       |),
       |$steps
       |SELECT l.lbl AS entity_id, CAST(count(*) AS BIGINT) AS n_names,
       |  CAST(sum(v.cnt) AS BIGINT) AS n_records
       |FROM l$iters l JOIN vocab v ON l.node = v.key
       |GROUP BY 1""".stripMargin
  }

  /** Zero-filled per-type epoch-day spine shared by the forecast
    * twins (Relational.dailySpine's replay). */
  private val forecastSpineCtes: String =
    """daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), range AS (
      |  SELECT min(day) AS d0, max(day) AS d1 FROM daily
      |), types AS (SELECT DISTINCT event_type FROM daily),
      |spine0 AS (
      |  SELECT t.event_type, u.day
      |  FROM types t, range r,
      |    unnest(generate_series(r.d0, r.d1)) AS u(day)
      |), spine AS (
      |  SELECT s.event_type, s.day, coalesce(d.n, 0) AS n
      |  FROM spine0 s LEFT JOIN daily d
      |    ON d.event_type = s.event_type AND d.day = s.day
      |), bounds AS (SELECT d0, d1 FROM range)
      |""".stripMargin

  /** Weekly-seasonal-mean twin shared by rel_forecast_seasonal and
    * its streaming maintainer (mergeable counters + pure derivation
    * make the maintained forecast ≡ the one-shot batch). */
  private lazy val seasonalMeanSql: String =
    s"""WITH $forecastSpineCtes, rk AS (
       |  SELECT event_type, day % 7 AS wd, n,
       |    row_number() OVER (PARTITION BY event_type, day % 7
       |      ORDER BY day DESC) AS rn
       |  FROM spine
       |), hist AS (
       |  SELECT event_type, wd, CAST(count(*) AS BIGINT) AS n_hist,
       |    floor(CAST(sum(n) AS DOUBLE) / count(*) * 100 + 0.5) / 100
       |      AS yhat
       |  FROM rk WHERE rn <= 4 GROUP BY 1, 2
       |), fdays AS (
       |  SELECT t.event_type, u.day
       |  FROM types t, bounds b,
       |    unnest(generate_series(b.d1 + 1, b.d1 + 7)) AS u(day)
       |)
       |SELECT f.event_type, f.day, h.n_hist, h.yhat
       |FROM fdays f JOIN hist h
       |  ON h.event_type = f.event_type AND h.wd = f.day % 7"""
      .stripMargin

  private val tokenCtes: String =
    """toks AS (
      |  SELECT doc_id, len(string_split(trim(text), ' ')) AS raw_len,
      |         unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), tokens AS (
      |  SELECT doc_id, raw_len, word FROM (
      |    SELECT doc_id, raw_len,
      |           lower(regexp_replace(tok, '[^a-zA-Z]', '', 'g')) AS word
      |    FROM toks)
      |  WHERE length(word) > 0
      |)""".stripMargin

  /** Linear-classifier training replay (Classify.lrTrain/lrScore/
    * lrEval): features = bias + length-normalized hash-embed buckets
    * on the 1e-12 decimal grid, then `steps` unrolled GD step CTEs —
    * m{t} (doc-keyed decimal-summed margin), e{t} (fast-sigmoid error
    * — rational, so IEEE-bit-exact cross-engine), g{t} (feature-keyed
    * decimal-summed gradient / N), w{t} (re-quantized update; a
    * never-hit bucket keeps its weight via the LEFT JOIN coalesce). */
  private lazy val textLrScoreSql: String =
      s"""WITH ${lrSqlCtes(LrSteps)}, mf AS (
         |  SELECT f.doc_id,
         |    CAST(sum(CAST(floor(f.x * w.w * 1000000000000 + 0.5)
         |      / 1000000000000 AS DECIMAL(20,12))) AS DOUBLE) AS m
         |  FROM f JOIN w$LrSteps w USING (j) GROUP BY f.doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS BIGINT)
         |    AS y,
         |  floor((0.5 * (1 + m.m / (1 + abs(m.m)))) * 1000000 + 0.5)
         |    / 1000000 AS p,
         |  0.5 * (1 + m.m / (1 + abs(m.m))) >= 0.5 AS pred
         |FROM documents d JOIN mf m USING (doc_id)""".stripMargin

  /** LR hyperparameters — ONE definition feeding both the Spark gates
    * and the generated twin SQL, so the two sides cannot drift. */
  private[graft] val LrSteps = 3
  private[graft] val LrRate = 1.0
  private[graft] val LrClasses = 4

  /** Multiclass one-vs-rest training replay (Classify.lrMulticlass):
    * UNSIGNED length-normalized bucket-count features, the dominant-
    * bucket-class synthetic teacher label, then `steps` unrolled GD
    * step CTEs with the class axis in every key — the binary
    * [[lrSqlCtes]] machinery with one more GROUP BY column. */
  private def lrMcSqlCtes(steps: Int, classes: Int): String = {
    val base =
      s"""$tokenCtes, cntm AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(word), 29, 4))::BIGINT % 64
         |      AS INTEGER) AS j,
         |    count(*) AS cnt
         |  FROM tokens GROUP BY 1, 2
         |), dlm AS (
         |  SELECT doc_id, sum(cnt) AS dl FROM cntm GROUP BY doc_id
         |), fm AS (
         |  SELECT doc_id, -1 AS j, CAST(1.0 AS DOUBLE) AS x
         |  FROM documents
         |  UNION ALL
         |  SELECT c.doc_id, c.j,
         |    floor(c.cnt / sqrt(d.dl) * 1000000000000 + 0.5)
         |      / 1000000000000 AS x
         |  FROM cntm c JOIN dlm d USING (doc_id)
         |), lblr AS (
         |  SELECT doc_id, c,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY n DESC, c ASC) AS rn
         |  FROM (SELECT doc_id, j % $classes AS c, sum(cnt) AS n
         |        FROM cntm GROUP BY 1, 2)
         |), lbl AS (
         |  SELECT d.doc_id, CAST(coalesce(l.c, 0) AS BIGINT) AS y
         |  FROM documents d LEFT JOIN
         |    (SELECT doc_id, c FROM lblr WHERE rn = 1) l USING (doc_id)
         |), nnm AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
         |), v0 AS (
         |  SELECT cc.c, jj.j, CAST(0.0 AS DOUBLE) AS w
         |  FROM (SELECT unnest(generate_series(0, ${classes - 1})) AS c)
         |    cc,
         |    (SELECT unnest(generate_series(-1, 63)) AS j) jj
         |)""".stripMargin
    val stepCtes = (1 to steps).map { t =>
      s"""vm$t AS (
         |  SELECT f.doc_id, w.c,
         |    CAST(sum(CAST(floor(f.x * w.w * 1000000000000 + 0.5)
         |      / 1000000000000 AS DECIMAL(20,12))) AS DOUBLE) AS m
         |  FROM fm f JOIN v${t - 1} w USING (j) GROUP BY 1, 2
         |), ve$t AS (
         |  SELECT m.doc_id, m.c,
         |    0.5 * (1 + m.m / (1 + abs(m.m)))
         |      - CASE WHEN l.y = m.c THEN 1.0 ELSE 0.0 END AS e
         |  FROM vm$t m JOIN lbl l USING (doc_id)
         |), vg$t AS (
         |  SELECT e.c, f.j,
         |    CAST(sum(CAST(floor(f.x * e.e * 1000000000000 + 0.5)
         |      / 1000000000000 AS DECIMAL(20,12))) AS DOUBLE)
         |      / (SELECT n FROM nnm) AS g
         |  FROM fm f JOIN ve$t e USING (doc_id) GROUP BY 1, 2
         |), v$t AS (
         |  SELECT w.c, w.j,
         |    floor((w.w - $LrRate * coalesce(g.g, 0.0))
         |      * 1000000000000 + 0.5) / 1000000000000 AS w
         |  FROM v${t - 1} w LEFT JOIN vg$t g
         |    ON g.c = w.c AND g.j = w.j
         |)""".stripMargin
    }
    (base +: stepCtes).mkString(", ")
  }

  private def lrSqlCtes(steps: Int): String = {
    val base =
      s"""$tokenCtes, dl AS (
         |  SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id
         |), hx AS (
         |  SELECT doc_id, md5(word) AS h FROM tokens
         |), bkt AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(h, 29, 4))::BIGINT % 64 AS INTEGER) AS j,
         |    CASE WHEN ('0x' || substr(h, 1, 1))::BIGINT % 2 = 1
         |         THEN 1 ELSE -1 END AS sgn
         |  FROM hx
         |), emb AS (
         |  SELECT doc_id, j, CAST(sum(sgn) AS BIGINT) AS w
         |  FROM bkt GROUP BY doc_id, j
         |), f AS (
         |  SELECT doc_id, -1 AS j, CAST(1.0 AS DOUBLE) AS x
         |  FROM documents
         |  UNION ALL
         |  SELECT e.doc_id, e.j,
         |    floor(e.w / sqrt(dl.dl) * 1000000000000 + 0.5)
         |      / 1000000000000 AS x
         |  FROM emb e JOIN dl USING (doc_id)
         |), yy AS (
         |  SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents
         |), nn AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
         |), w0 AS (
         |  SELECT unnest(generate_series(-1, 63)) AS j,
         |    CAST(0.0 AS DOUBLE) AS w
         |)""".stripMargin
    val stepCtes = (1 to steps).map { t =>
      s"""m$t AS (
         |  SELECT f.doc_id,
         |    CAST(sum(CAST(floor(f.x * w.w * 1000000000000 + 0.5)
         |      / 1000000000000 AS DECIMAL(20,12))) AS DOUBLE) AS m
         |  FROM f JOIN w${t - 1} w USING (j) GROUP BY f.doc_id
         |), e$t AS (
         |  SELECT yy.doc_id,
         |    0.5 * (1 + m.m / (1 + abs(m.m))) - yy.y AS e
         |  FROM yy JOIN m$t m USING (doc_id)
         |), g$t AS (
         |  SELECT f.j,
         |    CAST(sum(CAST(floor(f.x * e.e * 1000000000000 + 0.5)
         |      / 1000000000000 AS DECIMAL(20,12))) AS DOUBLE)
         |      / (SELECT n FROM nn) AS g
         |  FROM f JOIN e$t e USING (doc_id) GROUP BY f.j
         |), w$t AS (
         |  SELECT w.j,
         |    floor((w.w - $LrRate * coalesce(g.g, 0.0))
         |      * 1000000000000 + 0.5) / 1000000000000 AS w
         |  FROM w${t - 1} w LEFT JOIN g$t g USING (j)
         |)""".stripMargin
    }
    (base +: stepCtes).mkString(", ")
  }

  // BM25 twin (probe terms, k=10) — shared by text_bm25 (in-plan) and
  // text_bm25_from_index (served from the persisted postings/wordstats/
  // stats artifact, which must be the identity on the ranking).
  /** Hybrid-RRF twin shared by text_hybrid_rrf and
    * text_hybrid_rrf_from_index (the textBm25Sql precedent: the
    * persisted artifact must be the identity on the ranking). */
  private lazy val textHybridRrfSql: String = {
      val terms = TestProbeWords.map(w => s"'$w'").mkString(", ")
      s"""WITH $tokenCtes, dl AS (
         |  SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id
         |), stats AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(dl) AS BIGINT) / CAST(count(*) AS BIGINT) AS avgdl
         |  FROM dl
         |), q AS (
         |  SELECT doc_id, word, count(*) AS cnt FROM tokens
         |  WHERE word IN ($terms) GROUP BY doc_id, word
         |), dfq AS (
         |  SELECT word, count(*) AS dfreq FROM q GROUP BY word
         |), idf AS (
         |  SELECT word,
         |    floor(ln((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
         |      * 100 + 0.5) / 100 AS idf
         |  FROM dfq, stats
         |), contribs AS (
         |  SELECT q.doc_id,
         |    (floor(q.cnt * ${Search.K1 + 1} /
         |       (q.cnt + ${Search.K1} *
         |         (1.0 - ${Search.B} + ${Search.B} * dl.dl / stats.avgdl))
         |       * 100 + 0.5) / 100) * idf.idf AS contrib
         |  FROM q
         |  JOIN dl ON q.doc_id = dl.doc_id
         |  CROSS JOIN stats
         |  JOIN idf ON q.word = idf.word
         |), bms AS (
         |  SELECT doc_id,
         |    floor(CAST(sum(CAST(contrib AS DECIMAL(20,8))) AS DOUBLE)
         |      * 100 + 0.5) / 100 AS score
         |  FROM contribs GROUP BY doc_id
         |  ORDER BY score DESC, doc_id ASC LIMIT 20
         |), bmr AS (
         |  SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS bm_rank
         |  FROM bms
         |), qtok AS (
         |  SELECT CAST(-1 AS BIGINT) AS doc_id,
         |    unnest([$terms]) AS word
         |), alltok AS (
         |  SELECT doc_id, word FROM tokens
         |  UNION ALL SELECT doc_id, word FROM qtok
         |), hx AS (
         |  SELECT doc_id, md5(word) AS h FROM alltok
         |), bkt AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(h, 29, 4))::BIGINT % 64 AS INTEGER) AS j,
         |    CASE WHEN ('0x' || substr(h, 1, 1))::BIGINT % 2 = 1
         |         THEN 1 ELSE -1 END AS sgn
         |  FROM hx
         |), emb AS (
         |  SELECT doc_id, j, CAST(sum(sgn) AS BIGINT) AS w
         |  FROM bkt GROUP BY doc_id, j
         |), nsq AS (
         |  SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS nsq
         |  FROM emb GROUP BY doc_id
         |), dd AS (
         |  SELECT bb.doc_id AS nk, CAST(sum(a.w * bb.w) AS BIGINT) AS dot
         |  FROM emb a JOIN emb bb ON a.j = bb.j AND bb.doc_id != -1
         |  WHERE a.doc_id = -1
         |  GROUP BY bb.doc_id
         |), sden AS (
         |  SELECT nk, CAST(dot AS DOUBLE) /
         |    nullif(sqrt(CAST(x.nsq AS DOUBLE)) *
         |      sqrt(CAST(y.nsq AS DOUBLE)), 0) AS cos
         |  FROM dd
         |  JOIN nsq x ON x.doc_id = -1
         |  JOIN nsq y ON nk = y.doc_id
         |), dr AS (
         |  SELECT nk AS doc_id, CAST(row_number() OVER (
         |    ORDER BY cos DESC, nk ASC) AS BIGINT) AS dense_rank
         |  FROM sden WHERE cos IS NOT NULL
         |  QUALIFY dense_rank <= 20
         |)
         |SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
         |  b.bm_rank, d.dense_rank,
         |  floor((coalesce(1.0 / (60 + b.bm_rank), 0) +
         |         coalesce(1.0 / (60 + d.dense_rank), 0)) * 1000000
         |    + 0.5) / 1000000 AS rrf_score
         |FROM bmr b FULL OUTER JOIN dr d ON b.doc_id = d.doc_id
         |ORDER BY rrf_score DESC, doc_id ASC LIMIT 10""".stripMargin
    }

  private lazy val textBm25Sql: String = {
    val terms = TestProbeWords.map(w => s"'$w'").mkString(", ")
    s"""WITH $tokenCtes, dl AS (
       |  SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id
       |), stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(dl) AS BIGINT) / CAST(count(*) AS BIGINT) AS avgdl
       |  FROM dl
       |), q AS (
       |  SELECT doc_id, word, count(*) AS cnt FROM tokens
       |  WHERE word IN ($terms) GROUP BY doc_id, word
       |), dfq AS (
       |  SELECT word, count(*) AS dfreq FROM q GROUP BY word
       |), idf AS (
       |  SELECT word,
       |    floor(ln((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
       |      * 100 + 0.5) / 100 AS idf
       |  FROM dfq, stats
       |), contribs AS (
       |  SELECT q.doc_id,
       |    (floor(q.cnt * ${Search.K1 + 1} /
       |       (q.cnt + ${Search.K1} *
       |         (1.0 - ${Search.B} + ${Search.B} * dl.dl / stats.avgdl))
       |       * 100 + 0.5) / 100) * idf.idf AS contrib
       |  FROM q
       |  JOIN dl ON q.doc_id = dl.doc_id
       |  CROSS JOIN stats
       |  JOIN idf ON q.word = idf.word
       |)
       |SELECT doc_id,
       |  floor(CAST(sum(CAST(contrib AS DECIMAL(20,8))) AS DOUBLE)
       |    * 100 + 0.5) / 100 AS score
       |FROM contribs GROUP BY doc_id
       |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin
  }

  // Naive-Bayes prediction chain (train + score + argmax), shared by
  // the classify gate and the per-class evaluation gate.
  private lazy val nbPredCtes: String =
    s"""$tokenCtes, twl AS (
       |  SELECT t.doc_id, t.word, d.lang
       |  FROM tokens t JOIN documents d USING (doc_id)
       |), docw AS (
       |  SELECT doc_id, word, count(*) AS cnt
       |  FROM tokens GROUP BY 1, 2
       |), cwt AS (
       |  SELECT lang, word, count(*) AS cw FROM twl GROUP BY 1, 2
       |), ctot AS (
       |  SELECT lang, count(*) AS tot FROM twl GROUP BY 1
       |), pri AS (
       |  SELECT lang, count(*) AS nc FROM documents GROUP BY 1
       |), nn AS (SELECT count(*) AS n FROM documents),
       |vv AS (SELECT count(DISTINCT word) AS v FROM tokens),
       |cls AS (
       |  SELECT p.lang, c.tot,
       |    floor(ln(p.nc / nn.n) * 100 + 0.5) / 100 AS prior_ll
       |  FROM pri p JOIN ctot c USING (lang) CROSS JOIN nn
       |), sc0 AS (
       |  SELECT dw.doc_id, cls.lang, cls.prior_ll,
       |    dw.cnt * (floor(ln((coalesce(w.cw, 0) + 1) /
       |      (cls.tot + vv.v)) * 100 + 0.5) / 100) AS contrib
       |  FROM docw dw CROSS JOIN cls CROSS JOIN vv
       |  LEFT JOIN cwt w ON w.lang = cls.lang AND w.word = dw.word
       |), sc AS (
       |  SELECT doc_id, lang,
       |    floor((CAST(sum(CAST(contrib AS DECIMAL(20,8))) AS DOUBLE)
       |      + prior_ll) * 100 + 0.5) / 100 AS score
       |  FROM sc0 GROUP BY doc_id, lang, prior_ll
       |), pred AS (
       |  SELECT doc_id, lang AS pred_lang, score FROM sc
       |  QUALIFY row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, lang ASC) = 1
       |)""".stripMargin

  private val tfCtes: String = tokenCtes +
    """, cnts AS (
      |  SELECT doc_id, word, count(*) AS cnt, max(raw_len) AS raw_len
      |  FROM tokens GROUP BY doc_id, word
      |), tf AS (
      |  SELECT doc_id, word, cnt, tf FROM (
      |    SELECT doc_id, word, cnt,
      |           floor(cnt / raw_len * 100 + 0.5) / 100 AS tf
      |    FROM cnts)
      |  WHERE tf > 0
      |  QUALIFY row_number()
      |    OVER (PARTITION BY doc_id ORDER BY cnt DESC, word ASC) <= 20000
      |)""".stripMargin

  private val idfCtes: String = tfCtes +
    """, dfreq AS (
      |  SELECT word, count(*) AS dfreq FROM tf GROUP BY word
      |), ndocs AS (
      |  SELECT count(*) AS n FROM documents
      |), idf AS (
      |  SELECT word, idf FROM (
      |    SELECT word, floor(log10(n / dfreq) * 100 + 0.5) / 100 AS idf
      |    FROM dfreq, ndocs)
      |  WHERE idf > 0
      |)""".stripMargin

  // Q6's full twin — shared by q6_tfidf and io_csv_roundtrip (the CSV
  // compat round-trip is the identity on Q6's rows, so one oracle gates
  // both the pipeline and the write→read surface).
  private val q6Sql: String =
    s"""WITH $idfCtes
       |SELECT t.doc_id, t.word, t.cnt, t.tf,
       |       floor(t.tf * i.idf * 100 + 0.5) / 100 AS tf_idf
       |FROM tf t JOIN idf i USING (word)""".stripMargin

  private val dictCtes: String = tokenCtes +
    """, wcnts AS (
      |  SELECT word, count(*) AS cnt FROM tokens GROUP BY word
      |), dict AS (
      |  SELECT word,
      |         CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) - 1
      |              AS BIGINT) AS "rank",
      |         cnt
      |  FROM (SELECT word, cnt FROM wcnts
      |        ORDER BY cnt DESC, word ASC LIMIT 5000)
      |)""".stripMargin

  // Raw-dump fixture parse twin (S1/P1/P2): re-reads the committed
  // wikiextractor file and replays the reference's §1.3 quirks —
  // body = segment between the FIRST and SECOND '>' (so a literal '>'
  // truncates, and the trailing `</doc` survives tag-stripping to fuse
  // the last token, e.g. "include</doc" → "includedoc"), doc_id = the
  // substring between `<doc id="` and `" url="`. Named `documents` so
  // the shared token/tf/idf CTE chains run unchanged over the parsed
  // fixture instead of the parquet table (CTEs shadow tables).
  private val wikiDocCtes: String =
    s"""wlines AS (
       |  SELECT unnest(string_split(content, chr(10))) AS value
       |  FROM read_text('$WikiFixturePath')
       |), documents AS (
       |  SELECT regexp_extract(value, '<doc id="([^"]+)" url="', 1)
       |           AS doc_id,
       |         trim(regexp_replace(string_split(value, '>')[2],
       |           '<[^>]+>', '', 'g')) AS text
       |  FROM wlines WHERE length(trim(value)) > 0
       |)""".stripMargin

  /** Merge-round count for text_bpe_train — shared by the Spark gate
    * and the unrolled twin. */
  val BpeTrainRounds = 6

  // BPE-training twin: the distinct-word frequency dictionary rendered
  // as space-joined symbol strings, then `rounds` unrolled
  // (pair-count → argmax pair → list_reduce merge fold) CTE triples —
  // the literal TextStats.bpeTrain semantics, ties pinned (cnt desc,
  // a, b), leftmost-non-overlapping fold with the ''-prepended list.
  // The shared WITH-body: word-frequency dictionary → v0 symbol
  // rendering → `rounds` (pair-count, argmax, merge-fold) CTE triples.
  // v$i carries (w, wf, repr) so the encode twin can join documents'
  // words to their trained symbol sequences. v$i LEFT JOINs its argmax
  // pair t$i (one row or empty): a dried-out vocabulary (t$i empty)
  // keeps repr unchanged instead of collapsing v$i to zero rows —
  // mirroring bpeTrainLoop's early stop, which encodes with the last
  // non-empty vocabulary.
  private def bpeChainSql(rounds: Int, where: String = ""): String = {
    val steps = (1 to rounds).map { i =>
      s"""s$i AS (
         |  SELECT wf, string_split(repr, ' ') AS t FROM v${i - 1}
         |), q$i AS (
         |  SELECT wf, t, unnest(generate_series(1, len(t) - 1)) AS i
         |  FROM s$i
         |), t$i AS (
         |  SELECT t[CAST(i AS INTEGER)] AS a,
         |    t[CAST(i AS INTEGER) + 1] AS b,
         |    CAST(sum(wf) AS BIGINT) AS cnt
         |  FROM q$i GROUP BY 1, 2
         |  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
         |), v$i AS (
         |  SELECT w, wf,
         |    CASE WHEN t$i.a IS NULL THEN repr
         |    ELSE list_reduce(list_prepend('', string_split(repr, ' ')),
         |      (acc, x) -> CASE WHEN acc = '' THEN x
         |        WHEN x = t$i.b AND (acc = t$i.a
         |          OR ends_with(acc, ' ' || t$i.a))
         |        THEN substr(acc, 1, length(acc) - length(t$i.a)) ||
         |          t$i.a || t$i.b
         |        ELSE acc || ' ' || x END) END AS repr
         |  FROM v${i - 1} LEFT JOIN t$i ON TRUE
         |)""".stripMargin
    }.mkString(",\n")
    s"""nrm AS (
       |  SELECT string_split(
       |    lower(trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g'))),
       |    ' ') AS t
       |  FROM documents $where
       |), tk AS (
       |  SELECT unnest(t) AS w FROM nrm
       |), wf AS (
       |  SELECT w, count(*) AS wf FROM tk WHERE w != '' GROUP BY w
       |), v0 AS (
       |  SELECT w, wf, array_to_string(string_split(w, ''), ' ') AS repr
       |  FROM wf
       |),
       |$steps""".stripMargin
  }

  private def bpeTrainSql(rounds: Int): String = {
    val rows = (1 to rounds).map(i =>
      s"SELECT CAST($i AS BIGINT) AS round, a, b, cnt FROM t$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeChainSql(rounds)}
       |$rows""".stripMargin
  }

  // Encode twin: per-document normalized words joined to the trained
  // vocabulary's final symbol sequences — n_bpe_tokens is the summed
  // post-merge symbol count.
  private def bpeEncodeSql(rounds: Int): String =
    s"""WITH ${bpeChainSql(rounds)},
       |dwords AS (
       |  SELECT doc_id, unnest(list_filter(string_split(
       |    lower(trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g'))),
       |    ' '), t -> t != '')) AS w
       |  FROM documents
       |)
       |SELECT d.doc_id, count(*) AS n_words,
       |  CAST(sum(len(string_split(v.repr, ' '))) AS BIGINT)
       |    AS n_bpe_tokens
       |FROM dwords d JOIN v$rounds v USING (w)
       |GROUP BY d.doc_id""".stripMargin

  // OOV-apply twin: train the merge chain on the TRAIN subset
  // (doc_id % 7 != 0), then replay the stored merges per
  // encode-subset word as `rounds` fold CTEs (w0..w$rounds) — the
  // literal TextStats.bpeEncodeOov semantics: char-split every word,
  // apply each round's argmax pair leftmost-first, count final
  // symbols. The LEFT JOIN ON TRUE keeps repr unchanged on a
  // dried-out round, mirroring the trainer's early stop.
  // Fertility twin: the trained vocabulary's per-word symbol counts
  // joined back to the corpus words WITH their language, rolled up per
  // language; ratios are round2 of one BIGINT/BIGINT division in the
  // same order as the Spark expression.
  private def bpeFertilitySql(rounds: Int): String =
    s"""WITH ${bpeChainSql(rounds)},
       |dwords AS (
       |  SELECT lang, unnest(list_filter(string_split(
       |    lower(trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g'))),
       |    ' '), t -> t != '')) AS w
       |  FROM documents
       |), agg AS (
       |  SELECT lang, count(*) AS n_words,
       |    CAST(sum(len(string_split(v.repr, ' '))) AS BIGINT)
       |      AS n_bpe_tokens,
       |    CAST(sum(length(d.w)) AS BIGINT) AS n_chars
       |  FROM dwords d JOIN v$rounds v USING (w)
       |  GROUP BY lang
       |)
       |SELECT lang, n_words, n_bpe_tokens, n_chars,
       |  floor(n_bpe_tokens / n_words * 100 + 0.5) / 100 AS fertility,
       |  floor(n_chars / n_bpe_tokens * 100 + 0.5) / 100 AS chars_per_token
       |FROM agg""".stripMargin

  private def bpeEncodeOovSql(rounds: Int): String = {
    val folds = (1 to rounds).map { i =>
      s"""w$i AS (
         |  SELECT doc_id,
         |    CASE WHEN t$i.a IS NULL THEN repr
         |    ELSE list_reduce(list_prepend('', string_split(repr, ' ')),
         |      (acc, x) -> CASE WHEN acc = '' THEN x
         |        WHEN x = t$i.b AND (acc = t$i.a
         |          OR ends_with(acc, ' ' || t$i.a))
         |        THEN substr(acc, 1, length(acc) - length(t$i.a)) ||
         |          t$i.a || t$i.b
         |        ELSE acc || ' ' || x END) END AS repr
         |  FROM w${i - 1} LEFT JOIN t$i ON TRUE
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeChainSql(rounds, "WHERE doc_id % 7 != 0")},
       |dwords AS (
       |  SELECT doc_id, unnest(list_filter(string_split(
       |    lower(trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g'))),
       |    ' '), t -> t != '')) AS w
       |  FROM documents WHERE doc_id % 7 = 0
       |), w0 AS (
       |  SELECT doc_id, array_to_string(string_split(w, ''), ' ') AS repr
       |  FROM dwords
       |),
       |$folds
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(len(string_split(repr, ' '))) AS BIGINT)
       |    AS n_bpe_tokens
       |FROM w$rounds GROUP BY doc_id""".stripMargin
  }

  private val dedupIncrementalOracle: String =
      """WITH sh0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(t) - 2, 1)),
        |    i -> array_to_string(t[i:i+2], ' ')))) AS s
        |  FROM sh0
        |), sz AS (
        |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        |), dd AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 5 = 0
        |), dsh AS (
        |  SELECT * FROM sh WHERE doc_id % 5 = 0
        |), csh AS (
        |  SELECT * FROM sh WHERE doc_id % 5 != 0
        |), com_c AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
        |  FROM dsh a JOIN csh b ON a.s = b.s GROUP BY 1, 2
        |), jc_c AS (
        |  SELECT da FROM com_c
        |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |  WHERE c / (x.n + y.n - c) >= 0.8
        |), com_d AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
        |  FROM dsh a JOIN dsh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), jc_d AS (
        |  SELECT db FROM com_d
        |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |  WHERE c / (x.n + y.n - c) >= 0.8
        |), nc AS (
        |  SELECT da AS id, count(*) AS n_corpus_dups FROM jc_c GROUP BY da
        |), nd AS (
        |  SELECT db AS id, count(*) AS n_delta_dups FROM jc_d GROUP BY db
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(nc.n_corpus_dups, 0) AS BIGINT) AS n_corpus_dups,
        |  CAST(coalesce(nd.n_delta_dups, 0) AS BIGINT) AS n_delta_dups,
        |  coalesce(nc.n_corpus_dups, 0) = 0
        |    AND coalesce(nd.n_delta_dups, 0) = 0 AS keep
        |FROM dd d LEFT JOIN nc ON d.doc_id = nc.id
        |LEFT JOIN nd ON d.doc_id = nd.id""".stripMargin

  // Streaming near-dup twin: the THREE sequential micro-batches
  // unrolled as relational stages over ONE exact-Jaccard pair set
  // (the dedupIncrementalOracle device). Batch i's "corpus" is the
  // initial index (doc_id % 5 != 0) plus the SURVIVORS of batches
  // < i — exactly what the foreachBatch append cycle accumulates —
  // and in-batch dups count only pairs where the doc is the larger id
  // (first-wins, the incrementalTail convention).
  private val streamNeardupSql: String = {
    def ncI(bt: Int, keptSets: Seq[String]): String = {
      val extra = keptSets
        .map(k => s" OR db IN (SELECT doc_id FROM $k)").mkString
      s"""nc$bt AS (
         |  SELECT da, count(*) AS n FROM jp
         |  JOIN dd ON da = dd.doc_id
         |  WHERE dd.bt = $bt AND (db % 5 != 0$extra)
         |  GROUP BY da
         |), nd$bt AS (
         |  SELECT da, count(*) AS n FROM jp
         |  JOIN dd a ON da = a.doc_id JOIN dd b ON db = b.doc_id
         |  WHERE a.bt = $bt AND b.bt = $bt AND db < da
         |  GROUP BY da
         |), r$bt AS (
         |  SELECT d.doc_id, coalesce(nc$bt.n, 0) AS ncd,
         |    coalesce(nd$bt.n, 0) AS ndd
         |  FROM dd d LEFT JOIN nc$bt ON d.doc_id = nc$bt.da
         |  LEFT JOIN nd$bt ON d.doc_id = nd$bt.da
         |  WHERE d.bt = $bt
         |), k$bt AS (
         |  SELECT doc_id FROM r$bt WHERE ncd = 0 AND ndd = 0
         |)""".stripMargin
    }
    s"""WITH sh0 AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, greatest(len(t) - 2, 1)),
       |    i -> array_to_string(t[i:i+2], ' ')))) AS s
       |  FROM sh0
       |), sz AS (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
       |), dd AS (
       |  SELECT doc_id, (doc_id // 5) % 3 AS bt FROM documents
       |  WHERE doc_id % 5 = 0
       |), dsh AS (
       |  SELECT * FROM sh WHERE doc_id % 5 = 0
       |), com AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
       |  FROM dsh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
       |  GROUP BY 1, 2
       |), jp AS (
       |  SELECT da, db FROM com
       |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
       |  WHERE c / (x.n + y.n - c) >= 0.8
       |), ${ncI(0, Seq())}, ${ncI(1, Seq("k0"))},
       |${ncI(2, Seq("k0", "k1"))}
       |SELECT doc_id,
       |  CAST(ncd AS BIGINT) AS n_corpus_dups,
       |  CAST(ndd AS BIGINT) AS n_delta_dups,
       |  ncd = 0 AND ndd = 0 AS keep
       |FROM (SELECT * FROM r0 UNION ALL SELECT * FROM r1
       |      UNION ALL SELECT * FROM r2)""".stripMargin
  }

  // Dedup.canonicalUrl as one nested DuckDB expression over column
  // `url` — generated from the SAME pattern constants; replacements
  // use \1 (DuckDB) where Spark uses $1.
  private val dedupUrlCanonSql: String = {
    import operators.Dedup._
    def re(p: String) = "'" + p.replace("'", "''") + "'"
    val pfx = s"regexp_extract(url, ${re(UrlPrefixRe)}, 1)"
    val c0 = s"(lower($pfx) || substr(url, length($pfx) + 1))"
    val c1 = s"regexp_replace($c0, ${re(UrlDefaultPortHttpRe)}, '\\1\\2')"
    val c2 = s"regexp_replace($c1, ${re(UrlDefaultPortHttpsRe)}, '\\1\\2')"
    val c3 = s"regexp_replace($c2, ${re(UrlFragmentRe)}, '')"
    val c4 = s"regexp_replace($c3, ${re(UrlTrackingRe)}, '\\1', 'g')"
    val c5 = s"regexp_replace($c4, ${re(UrlDelimRunRe)}, '\\1', 'g')"
    val c6 = s"regexp_replace($c5, ${re(UrlTrailingJunkRe)}, '')"
    s"regexp_replace($c6, ${re(UrlTrailingSlashRe)}, '')"
  }

  // DuckDB twin of HtmlText.extract over a relation exposing one page
  // per row in column `value` — generated from the SAME regex/entity
  // constants as the Scala operator, so a rule change lands in both
  // engines by construction (the splitCaseSql discipline).
  private def htmlExtractSelect(from: String): String = {
    import operators.HtmlText._
    def re(p: String) = "'" + p.replace("'", "''") + "'"
    def rx(v: String, p: String) = s"regexp_extract($v, ${re(p)}, 1)"
    def gsub(v: String, p: String) =
      s"regexp_replace($v, ${re(p)}, ' ', 'g')"
    def ws(v: String) = s"trim(regexp_replace($v, ${re(WsRe)}, ' ', 'g'))"
    def ent(v: String) = Entities.foldLeft(v) { case (acc, (e, r)) =>
      s"replace($acc, '$e', '${r.replace("'", "''")}')"
    }
    val region = s"coalesce(nullif(${rx("value", ArticleRe)}, '')," +
      s" nullif(${rx("value", MainRe)}, '')," +
      s" nullif(${rx("value", BodyRe)}, ''), value)"
    val noBlocks = BlockTags.foldLeft(gsub(region, CommentRe))(
      (c, t) => gsub(c, blockRe(t)))
    s"""SELECT ${rx("value", CanonicalRe)} AS url,
       |  ${rx("value", LangRe)} AS lang,
       |  lower(${rx("value", CharsetRe)}) AS charset,
       |  ${ws(ent(rx("value", TitleRe)))} AS title,
       |  ${ws(ent(gsub(noBlocks, TagRe)))} AS text
       |FROM $from""".stripMargin
  }

  // The template-page render as SQL concatenation — the same
  // HtmlText.PageTemplate fragments the Spark render concatenates.
  private def htmlRenderCte: String = {
    val t = operators.HtmlText.PageTemplate
      .map(f => "'" + f.replace("'", "''") + "'")
    // NOTE: the enclosing oracle string re-applies stripMargin, which
    // would truncate a line-LEADING `||` to `|` — keep concatenation
    // operators at line ends
    s"""hpages AS (
       |  SELECT ${t(0)} || lang || ${t(1)} ||
       |    CAST(doc_id AS VARCHAR) || ${t(2)} ||
       |    CAST(doc_id AS VARCHAR) || ${t(3)} ||
       |    CAST(doc_id AS VARCHAR) || ${t(4)} ||
       |    text || ${t(5)} AS value
       |  FROM documents
       |)""".stripMargin
  }

  // Whitespace tokens (leading/trailing empties removed) — the TextStats
  // tokenizer's DuckDB twin.
  private val wsToksCte: String =
    """wtoks AS (
      |  SELECT *, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
      |                        t -> t != '') AS toks
      |  FROM documents
      |)""".stripMargin

  private def listLit(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  // Content-defined chunking chain (TextStats.cdcChunk, avgTokens=16):
  // whitespace tokens with positions, the 60-bit md5 cut flag, the
  // prior-cut running sum as chunk_id, and the per-chunk rollup.
  // Shared by the text_cdc_chunk gate and the dedup_chunks profile.
  private val cdcChunkCtes: String =
    s"""$wsToksCte, cdctk AS (
       |  SELECT doc_id, unnest(toks) AS tok,
       |         generate_subscripts(toks, 1) AS p
       |  FROM wtoks
       |), cdccf AS (
       |  SELECT doc_id, p, tok,
       |    CASE WHEN ('0x' || substr(md5(tok), 1, 15))::BIGINT % 16 = 0
       |         THEN 1 ELSE 0 END AS c
       |  FROM cdctk
       |), cdcid AS (
       |  SELECT doc_id, p, tok,
       |    coalesce(sum(c) OVER (PARTITION BY doc_id ORDER BY p ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS chunk_id
       |  FROM cdccf
       |), cdc AS (
       |  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |    count(*) AS n_chunk_tokens,
       |    md5(string_agg(tok, ' ' ORDER BY p ASC)) AS chunk_md5
       |  FROM cdcid GROUP BY doc_id, chunk_id
       |)""".stripMargin

  // Canonical-assignment CTE chain (naive definition of
  // Dedup.assignCanonical): connected components (min reachable id)
  // over jaccard>=0.8 edges on NORMALIZED-text 3-gram shingles. Must be
  // prefixed with `WITH RECURSIVE`. Shared by dedup_assign and
  // samp_split_safe. NOTE: the recursive `reach` CTE is exponential-ish
  // in DuckDB at sf0.1 — the cross-SF sweep drops these two keys there
  // (see NOTES.md), relying on sf0.001/sf0.01.
  private val assignCtes: String =
    """nrm AS (
      |  SELECT doc_id,
      |         lower(trim(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g'))) AS t
      |  FROM documents
      |), sh0 AS (
      |  SELECT doc_id, string_split(t, ' ') AS tk FROM nrm
      |), sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(len(tk) - 2, 1)),
      |    i -> array_to_string(tk[i:i+2], ' ')))) AS s
      |  FROM sh0
      |), sz AS (
      |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
      |), com AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), jpairs AS (
      |  SELECT da, db FROM com
      |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
      |  WHERE c / (x.n + y.n - c) >= 0.8
      |), edges AS (
      |  SELECT da AS a, db AS b FROM jpairs
      |  UNION ALL SELECT db, da FROM jpairs
      |), reach AS (
      |  SELECT doc_id AS id, doc_id AS r FROM documents
      |  UNION
      |  SELECT e.b AS id, reach.r FROM reach JOIN edges e
      |    ON e.a = reach.id
      |), assign AS (
      |  SELECT id AS doc_id, min(r) AS canonical_id
      |  FROM reach GROUP BY id
      |)""".stripMargin

  // Distinct word-3-gram shingles + exact Jaccard pairs >= 0.8 — oracle
  // for BOTH dedup_ngram_jaccard (exact) and dedup_minhash_lsh (whose
  // LSH candidates are exact-verified; miss probability at the planted
  // jac≈0.98 pairs is ~1e-13, and the next-highest pair sits at 0.07).
  // Exact 3-gram-Jaccard pair CTE chain (the verified-pair oracle
  // device) — shared by the pair gates and the cross-source matrix.
  private val jaccardCtes: String =
    """sh0 AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(len(t) - 2, 1)),
      |    i -> array_to_string(t[i:i+2], ' ')))) AS s
      |  FROM sh0
      |), sz AS (
      |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
      |), com AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), jc AS (
      |  SELECT doc_a, doc_b, common / (x.n + y.n - common) AS jac
      |  FROM com JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
      |)""".stripMargin

  private val jaccardSql: String =
    s"""WITH $jaccardCtes
       |SELECT doc_a, doc_b, jac FROM jc WHERE jac >= 0.8""".stripMargin

  // Shared floors water-solve CTE chain (the samp_mix_fit_floors
  // solve): integral md5-derived floors, the two event classes,
  // sorted running prefix sums, first-valid-interval λ* — serves the
  // report twin and the apply twin.
  private val mixFitFloorsCtes: String =
    s"""s2 AS (
         |  SELECT source,
         |    CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) AS a,
         |    CAST(('0x' || substr(md5(source), 1, 4))::BIGINT % 5 + 1
         |      AS DOUBLE) AS w,
         |    least(CAST(floor(
         |      CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE)
         |      * (('0x' || substr(md5(source), 5, 2))::BIGINT % 60)
         |      / 100.0) AS DOUBLE),
         |      CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE)) AS lo
         |  FROM documents GROUP BY source
         |), t AS (
         |  SELECT sum(a) AS ta, sum(w) AS tw, sum(lo) AS tl FROM s2
         |), ev AS (
         |  SELECT source, lo / w AS re, -lo AS dlo, w AS dw,
         |    0.0 AS da, 0 AS ty FROM s2
         |  UNION ALL
         |  SELECT source, a / w AS re, 0.0 AS dlo, -w AS dw,
         |    a AS da, 1 AS ty FROM s2
         |), p AS (
         |  SELECT ev.*, ta, tl,
         |    row_number() OVER w1 AS rn,
         |    sum(dlo) OVER w2 AS lox,
         |    sum(dw) OVER w2 AS wa,
         |    sum(da) OVER w2 AS ac,
         |    lead(re) OVER w1 AS rnext
         |  FROM ev, t
         |  WINDOW w1 AS (ORDER BY re ASC, source ASC, ty ASC),
         |    w2 AS (ORDER BY re ASC, source ASC, ty ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), q AS (
         |  SELECT p.*,
         |    (0.5 * ta - tl - lox - ac) / nullif(wa, 0.0) AS cand
         |  FROM p
         |), l AS (
         |  SELECT cand AS lamstar FROM q
         |  WHERE cand IS NOT NULL AND cand >= re
         |    AND (rnext IS NULL OR cand < rnext)
         |  ORDER BY rn LIMIT 1
         |)""".stripMargin

  // Shared water-filling CTE chain (the samp_mix_fit solve): md5
  // weights, saturation-ratio sort, exclusive prefix sums, candidate
  // levels, first-unsaturated boundary (k, λ*). Serves the report
  // twin, the apply twin, and (over the curated survivor set) the
  // pipe_budget_prep twin.
  // Winnowing CTE chain shared by text_winnow and dedup_winnow_pairs:
  // normalized 5-token shingle hashes (60-bit md5 slices), 4-frame
  // rightmost-minimum selection
  private val winnowCtes: String =
    """n AS (
      |  SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text,
      |      '[ \t\n\f\r]+', ' ', 'g'))), ' ') AS tk
      |  FROM documents
      |), h AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(1, len(tk) - 4),
      |      i -> ('0x' || substr(md5(array_to_string(tk[i:i+4], ' ')),
      |        1, 15))::BIGINT) AS hs
      |  FROM n WHERE len(tk) >= 5
      |), w AS (
      |  SELECT doc_id,
      |    unnest(list_transform(
      |      generate_series(1, greatest(len(hs) - 3, 1)),
      |      p -> {'pos': p + list_max(list_filter(
      |              generate_series(1, len(hs[p:p+3])),
      |              j -> hs[p:p+3][j] = list_min(hs[p:p+3]))) - 1,
      |            'fp': list_min(hs[p:p+3])})) AS s
      |  FROM h
      |)""".stripMargin

  private def mixFitCtes(from: String = "documents"): String =
    s"""s AS (
      |  SELECT source,
      |    CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) AS a,
      |    CAST(('0x' || substr(md5(source), 1, 4))::BIGINT % 5 + 1
      |      AS DOUBLE) AS w
      |  FROM $from GROUP BY source
      |), t AS (SELECT sum(a) AS ta, sum(w) AS tw FROM s),
      |r AS (SELECT s.*, a / w AS r FROM s),
      |p AS (
      |  SELECT r.*, ta, tw,
      |    row_number() OVER (ORDER BY r ASC, source ASC) AS rn,
      |    coalesce(sum(a) OVER (ORDER BY r ASC, source ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
      |      AS ap,
      |    coalesce(sum(w) OVER (ORDER BY r ASC, source ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
      |      AS wp
      |  FROM r, t
      |), q AS (
      |  SELECT p.*,
      |    (0.5 * ta - ap) / nullif(tw - wp, 0.0) AS lam,
      |    r <= (0.5 * ta - ap) / nullif(tw - wp, 0.0) AS sat
      |  FROM p
      |), k AS (
      |  SELECT min(rn) AS k FROM q WHERE NOT sat
      |), l AS (
      |  SELECT q.lam AS lamstar FROM q, k WHERE q.rn = k.k
      |)""".stripMargin

  // Cross-source matrix twin: the exact-Jaccard pair set with sources
  // attached, folded by least/greatest source pair
  private val crossMatrixSql: String =
    s"""WITH $jaccardCtes, jp AS (
       |  SELECT doc_a, doc_b FROM jc WHERE jac >= 0.8
       |)
       |SELECT least(x.source, y.source) AS src_a,
       |  greatest(x.source, y.source) AS src_b,
       |  count(*) AS n_pairs
       |FROM jp JOIN documents x ON doc_a = x.doc_id
       |JOIN documents y ON doc_b = y.doc_id
       |GROUP BY 1, 2""".stripMargin

  // Bigram-LM twin — shared by text_lm_score, text_lm_score_scalable
  // and text_lm_artifact: c1 = Σ_w2 c2, the model TextStats.lmScore
  // builds at minCount = 0.
  private val lmScoreSql: String =
    """WITH nrm AS (
      |  SELECT doc_id, string_split(
      |    lower(trim(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g'))), ' ') AS t
      |  FROM documents
      |), idx AS (
      |  SELECT doc_id, t,
      |    unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i
      |  FROM nrm
      |), bg AS (
      |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM idx
      |  WHERE t[i+1] IS NOT NULL
      |), c2 AS (
      |  SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2
      |), c1 AS (
      |  SELECT w1, count(*) AS c1 FROM bg GROUP BY w1
      |)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(CAST(log10(c2.c2 / c1.c1) AS DECIMAL(20,12)))
      |       AS DOUBLE) / count(*) AS lm_score
      |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
      |GROUP BY doc_id""".stripMargin

  // Domain-cap twin — shared by samp_cap and samp_cap_scalable: the
  // 10 smallest (hash, key) per stratum, which Sampling.capPerStratum
  // finds by ranking within hash buckets, never a whole stratum.
  private val capSql: String =
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY
      |      ('0x' || substr(md5('graft' || '|' ||
      |        CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT ASC,
      |      doc_id ASC) AS rn
      |  FROM documents WHERE doc_id IS NOT NULL)
      |WHERE rn <= 10""".stripMargin

  // Token-budget twin — shared by samp_token_budget and its _scalable
  // name: the kept set is the longest (score desc, doc_id asc)-prefix
  // whose inclusive token sum fits the budget. Integer window sum — no
  // float accumulation anywhere.
  private val tokenBudgetSql: String =
    s"""SELECT doc_id, score, n_chars FROM (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS score, n_chars,
       |    sum(n_chars) OVER (ORDER BY length(text) DESC, doc_id ASC)
       |      AS cum
       |  FROM documents WHERE doc_id IS NOT NULL)
       |WHERE cum <= $TokenBudget""".stripMargin

  // Shared by dedup_decontam and dedup_decontam_bloom: the bloom
  // prefilter is output-invariant, so both gates replay one exact twin.
  /** The shared CMS heavy-hitter audit twin (rel_cms_artifact and
    * stream_cms_maintain — counters sum linearly, so the batch-merged
    * and foreachBatch-maintained sketches are the same dense rebuild):
    * identical md5-salted bucket derivation over the full table,
    * min-over-depths point estimates for the top-20 users. */
  /** DSIR replay CTEs shared by `samp_dsir` (top-k selection) and
    * `stream_dsir_score` (score everything): identical tokenize →
    * hashed unigram+bigram buckets, ONE-pass (raw, target) bucket
    * counts, each bucket's log-ratio = four ln() calls on
    * exactly-representable doubles floored ONCE to the 1e-9 grid
    * (the samp_weighted_k device). */
  private val dsirSqlCtes: String =
    """n AS (
      |  SELECT doc_id, lang,
      |    lower(trim(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g')))
      |      AS norm
      |  FROM documents
      |), tk AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split(norm, ' '), x -> x <> '') AS t
      |  FROM n
      |), uni AS (
      |  SELECT doc_id, lang, unnest(t) AS f FROM tk
      |), bi AS (
      |  SELECT doc_id, lang, unnest(list_transform(
      |    generate_series(1, len(t) - 1),
      |    i -> t[i] || '_' || t[i + 1])) AS f
      |  FROM tk WHERE len(t) >= 2
      |), feats AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5('graft-dsir' || '|' || f), 1, 8))::BIGINT
      |      % 256 AS b
      |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) u
      |), cnt AS (
      |  SELECT b, count(*) AS rc,
      |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tc
      |  FROM feats GROUP BY 1
      |), tot AS (
      |  SELECT sum(rc) AS rtot, sum(tc) AS ttot FROM cnt
      |), lr AS (
      |  SELECT b, CAST(floor((ln(CAST(tc + 1 AS DOUBLE))
      |      - ln(CAST(rc + 1 AS DOUBLE))
      |      + ln(CAST(rtot + 256 AS DOUBLE))
      |      - ln(CAST(ttot + 256 AS DOUBLE)))
      |      * 1000000000.0) AS BIGINT) AS lr
      |  FROM cnt CROSS JOIN tot
      |)""".stripMargin

  /** Split-conformal replay shared by `rel_forecast_conformal` and
    * `stream_conformal_maintain`: identical residual construction over
    * the two disjoint windows, the exact integer-ceil rank pick via
    * row_number, the same coverage division. */
  private lazy val conformalSql: String =
    s"""WITH $forecastSpineCtes, preds AS (
       |  SELECT event_type, day + 7 AS day, n AS yhat
       |  FROM spine
       |), scored AS (
       |  SELECT s.event_type, s.day, b.d1,
       |    abs(s.n - p.yhat) AS resid
       |  FROM spine s CROSS JOIN bounds b
       |  JOIN preds p USING (event_type, day)
       |  WHERE s.day > b.d1 - 28
       |), cal AS (
       |  SELECT * FROM scored WHERE day <= d1 - 14
       |), ncal AS (
       |  SELECT event_type, count(*) AS n_cal,
       |    least(count(*), ((count(*) + 1) * 9 + 9) // 10) AS k
       |  FROM cal GROUP BY 1
       |), ranked AS (
       |  SELECT event_type, resid,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY resid ASC, day ASC) AS rn
       |  FROM cal
       |), q AS (
       |  SELECT r.event_type, n.n_cal, r.resid AS q
       |  FROM ranked r JOIN ncal n
       |    ON r.event_type = n.event_type AND r.rn = n.k
       |)
       |SELECT s.event_type, q.n_cal, q.q, count(*) AS n_test,
       |  CAST(sum(CASE WHEN s.resid <= q.q THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_covered,
       |  floor(CAST(sum(CASE WHEN s.resid <= q.q THEN 1 ELSE 0 END)
       |      AS DOUBLE) / count(*) * 100 + 0.5) / 100 AS coverage
       |FROM scored s JOIN q USING (event_type)
       |WHERE s.day > s.d1 - 14
       |GROUP BY 1, 2, 3""".stripMargin

  /** Histogram-artifact replay shared by `rel_hist_artifact` and
    * `stream_hist_maintain`: same power-of-two bucket floor, full
    * rebuild (count linearity), cumulative window over ≤128 rows per
    * type, exact integer cross-multiplied rank comparison. */
  private val histAuditSql: String =
    """WITH h AS (
      |  SELECT event_type,
      |    least(CAST(floor(value / 8.0) AS BIGINT), 127) AS bucket,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2
      |), t AS (
      |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS total
      |  FROM h GROUP BY 1
      |), c AS (
      |  SELECT event_type, bucket,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type
      |      ORDER BY bucket) AS BIGINT) AS cum
      |  FROM h
      |), ps AS (
      |  SELECT CAST(p AS DOUBLE) AS p, num, den
      |  FROM (VALUES (0.5, 1, 2), (0.9, 9, 10), (0.99, 99, 100))
      |    v(p, num, den)
      |)
      |SELECT c.event_type, ps.p, min(c.bucket) AS bucket,
      |  CAST((min(c.bucket) + 1) * 8.0 AS DOUBLE) AS est_upper
      |FROM c JOIN t USING (event_type) CROSS JOIN ps
      |WHERE c.cum * ps.den >= t.total * ps.num
      |GROUP BY 1, 2""".stripMargin

  private val cmsAuditSql: String =
    """WITH probes AS (
      |  SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS n_exact
      |  FROM events GROUP BY 1
      |  ORDER BY n_exact DESC, k LIMIT 20
      |), depths AS (SELECT unnest([0,1,2,3]) AS di),
      |sketch AS (
      |  SELECT CAST(di AS VARCHAR) AS d,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#' ||
      |      CAST(di AS VARCHAR)), 1, 15))::BIGINT % 1024 AS b,
      |    count(*) AS cnt
      |  FROM events CROSS JOIN depths
      |  GROUP BY 1, 2
      |)
      |SELECT p.k AS user_id, p.n_exact,
      |  min(s.cnt) AS est, min(s.cnt) - p.n_exact AS overcount
      |FROM probes p
      |CROSS JOIN depths
      |JOIN sketch s ON s.d = CAST(di AS VARCHAR)
      |  AND s.b = ('0x' || substr(md5(p.k || '#' ||
      |    CAST(di AS VARCHAR)), 1, 15))::BIGINT % 1024
      |GROUP BY p.k, p.n_exact""".stripMargin

  private val decontamOracle: String =
    """WITH sh0 AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(len(t) - 3, 1)),
      |    i -> array_to_string(t[i:i+3], ' ')))) AS s
      |  FROM sh0
      |), bench AS (
      |  SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0
      |), corp AS (
      |  SELECT doc_id, s FROM sh WHERE doc_id % 20 != 0
      |)
      |SELECT doc_id, count(*) AS n_shared
      |FROM corp JOIN bench USING (s)
      |GROUP BY doc_id""".stripMargin

  // Double-precision vector pipeline over embeddings: element-wise ops in
  // the same order as Similarity.dot/l2norm.
  // PQ fragments shared by sim_topk_pq (exhaustive ADC) and
  // sim_topk_ivfpq (coarse-pruned ADC): double-cast vectors, the 8
  // subspaces, the per-subspace codebook from the 16 lowest-id
  // vectors, code assignment (d2 asc, j asc), the per-query lookup
  // tables, and the full-vector squared norms for the exact re-rank.
  private val pqCtes: String =
    """vecs AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), subsp AS (
      |  SELECT unnest(generate_series(0, 7)) AS s
      |), base AS (
      |  SELECT vec_id AS bid, v,
      |    CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS BIGINT) AS j
      |  FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id ASC LIMIT 16)
      |), cent AS (
      |  SELECT p.s, b.j, b.v[p.s*8+1 : p.s*8+8] AS csub,
      |    list_sum(list_transform(b.v[p.s*8+1 : p.s*8+8], x -> x*x)) AS c2
      |  FROM base b, subsp p
      |), csub0 AS (
      |  SELECT vec_id, p.s, v[p.s*8+1 : p.s*8+8] AS sv,
      |    list_sum(list_transform(v[p.s*8+1 : p.s*8+8], x -> x*x)) AS x2
      |  FROM vecs, subsp p
      |), code AS (
      |  SELECT vec_id, s, j FROM (
      |    SELECT c.vec_id, c.s, k.j,
      |      row_number() OVER (PARTITION BY c.vec_id, c.s ORDER BY
      |        c.x2 - 2*list_sum(list_transform(generate_series(1, 8),
      |          i -> c.sv[i] * k.csub[i])) + k.c2 ASC, k.j ASC) AS rn
      |    FROM csub0 c JOIN cent k ON c.s = k.s)
      |  WHERE rn = 1
      |), dt AS (
      |  SELECT q.vec_id AS query_id, q.s, k.j,
      |    q.x2 - 2*list_sum(list_transform(generate_series(1, 8),
      |      i -> q.sv[i] * k.csub[i])) + k.c2 AS qd2
      |  FROM csub0 q JOIN cent k ON q.s = k.s
      |  WHERE q.vec_id % 50 = 0
      |), full2 AS (
      |  SELECT vec_id, v, list_sum(list_transform(v, x -> x*x)) AS vv
      |  FROM vecs
      |)""".stripMargin

  // 160-candidate shortlist + exact-L2 re-rank tail over an `adc`
  // (query_id, vec_id, ad2) CTE — closes both PQ twins.
  private val pqRerankSql: String =
    """short AS (
      |  SELECT query_id, vec_id FROM adc
      |  QUALIFY row_number() OVER (PARTITION BY query_id
      |    ORDER BY ad2 ASC, vec_id ASC) <= 160
      |)
      |SELECT s.query_id, s.vec_id AS neighbor_id,
      |  CAST(row_number() OVER (PARTITION BY s.query_id ORDER BY
      |    q.vv - 2*list_sum(list_transform(generate_series(1, 64),
      |      i -> q.v[i] * c.v[i])) + c.vv ASC, s.vec_id ASC) AS BIGINT)
      |    AS rank
      |FROM short s
      |JOIN full2 q ON s.query_id = q.vec_id
      |JOIN full2 c ON s.vec_id = c.vec_id
      |QUALIFY rank <= 10""".stripMargin

  // Stub-decoder feature replay, one SQL expression per dimension —
  // shared by the mm_features and mm_phash twins. Expects the
  // enclosing CTE to provide n_bytes (BIGINT) and h = hex(data).
  private val mmFeatureColsSql: String = (0 until 8).map { d =>
    s"""  CAST(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_filter(generate_series(1, greatest(n_bytes, 1)),
       |      i -> i <= n_bytes AND (i - 1) % 8 = $d)),
       |    (acc, i) -> (acc * 31 +
       |      ('0x' || substr(h, CAST(2 * i - 1 AS INTEGER), 2))::BIGINT)
       |      % 1000003)
       |    / 1000003.0 AS FLOAT) AS DOUBLE) AS f$d""".stripMargin
  }.mkString(",\n")

  // PQ twin (exhaustive ADC + 160-shortlist + exact-L2 re-rank) —
  // shared by sim_topk_pq (in-plan) and sim_topk_pq_persisted (served
  // from the stored codebook/codes/vectors artifact, which must be the
  // identity on the ranking).
  private lazy val simTopkPqSql: String =
    s"""WITH $pqCtes, adc AS (
       |  SELECT d.query_id, e.vec_id,
       |    CAST(sum(CAST(d.qd2 AS DECIMAL(30,12))) AS DOUBLE) AS ad2
       |  FROM code e JOIN dt d ON e.s = d.s AND e.j = d.j
       |  WHERE e.vec_id != d.query_id
       |  GROUP BY 1, 2
       |), $pqRerankSql""".stripMargin

  // Dataset-card twin, parameterized over the one NON-mergeable
  // column: with `withDup` the exact-duplicate CTEs and dup_rate
  // ride along (the batch text_corpus_card); without, the card is
  // the pure function of the mergeable (source, lang) counters that
  // the streaming maintainer replays (stream_card_maintain).
  private def CorpusCardSql(withDup: Boolean): String = {
    val dupCtes = if (withDup)
      ", mult AS (" +
      "\n         |  SELECT fp, count(*) AS nfp FROM hl GROUP BY fp" +
      "\n         |), j AS (" +
      "\n         |  SELECT hl.*, mult.nfp FROM hl JOIN mult USING (fp)" +
      "\n         |)" else ""
    val dupAgg = if (withDup)
      "," +
      "\n         |    CAST(sum(CASE WHEN nfp > 1 THEN 1 ELSE 0 END) AS BIGINT)" +
      "\n         |      AS n_dup" else ""
    val dupCol = if (withDup)
      "  floor(CAST(b.n_dup AS DOUBLE) / b.n_docs * 100 + 0.5) / 100" +
      "\n         |    AS dup_rate," +
      "\n         |" else ""
    val perDoc = if (withDup) "j" else "hl"
    s"""WITH $wsToksCte, h AS (
         |  SELECT source, CAST(len(toks) AS BIGINT) AS n_toks,
         |    md5(lower(trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ',
         |      'g')))) AS fp,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.EnStopwords)}, lower(t)))) AS en_hits,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.DeStopwords)}, lower(t)))) AS de_hits,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.EsStopwords)}, lower(t)))) AS es_hits,
         |    len(list_filter(toks, t -> list_contains(
         |      ${listLit(operators.TextStats.FrStopwords)}, lower(t)))) AS fr_hits
         |  FROM wtoks
         |), hl AS (
         |  SELECT *,
         |    CASE WHEN en_hits >= de_hits AND en_hits >= es_hits
         |              AND en_hits >= fr_hits THEN 'en'
         |         WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
         |         WHEN es_hits >= fr_hits THEN 'es'
         |         ELSE 'fr' END AS lang
         |  FROM h
         |)$dupCtes, b AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_toks) AS BIGINT) AS n_tokens$dupAgg
         |  FROM $perDoc GROUP BY source
         |), ml AS (
         |  SELECT source, c AS main_cnt, lang AS main_lang FROM (
         |    SELECT source, lang, count(*) AS c,
         |      row_number() OVER (PARTITION BY source ORDER BY
         |        count(*) DESC,
         |        CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 1
         |             WHEN 'es' THEN 2 ELSE 3 END ASC) AS rn
         |    FROM $perDoc GROUP BY source, lang)
         |  WHERE rn = 1
         |), t AS (SELECT sum(n_tokens) AS tot FROM b)
         |SELECT b.source, b.n_docs, b.n_tokens,
         |  floor(CAST(b.n_tokens AS DOUBLE) / nullif(t.tot, 0) * 100
         |    + 0.5) / 100 AS token_share,
         |  floor(CAST(b.n_tokens AS DOUBLE) / b.n_docs * 100 + 0.5)
         |    / 100 AS mean_tokens,
         |$dupCol  ml.main_lang,
         |  floor(CAST(ml.main_cnt AS DOUBLE) / b.n_docs * 100 + 0.5)
         |    / 100 AS main_lang_share
         |FROM b JOIN ml USING (source), t""".stripMargin
  }

  private val vecCtes: String =
    """vecs AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), normed AS (
      |  SELECT vec_id, v,
      |         sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
      |  FROM vecs
      |)""".stripMargin

  // IVF routing + scoring, given CTEs `nz` (vec_id, v, norm — nonzero
  // vectors) and `cent` (cid, cv, cnorm — the codebook): nearest-list
  // assignment, 4-probe query routing with (cos desc, cid asc) ties,
  // final top-10 — replays Similarity.ivfTopK's plan exactly. Shared by
  // the fixed-codebook and trained-codebook twins.
  private val ivfTailSql: String =
    """assign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT z.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY z.vec_id ORDER BY
      |        list_sum(list_transform(generate_series(1, len(z.v)),
      |          i -> z.v[i] * c.cv[i])) / (z.norm * c.cnorm) DESC,
      |        c.cid ASC) AS rn
      |    FROM nz z CROSS JOIN cent c)
      |  WHERE rn = 1
      |), qs AS (
      |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm
      |  FROM nz WHERE vec_id % 50 = 0
      |), probes AS (
      |  SELECT query_id, cid FROM (
      |    SELECT qq.query_id, c.cid,
      |      row_number() OVER (PARTITION BY qq.query_id ORDER BY
      |        list_sum(list_transform(generate_series(1, len(qq.qv)),
      |          i -> qq.qv[i] * c.cv[i])) / (qq.qnorm * c.cnorm) DESC,
      |        c.cid ASC) AS rn
      |    FROM qs qq CROSS JOIN cent c)
      |  WHERE rn <= 4
      |), s AS (
      |  SELECT qq.query_id, a.vec_id,
      |    list_sum(list_transform(generate_series(1, len(qq.qv)),
      |      i -> qq.qv[i] * z.v[i])) / (qq.qnorm * z.norm) AS cos
      |  FROM probes p
      |  JOIN qs qq ON p.query_id = qq.query_id
      |  JOIN assign a ON a.cid = p.cid
      |  JOIN nz z ON z.vec_id = a.vec_id
      |  WHERE a.vec_id != qq.query_id
      |)
      |SELECT query_id, vec_id AS neighbor_id,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS "rank"
      |FROM s
      |QUALIFY "rank" <= 10""".stripMargin

  // Parameterized IVF routing/scoring CTE chain (the ivfTailSql shape
  // with nCentroids/nProbe/query-predicate as knobs and collision-free
  // CTE names) — emits nz/cent/assign/qs/probes/ivs, where ivs is the
  // scored (query_id, vec_id, cos) pair stream over the probed lists.
  // Shared by the IVF-routed kNN gates (sim_knn_graph_ivf,
  // sim_knn_recall_ivf).
  private def ivfKnnCtes(nCentroids: Int, nProbe: Int,
                         queryPred: String): String =
    s"""nz AS (
       |  SELECT vec_id, v, norm FROM normed WHERE norm > 0
       |), cent AS (
       |  SELECT vec_id AS cid, v AS cv, norm AS cnorm FROM nz
       |  ORDER BY vec_id ASC LIMIT $nCentroids
       |), assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT z.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY z.vec_id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(z.v)),
       |          i -> z.v[i] * c.cv[i])) / (z.norm * c.cnorm) DESC,
       |        c.cid ASC) AS rn
       |    FROM nz z CROSS JOIN cent c)
       |  WHERE rn = 1
       |), qs AS (
       |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm
       |  FROM nz WHERE $queryPred
       |), probes AS (
       |  SELECT query_id, cid, rn AS prank FROM (
       |    SELECT qq.query_id, c.cid,
       |      row_number() OVER (PARTITION BY qq.query_id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(qq.qv)),
       |          i -> qq.qv[i] * c.cv[i])) / (qq.qnorm * c.cnorm) DESC,
       |        c.cid ASC) AS rn
       |    FROM qs qq CROSS JOIN cent c)
       |  WHERE rn <= $nProbe
       |), ivs AS (
       |  SELECT qq.query_id, a.vec_id, p.prank,
       |    list_sum(list_transform(generate_series(1, len(qq.qv)),
       |      i -> qq.qv[i] * z.v[i])) / (qq.qnorm * z.norm) AS cos
       |  FROM probes p
       |  JOIN qs qq ON p.query_id = qq.query_id
       |  JOIN assign a ON a.cid = p.cid
       |  JOIN nz z ON z.vec_id = a.vec_id
       |  WHERE a.vec_id != qq.query_id
       |)""".stripMargin

  // Fixed-codebook IVF twin (16 lowest-id centroids + the shared
  // routing/scoring tail) — serves BOTH sim_topk_ivf and the
  // persisted-index gate, whose parquet round-trip must be the
  // identity on the ranking.
  private val simTopkIvfSql: String =
    s"""WITH $vecCtes, nz AS (
       |  SELECT vec_id, v, norm FROM normed WHERE norm > 0
       |), cent AS (
       |  SELECT vec_id AS cid, v AS cv, norm AS cnorm FROM nz
       |  ORDER BY vec_id ASC LIMIT 16
       |), $ivfTailSql""".stripMargin

  // Trained-codebook twin: replays trainCodebook's 5 deterministic Lloyd
  // iterations (seed = k lowest-id unit vectors; assignment = max dot
  // with ties to the lowest cid; per-dimension means summed through
  // DECIMAL(30,12) exactly like the Spark trainer, so the sum is
  // order-independent and bit-identical across engines; empty/zero-norm
  // clusters keep the previous centroid; centroids pass through FLOAT at
  // the end exactly once), then scores with the shared IVF tail. Dot
  // products fold left with a 0.0 seed, mirroring Spark's
  // aggregate(zip_with(...), 0.0, +).
  private def trainedIvfSql(k: Int = 16, iters: Int = 5): String = {
    def dot(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(generate_series(1, len($a)),
         |        i -> $a[i] * $b[i])), (acc, x) -> acc + x)""".stripMargin
    val iterCtes = (1 to iters).map { t =>
      s"""sim$t AS (
         |  SELECT uu.vec_id, c.cid,
         |    ${dot("uu.u", "c.c")} AS s
         |  FROM u uu CROSS JOIN cent${t - 1} c
         |), asn$t AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s DESC, cid ASC) AS rn
         |    FROM sim$t)
         |  WHERE rn = 1
         |), mx$t AS (
         |  SELECT a.cid, gs.i,
         |    CAST(sum(CAST(uu.u[gs.i] AS DECIMAL(30,12))) AS DOUBLE)
         |      / count(*) AS m
         |  FROM asn$t a JOIN u uu USING (vec_id)
         |  CROSS JOIN (SELECT unnest(generate_series(1,
         |    (SELECT nd FROM dims))) AS i) gs
         |  GROUP BY a.cid, gs.i
         |), nc$t AS (
         |  SELECT cid, mm,
         |    sqrt(list_reduce(list_transform(mm, x -> x * x),
         |      (acc, x) -> acc + x)) AS nrm
         |  FROM (SELECT cid, list(m ORDER BY i) AS mm FROM mx$t
         |        GROUP BY cid)
         |), cent$t AS (
         |  SELECT p.cid,
         |    CASE WHEN n.cid IS NULL OR n.nrm = 0 THEN p.c
         |         ELSE list_transform(n.mm, x -> x / n.nrm) END AS c
         |  FROM cent${t - 1} p LEFT JOIN nc$t n ON p.cid = n.cid
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $vecCtes, nz AS (
       |  SELECT vec_id, v, norm FROM normed WHERE norm > 0
       |), u AS (
       |  SELECT vec_id, list_transform(v, x -> x / norm) AS u FROM nz
       |), dims AS (SELECT max(len(u)) AS nd FROM u),
       |cent0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1
       |    AS BIGINT) AS cid, u AS c
       |  FROM (SELECT vec_id, u FROM u ORDER BY vec_id ASC LIMIT $k)
       |), $iterCtes,
       |cent AS (
       |  SELECT * FROM (
       |    SELECT cid, cv,
       |      sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnorm
       |    FROM (SELECT cid,
       |            list_transform(c, x -> CAST(CAST(x AS FLOAT) AS DOUBLE))
       |              AS cv
       |          FROM cent$iters))
       |  WHERE cnorm > 0
       |), $ivfTailSql""".stripMargin
  }
}
