package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for LLM-pipeline data (north star, SURVEY.md
  * §2.5): token counting, quality scoring, language-ID, and document
  * fingerprinting. All are per-document map-side computations — they
  * shuffle nothing, so they scale linearly with input splits.
  */
object TextAnalysis {

  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "at", "by", "be")

  /** Token statistics per document:
    *  - `ws_tokens`: whitespace-separated tokens;
    *  - `bpe_tokens`: BPE-ish pieces — word chunks of <= 4 chars plus
    *    standalone non-word marks (a deterministic stand-in for a real
    *    tokenizer's piece count);
    *  - `n_chars`.
    */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      when(length(trim(col("text"))) === 0, lit(0L))
        .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
        .as("ws_tokens"),
      (regexp_count(col("text"), lit("[A-Za-z0-9]{1,4}")) +
        regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")))
        .cast("long").as("bpe_tokens"),
      length(col("text")).cast("long").as("n_chars"))

  /** Heuristic quality score from document statistics: length band, mean
    * word length band, punctuation density, stopword rate. Scoring is
    * integer-banded (0..12 points) so the result is bit-deterministic
    * across engines — the float variant of this formula hit rounding
    * boundaries between Spark and DuckDB at the 4th decimal.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = when(length(trim(col("text"))) === 0, lit(0L))
      .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
    val nChars = length(col("text")).cast("long")
    val punct = regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")).cast("long")
    val stopRe = "(?i)\\b(" + Stopwords.mkString("|") + ")\\b"
    val stops = regexp_count(col("text"), lit(stopRe)).cast("long")
    val base = docs.select(
      col("doc_id"), nChars.as("n_chars"), toks.as("n_tokens"),
      punct.as("n_punct"), stops.as("n_stop"))
    // all comparisons are integer arithmetic — no float accumulation
    val lenPts = when(col("n_chars").between(200, 5000), 3)
      .when(col("n_chars") >= 100, 2)
      .when(col("n_chars") >= 20, 1).otherwise(0)
    val wordLenPts = when(col("n_tokens") === 0, 0)
      // mean token length in [3, 9): 10*n_chars vs n_tokens bounds
      .when(col("n_chars") >= col("n_tokens") * 3 &&
        col("n_chars") < col("n_tokens") * 9, 3)
      .when(col("n_chars") >= col("n_tokens") * 2, 1).otherwise(0)
    val punctPts = when(col("n_punct") * 10 <= col("n_chars"), 3)
      .when(col("n_punct") * 4 <= col("n_chars"), 1).otherwise(0)
    val stopPts = when(col("n_stop") * 5 >= col("n_tokens"), 3)
      .when(col("n_stop") * 20 >= col("n_tokens"), 1).otherwise(0)
    base.select(
      col("doc_id"),
      (lenPts + wordLenPts + punctPts + stopPts).cast("int").as("quality_points"))
  }

  /** Character-trigram profiles of a few languages, built from small
    * public pangram/sample phrases — enough signal to separate real
    * prose; this is the classic n-gram LID heuristic, not a model.
    */
  private val LangSamples: Map[String, String] = Map(
    "en" -> ("the quick brown fox jumps over the lazy dog and then it was " +
      "said that with great power comes great responsibility for all of them"),
    "es" -> ("el veloz murcielago hindu comia feliz cardillo y kiwi la " +
      "ciguena tocaba el saxofon detras del palenque de paja que es de todos"),
    "fr" -> ("portez ce vieux whisky au juge blond qui fume sur son ile " +
      "interieure a cote de la fenetre et il ne faut pas dire que cela est"),
    "de" -> ("zwolf boxkampfer jagen viktor quer uber den grossen sylter " +
      "deich und das ist nicht nur ein schones beispiel fur alle dinge"))

  private def trigrams(s: String): Map[String, Double] = {
    // Locale.ROOT: a Turkish default locale would map 'I' to dotless 'ı',
    // diverging from the SQL oracle's locale-independent lower()
    val clean = s.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z ]", " ").replaceAll("\\s+", " ")
    val grams = clean.sliding(3).filter(_.length == 3).toSeq
    val total = math.max(grams.size, 1)
    grams.groupBy(identity).map { case (g, occ) => g -> occ.size.toDouble / total }
  }

  private lazy val langProfiles: Map[String, Map[String, Double]] =
    LangSamples.map { case (l, s) => l -> trigrams(s) }

  private lazy val langProfileNorms: Map[String, Double] =
    langProfiles.map { case (l, q) =>
      l -> math.sqrt(q.values.map(x => x * x).sum)
    }

  /** Cosine similarity between trigram profiles → best language. Scores
    * are rounded to 6 decimals and ties broken by language code (max) so
    * the argmax is bit-stable across engines — this is what lets the
    * whole classifier be recomputed as a SQL oracle.
    */
  def classifyLanguage(text: String): String = {
    val p = trigrams(text)
    if (p.isEmpty) "und"
    else {
      val pNorm = math.sqrt(p.values.map(x => x * x).sum)
      langProfiles.toSeq.map { case (l, q) =>
        val cos = p.iterator.map { case (g, w) => w * q.getOrElse(g, 0.0) }.sum /
          (pNorm * langProfileNorms(l))
        (BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, l)
      }.max._2
    }
  }

  /** Language-ID over a text column (distributed via a deterministic
    * scalar closure — profiles are tiny constants).
    */
  def langId(s: SparkSession, docs: DataFrame): DataFrame = {
    val lid = udf(classifyLanguage _)
    OpUtil.spread(docs).select(col("doc_id"), lid(col("text")).as("lang_pred"))
  }

  /** DuckDB oracle for [[langId]], generated from the same profile
    * constants the classifier uses: the trigram extraction, weight
    * normalization, cosine scoring, round-6 and lang tie-break are all
    * recomputed in SQL, with profile weights/norms embedded as
    * round-trip double literals.
    */
  lazy val langIdOracleSql: String = {
    val profRows = langProfiles.toSeq.sortBy(_._1).flatMap { case (l, q) =>
      q.toSeq.sortBy(_._1).map { case (g, w) =>
        s"('$l', '${g.replace("'", "''")}', ${w.toString})"
      }
    }.mkString(",\n    ")
    val normRows = langProfileNorms.toSeq.sortBy(_._1)
      .map { case (l, n) => s"('$l', ${n.toString})" }.mkString(", ")
    s"""WITH prof(lang, gram, w) AS (VALUES
       |    $profRows),
       |pnorm(lang, nrm) AS (VALUES $normRows),
       |cleaned AS (
       |  SELECT doc_id, regexp_replace(regexp_replace(lower(text),
       |    '[^a-z ]', ' ', 'g'), '\\s+', ' ', 'g') AS s
       |  FROM documents),
       |chars AS (
       |  SELECT doc_id, unnest(string_split(s, '')) AS ch,
       |         generate_subscripts(string_split(s, ''), 1) AS pos
       |  FROM cleaned),
       |grams AS (
       |  SELECT a.doc_id, a.ch || b.ch || c.ch AS gram
       |  FROM chars a
       |  JOIN chars b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |  JOIN chars c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
       |gw AS (
       |  SELECT doc_id, gram, count(*)::DOUBLE AS cnt
       |  FROM grams GROUP BY 1, 2),
       |tot AS (SELECT doc_id, sum(cnt) AS total FROM gw GROUP BY 1),
       |dw AS (
       |  SELECT g.doc_id, g.gram, g.cnt / t.total AS w
       |  FROM gw g JOIN tot t USING (doc_id)),
       |dn AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM dw GROUP BY 1),
       |overlap AS (
       |  SELECT d.doc_id, p.lang, sum(d.w * p.w) AS dot
       |  FROM dw d JOIN prof p ON d.gram = p.gram
       |  GROUP BY d.doc_id, p.lang),
       |allscores AS (
       |  SELECT dn.doc_id, l.lang,
       |    round(coalesce(o.dot, 0.0) / (dn.nrm * pn.nrm), 6) AS score
       |  FROM dn
       |  CROSS JOIN (SELECT DISTINCT lang FROM prof) l
       |  JOIN pnorm pn ON pn.lang = l.lang
       |  LEFT JOIN overlap o ON o.doc_id = dn.doc_id AND o.lang = l.lang),
       |best AS (
       |  SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, lang DESC) AS rn
       |  FROM allscores)
       |SELECT d.doc_id, coalesce(b.lang, 'und') AS lang_pred
       |FROM documents d
       |LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1""".stripMargin
  }

  /** Document fingerprint: winnowing — the minimum digest over all
    * sliding 5-token windows (docs shorter than one window hash whole).
    * Stable under small edits away from the minimum window, usable as a
    * cheap pre-cluster key. The window digest is md5 of the window text,
    * so the fingerprint is engine-independent (DuckDB-oracle-checked) —
    * a faster non-cryptographic hash would work identically in
    * production; the structure, not the hash, is the operator.
    */
  val FingerprintWindow = 5

  def fingerprint(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    // typed mapPartitions, one MessageDigest per partition: the
    // declarative spelling (transform(sequence(...), md5 ∘ concat_ws ∘
    // slice)) runs the higher-order lambda interpreted per window and
    // benchmarked ~3x slower; output is byte-identical
    OpUtil.spread(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def hex(b: Array[Byte]): String = {
          val sb = new StringBuilder(32)
          b.foreach(x => sb.append(f"${x & 0xff}%02x"))
          sb.toString
        }
        def digest(sTxt: String): String =
          hex(md.digest(sTxt.getBytes("UTF-8")))
        rows.map { case (id, text) =>
          val toks = text.split(" ", -1)
          val fp =
            if (toks.length >= FingerprintWindow)
              (0 to toks.length - FingerprintWindow).iterator
                .map(i => digest(
                  toks.slice(i, i + FingerprintWindow).mkString(" ")))
                .min
            else digest(text)
          (id, fp)
        }
      }
      .toDF("doc_id", "fingerprint")
  }

  /** Inverted index over whitespace tokens: term → document frequency +
    * sorted posting list. Posting lists are per-term aggregations (one
    * shuffle on term); hot terms are bounded by `minDf` (index only
    * informative terms) exactly the way production IR pipelines cap
    * postings. Output arrays are sorted so the result is deterministic.
    */
  def invertedIndex(docs: DataFrame, minDf: Long): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("term"))
      .filter(length(col("term")) > 0)
      .distinct()
      .groupBy("term")
      .agg(
        count(lit(1)).as("df"),
        sort_array(collect_set(col("doc_id"))).as("postings"))
      .filter(col("df") >= minDf)

  /** TF-IDF weights, top-k terms per document. tf = raw count; idf =
    * ln((N+1)/(df+1)) (smoothed); weight rounded to 4 decimals BEFORE
    * ranking so the rank order is engine-stable (ties broken by term).
    * Everything is one tokenize pass + two shuffles (term stats, per-doc
    * ranking) — no driver state, no vocabulary materialization.
    */
  def tfIdf(docs: DataFrame, topK: Int): DataFrame = {
    val terms = docs
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("term"))
      .filter(length(col("term")) > 0)
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // N as a broadcast one-row aggregate — no driver-side action
    val nDf = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("weight").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDf))
      .withColumn("weight",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("weight"), col("rk"))
  }

  /** Bigram collocations by pointwise mutual information — the corpus
    * statistic behind phrase mining and tokenizer-merge candidates.
    * PMI = ln(p(w1,w2) / (p(w1)·p(w2))) with probabilities from the
    * bigram and unigram position totals; counts are exact integers and
    * the one float expression is shaped identically in the SQL oracle
    * (same division order), rounded to 6. Two shuffles (unigram counts,
    * bigram counts), totals as broadcast one-row aggregates — no driver
    * actions, no vocabulary materialization.
    */
  val CollocationMinCount = 5L

  def collocations(docs: DataFrame, minCount: Long = CollocationMinCount): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val toks = docs.select(col("doc_id"), col("text"))
    val words = toks.select(explode(split(col("text"), " ", -1)).as("w"))
    val uni = words.groupBy("w").agg(count(lit(1)).as("c"))
    val nTotal = uni.agg(sum(col("c")).as("n"))
    val bigrams = OpUtil.spread(toks).as[(Long, String)]
      .flatMap { case (_, text) =>
        text.split(" ", -1).iterator.sliding(2).withPartial(false)
          .map(p => (p.head, p.last))
      }
      .toDF("w1", "w2")
    val bg = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val nbTotal = bg.agg(sum(col("c12")).as("nb"))
    bg.filter(col("c12") >= minCount)
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), "w1")
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), "w2")
      .crossJoin(broadcast(nTotal))
      .crossJoin(broadcast(nbTotal))
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12") / col("nb")) /
          ((col("c1") / col("n")) * (col("c2") / col("n")))), 6).as("pmi"))
  }

  /** Vocabulary build + corpus encoding — the tokenize-and-binarize step
    * before training: the top-V words by frequency become ids 1..V
    * (count desc, word asc — fully deterministic), everything else is
    * OOV id 0, and each document is re-emitted as its id sequence (a
    * comma-joined string: the gate cannot canonicalize array cells).
    * Scale shape: the top-V select is a TakeOrdered (never a global
    * sort), the vocab is broadcast to the encode join, and the per-doc
    * reassembly is one shuffle on doc_id with positions carried through
    * — no driver-side vocabulary, no collect.
    */
  val VocabSize = 16

  def vocabEncode(docs: DataFrame, vocabSize: Int = VocabSize): DataFrame = {
    val toks = OpUtil.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        posexplode(split(col("text"), " ", -1)).as(Seq("pos", "w")))
    val counts = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val ord = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("w"))
    val vocab = counts.orderBy(col("c").desc, col("w")).limit(vocabSize)
      .withColumn("tok_id", row_number().over(ord))
      .select(col("w"), col("tok_id"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .withColumn("tid", coalesce(col("tok_id"), lit(0)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("tid") === 0, 1L).otherwise(0L)).as("n_oov"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
            s => s.getField("tid").cast("string")), ",").as("encoded"))
  }

  /** Unigram language-model scoring: train token probabilities on the
    * corpus itself (count/total), score each doc by its mean token
    * log-probability — the classic cheap LM-quality signal (docs full of
    * rare garbage tokens score far below fluent text; gibberish filters
    * threshold on exactly this number). Two combinable aggregations plus
    * one token-keyed join: the count side is one row per vocab term, so
    * AQE broadcasts it when small and skew-splits the hot-token side when
    * not — no driver state, no second corpus materialization (the total
    * derives from the counts, not another scan).
    */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val toks = OpUtil.spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("n"))
    toks.join(counts, "tok")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(log(col("c").cast("double") / col("n"))), 4).as("avg_logprob"))
  }

  def unigramLmQuery(s: SparkSession, dir: String): DataFrame =
    unigramLogProb(Tables.documents(s, dir))

  /** Add-one-smoothed bigram language model: P(w2|w1) =
    * (c(w1,w2)+1) / (c(w1)+V) trained on the corpus itself, each doc
    * scored by its mean bigram log-probability — the next LM-quality rung
    * above [[unigramLogProb]] (fluent word ORDER now matters, not just
    * word choice; shuffled text keeps its unigram score but craters
    * here). Scale shape: bigram extraction is one flatMap, both count
    * tables are combinable aggregations keyed by (w1,w2)/(w1), and the
    * scoring joins are token-keyed equi-joins AQE can broadcast or
    * skew-split; V is a one-row broadcast. Docs with fewer than two
    * tokens have no bigrams and drop out (same on the oracle side).
    */
  def bigramLm(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val bigrams = OpUtil.spread(docs)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        text.split(" ", -1).iterator.sliding(2).withPartial(false)
          .map(p => (id, p.head, p.last))
      }
      .toDF("doc_id", "w1", "w2")
    val uni = docs.select(explode(split(col("text"), " ", -1)).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val bg = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    bigrams
      .join(bg, Seq("w1", "w2"))
      .join(uni, "w1")
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c12") + 1).cast("double") / (col("c1") + col("v")))), 4)
          .as("avg_logprob"))
  }

  def bigramLmQuery(s: SparkSession, dir: String): DataFrame =
    bigramLm(Tables.documents(s, dir))

  /** Gopher-style rule gates (Rae et al. 2021's "quality filtering"
    * heuristics, re-expressed as integer-band predicates): word count
    * bounds, mean-word-length band, symbol-to-word ratio, bullet-token
    * ratio, alphabetic-token fraction, and a minimum stop-word count.
    * Every rule is pure integer arithmetic on one row (no float ratio
    * crosses an engine boundary), so the whole filter is codegen'd
    * scan-side work — the shape you want when gating 100 TB: no shuffle,
    * no UDF, rules evaluated inside the scan stage and rows dropped
    * before anything downstream pays for them.
    */
  /** The raw per-doc statistics the gopher rules read, aliased under
    * `prefix` — one projection over `text`, shared by [[gopherRules]]
    * (audit view) and [[gopherKeep]] (fused scan-side filter) so the
    * two can never drift.
    */
  private def gopherStatCols(prefix: String): Seq[Column] = {
    val arr = split(trim(col("text")), "\\s+")
    Seq(
      when(length(trim(col("text"))) === 0, 0).otherwise(size(arr))
        .cast("long").as(s"${prefix}n_tokens"),
      aggregate(arr, lit(0L), (acc, t) => acc + length(t))
        .as(s"${prefix}sum_tok_len"),
      size(filter(arr, t => t.rlike("[A-Za-z]"))).cast("long")
        .as(s"${prefix}n_alpha"),
      size(filter(arr, t => t.isin("-", "*", "•"))).cast("long")
        .as(s"${prefix}n_bullet"),
      (length(col("text")) - length(regexp_replace(col("text"), "#", "")))
        .cast("long").as(s"${prefix}n_hash"),
      expr("(length(text) - length(replace(text, '...', ''))) div 3")
        .as(s"${prefix}n_ellipsis"),
      size(regexp_extract_all(col("text"),
        lit("(?i)\\b(the|be|to|of|and|that|have|with)\\b"), lit(0)))
        .cast("long").as(s"${prefix}n_stop"))
  }

  /** The six rule predicates over [[gopherStatCols]]' outputs (read by
    * NAME so they evaluate over the stat projection, once per stat).
    */
  private def gopherRuleExprs(prefix: String): Seq[(String, Column)] = {
    def c(n: String) = col(s"$prefix$n")
    Seq(
      "r_wordcount" -> (c("n_tokens") >= 50 && c("n_tokens") <= 100000),
      "r_meanlen" -> (c("n_tokens") > 0 &&
        c("sum_tok_len") >= c("n_tokens") * 3 &&
        c("sum_tok_len") <= c("n_tokens") * 10),
      "r_symbol" -> (c("n_tokens") > 0 &&
        (c("n_hash") + c("n_ellipsis")) * 10 <= c("n_tokens")),
      "r_bullet" -> (c("n_tokens") > 0 &&
        c("n_bullet") * 5 <= c("n_tokens")),
      "r_alpha" -> (c("n_tokens") > 0 &&
        c("n_alpha") * 10 >= c("n_tokens") * 8),
      "r_stop" -> (c("n_stop") >= 2))
  }

  def gopherRules(docs: DataFrame): DataFrame = {
    val base = docs.select(
      col("doc_id") +: col("text") +: gopherStatCols(""): _*)
    val rules = gopherRuleExprs("")
      .map { case (n, e) => e.cast("int").as(n) }
    base.select(col("doc_id") +: col("n_tokens") +: rules: _*)
      .withColumn("pass",
        (col("r_wordcount") * col("r_meanlen") * col("r_symbol") *
          col("r_bullet") * col("r_alpha") * col("r_stop")).cast("int"))
  }

  /** `docs` filtered to the rows passing every gopher rule, all input
    * columns preserved — [[gopherRules]]' `pass = 1` set FUSED into one
    * scan-side projection+filter. The composition pipelines
    * ([[graft.ops.PipelineOps.curateV2]]/V3) previously re-attached the
    * gate verdicts to their own corpus with
    * `docs ⋈ (gopherRules(docs) WHERE pass = 1)` — a second full scan
    * plus a corpus-wide SHUFFLE of the text payload, just to recover
    * rows the filter could keep in place (doc_id is unique, so the
    * inner self-join on it IS a filter). Same rule expressions via
    * [[gopherStatCols]]/[[gopherRuleExprs]]; row set provably
    * identical.
    */
  def gopherKeep(docs: DataFrame): DataFrame = {
    val p = "_g_"
    val pass = gopherRuleExprs(p).map(_._2).reduce(_ && _)
    docs.select(col("*") +: gopherStatCols(p): _*)
      .filter(pass)
      .drop(GopherStatNames.map(p + _): _*)
  }

  private val GopherStatNames = Seq("n_tokens", "sum_tok_len", "n_alpha",
    "n_bullet", "n_hash", "n_ellipsis", "n_stop")

  def gopherRulesQuery(s: SparkSession, dir: String): DataFrame =
    gopherRules(Tables.documents(s, dir))

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009): each
    * token maps to one of [[FhDim]] buckets with a ±1 sign, both
    * md5-derived, and a document becomes the signed occurrence-count
    * vector — the fixed-width featurizer that needs NO vocabulary pass,
    * which is why it scales to any corpus (one combinable aggregation,
    * no broadcast dictionary, no OOV concept). Output per doc: token
    * count, non-zero bucket count, and the squared L2 norm of the hashed
    * vector — all integers, so the whole featurizer is hash-checked.
    */
  val FhDim = 64

  def featureHashing(docs: DataFrame): DataFrame = {
    val toks = OpUtil.spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("tok"))
      .filter(length(col("tok")) > 0)
    val bucket = pmod(
      conv(substring(md5(concat(lit("f|"), col("tok"))), 1, 12), 16, 10)
        .cast("long"), lit(FhDim))
    val sign = (conv(substring(md5(concat(lit("s|"), col("tok"))), 1, 1),
      16, 10).cast("long") % 2) * 2 - 1
    toks
      .select(col("doc_id"), bucket.as("bucket"), sign.as("sg"))
      .groupBy("doc_id", "bucket")
      .agg(sum(col("sg")).as("x"), count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(
        sum(col("cnt")).as("n_tokens"),
        sum(when(col("x") =!= 0, 1L).otherwise(0L)).as("nnz"),
        sum(col("x") * col("x")).as("l2sq"))
  }

  def featureHashingQuery(s: SparkSession, dir: String): DataFrame =
    featureHashing(Tables.documents(s, dir))

  /** CCNet-style quality tiers (Wenzek et al. 2020): per-LANGUAGE
    * perplexity terciles — each language's docs rank by their unigram-LM
    * score and split head/middle/tail, the bucketing CCNet uses to keep
    * "head" web text for training. Ranking runs on the ROUNDED score
    * (the cross-engine-stable value) with doc_id tiebreak, so the tier
    * assignment is exact; one window per language partition after the
    * LM's token-keyed join — no global sort.
    */
  def ccnetTiers(docs: DataFrame): DataFrame = {
    val scored = unigramLogProb(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_logprob").desc, col("doc_id"))
    scored
      .select(col("doc_id"), col("lang"), col("avg_logprob"),
        ntile(3).over(w).as("b"))
      .select(col("doc_id"), col("lang"), col("avg_logprob"),
        when(col("b") === 1, "head").when(col("b") === 2, "middle")
          .otherwise("tail").as("tier"))
  }

  def ccnetTiersQuery(s: SparkSession, dir: String): DataFrame =
    ccnetTiers(Tables.documents(s, dir))

  /** LM-contrast data selection (the DSIR/importance-resampling shape in
    * log space): score each doc by how much the word-ORDER model beats
    * the bag-of-words model — lm_gain = bigram avg logprob minus unigram
    * avg logprob. Fluent, structured text gains; shuffled or listy text
    * does not, so thresholding at 0 selects for syntax. Both scores are
    * the already-rounded cross-engine-stable values, so the gain and
    * the selection bit are exact. Cost: the two LM pipelines share the
    * token table; everything else is per-doc arithmetic.
    */
  def lmGainFilter(docs: DataFrame): DataFrame = {
    val uni = unigramLogProb(docs)
      .select(col("doc_id"), col("avg_logprob").as("uni_lp"))
    val bi = bigramLm(docs)
      .select(col("doc_id"), col("avg_logprob").as("bi_lp"))
    uni.join(bi, "doc_id")
      .select(col("doc_id"), col("uni_lp"), col("bi_lp"),
        round(col("bi_lp") - col("uni_lp"), 4).as("lm_gain"))
      .withColumn("selected",
        (col("lm_gain") > 0.0).cast("int"))
  }

  def lmGainFilterQuery(s: SparkSession, dir: String): DataFrame =
    lmGainFilter(Tables.documents(s, dir))

  /** Character-entropy profile per doc — the cheap gibberish/encoding
    * detector (natural prose sits in a narrow entropy band; base64
    * blobs, mashed keyboards, and repeated filler fall outside it).
    * Uses the one-pass identity H = log2(n) - (Σ c·log2 c)/n over the
    * char histogram, so the whole profile is two combinable
    * aggregations — no per-doc state beyond the histogram row stream.
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    OpUtil.spread(docs)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n"),
        count(lit(1)).as("distinct_chars"),
        sum(col("c") * log2(col("c"))).as("s"))
      .select(col("doc_id"), col("n").as("n_chars"), col("distinct_chars"),
        round(log2(col("n")) - col("s") / col("n"), 4).as("char_entropy"))
  }

  def charEntropyQuery(s: SparkSession, dir: String): DataFrame =
    charEntropy(Tables.documents(s, dir))

  /** Unicode normalization accounting (the ingest-side canonicalization
    * pass): the fixture corpus is ASCII, so the query SYNTHESIZES mixed
    * normal forms deterministically — every 'a' becomes the decomposed
    * pair 'a'+U+0301 — then measures the engine's
    * [[graft.functions.UnicodeNormExpr]] against it: NFC recomposes each
    * pair to one codepoint, NFD+strip-marks removes the accents
    * entirely (DuckDB's `strip_accents`). Per-language codepoint sums
    * before/after make the whole transformation hash-checkable; the
    * expression itself is row-local and fuses into whole-stage codegen.
    */
  def unicodeNormalize(docs: DataFrame): DataFrame = {
    import graft.functions.UnicodeNormExpr.unicode_norm
    OpUtil.spread(docs)
      .select(col("lang"),
        regexp_replace(substring(col("text"), 1, 80), "a", "a\u0301").as("dec"))
      .select(col("lang"),
        length(col("dec")).as("dl"),
        length(unicode_norm(col("dec"), "NFC")).as("nl"),
        length(regexp_replace(unicode_norm(col("dec"), "NFD"), "\\p{Mn}", ""))
          .as("al"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_decomposed_len"),
        sum(col("nl")).as("sum_nfc_len"),
        sum(col("al")).as("sum_stripped_len"))
  }

  def unicodeNormalizeQuery(s: SparkSession, dir: String): DataFrame =
    unicodeNormalize(Tables.documents(s, dir))

  /** Skip-gram pair extraction (the word2vec/GloVe training-pair
    * generator): (center, context) for every context within
    * [[SkipgramWindow]] positions AFTER the center (forward-only —
    * symmetric counts are recoverable by summing both orientations),
    * corpus-aggregated with a minimum count. One flatMap per doc, one
    * combinable count — the pair stream IS the training data, so this
    * is a 100 TB-shaped producer: nothing is held per doc, the output
    * is bounded by the distinct-pair space.
    */
  val SkipgramWindow = 2
  val SkipgramMinCount = 5L

  def skipgrams(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    OpUtil.spread(docs)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (_, text) =>
        val toks = text.split(" ", -1)
        for {
          i <- toks.indices.iterator
          d <- 1 to SkipgramWindow
          if i + d < toks.length
        } yield (toks(i), toks(i + d), d)
      }
      .toDF("center", "context", "offset")
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= SkipgramMinCount)
  }

  def skipgramsQuery(s: SparkSession, dir: String): DataFrame =
    skipgrams(Tables.documents(s, dir))

  /** BPE pair statistics — the inner loop of byte-pair-encoding tokenizer
    * training: corpus-weighted counts of adjacent symbol pairs (the pair
    * with the max count is the next merge). Computed over DISTINCT words
    * with their corpus frequencies, so a word repeated a billion times
    * costs one row of pair extraction plus a multiply — the standard
    * trick that makes BPE training corpus-size-independent per
    * iteration. Two combinable aggregations (word counts, then pair
    * sums); the pair space is bounded by the alphabet squared.
    */
  def bpePairs(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    OpUtil.spread(docs)
      .select(explode(split(col("text"), " ", -1)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .as[(String, Long)]
      .flatMap { case (w, c) =>
        (0 until w.length - 1).map(i =>
          (w.substring(i, i + 1), w.substring(i + 1, i + 2), c))
      }
      .toDF("left", "right", "c")
      .groupBy("left", "right")
      .agg(sum(col("c")).as("pair_count"))
  }

  def bpePairsQuery(s: SparkSession, dir: String): DataFrame =
    bpePairs(Tables.documents(s, dir))

  val BpeMergeRounds = 4

  /** BPE tokenizer training, the OUTER loop: [[BpeMergeRounds]] full
    * merge rounds, each = count adjacent symbol pairs corpus-weighted,
    * adopt the max-count pair (count desc, then lexicographic — fully
    * deterministic), rewrite every word's symbol sequence, repeat.
    * Returns the learned merge table, i.e. the artifact a tokenizer
    * ships.
    *
    * Like [[bpePairs]], rounds run over DISTINCT words x corpus counts,
    * so per-round cost is vocabulary-bounded regardless of corpus size.
    * The winning pair is adopted via a ONE-ROW TakeOrdered collect —
    * bounded driver state, the same O(1)-probe pattern the ANN/codec
    * paths use — which doubles as the per-round action that
    * materializes round N's rewritten vocabulary so round N-1's cache
    * can be released immediately (no stale cached frames survive the
    * call). Symbol sequences are strings with a two-space separator and
    * one-space sentinels, which makes the merge a plain (non-regex,
    * both-engines-identical) `replace`: occurrences of ' l  r ' never
    * share characters, so one left-to-right replace pass merges every
    * non-overlapping occurrence — including back-to-back repeats — and
    * multi-char symbols can never false-match inside a neighbor.
    */
  def bpeMerges(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = OpUtil.spread(docs)
      .select(explode(split(col("text"), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(concat(rtrim(concat(lit(" "),
        regexp_replace(col("w"), "(.)", "$1  "))), lit(" ")).as("seq"),
        col("c"))
    // each round reads seqs twice (pair count + rewrite); cache it or
    // the rewrite lineage re-evaluates 2^k times. NOTE: training runs
    // EAGERLY at call time (per-round collect + count) — the returned
    // frame is the already-learned merge table, not a lazy plan.
    var seqs = words.cache()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= BpeMergeRounds && !exhausted) {
      val best = seqs
        .select(col("c"), split(trim(col("seq")), "  ").as("sym"))
        .filter(size(col("sym")) >= 2)
        .select(col("c"), explode(expr(
          "transform(sequence(1, size(sym) - 1), i -> named_struct(" +
            "'l', element_at(sym, i), 'r', element_at(sym, i + 1)))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("c")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("l"), col("r")).limit(1)
        .collect() // ONE row (TakeOrdered): the winner, as driver literals
      best.headOption match {
        case None =>
          // vocabulary exhausted: merges only shrink sequences, so no
          // pair can reappear in a later round — stop instead of
          // re-running the full (identically empty) pair aggregation
          exhausted = true
        case Some(row) =>
          val (bl, br) = (row.getString(0), row.getString(1))
          val prev = seqs
          seqs = prev
            .withColumn("seq", replace(col("seq"),
              lit(s" $bl  $br "), lit(s" $bl$br ")))
            .select("seq", "c")
            .cache()
          seqs.count() // materialize round N BEFORE dropping round N-1
          prev.unpersist(blocking = false)
          merges += ((round, bl, br, row.getLong(2)))
      }
      round += 1
    }
    seqs.unpersist(blocking = false) // last round's vocabulary: output
    // below is pure driver literals, nothing reads it again
    merges.toSeq.toDF("merge_rank", "left", "right", "pair_count")
      .select(col("merge_rank"), col("left"), col("right"),
        col("pair_count"))
  }

  def bpeMergesQuery(s: SparkSession, dir: String): DataFrame =
    bpeMerges(Tables.documents(s, dir))

  /** BPE APPLY — the pass a training-data pipeline runs LAST: encode the
    * corpus with the merge table [[bpeMerges]] trained (tokenizer-apply,
    * corpus → token ids under the learned BPE). The merge table is ≤
    * [[BpeMergeRounds]] driver literals; applying it is the same
    * two-space-separator replace as training, run in merge-priority
    * order over the DISTINCT-word vocabulary (so the per-word encode
    * cost is vocabulary-bounded — a word seen a billion times encodes
    * once), then joined back onto the corpus. Token ids are assigned
    * deterministically (dense rank over the final symbol set), and each
    * doc reports its whitespace token count, BPE token count (the
    * compression the tokenizer buys), and the sum of its token ids — an
    * order-insensitive checksum of the full encoded stream, so any
    * mis-applied merge in any word of any doc fails the hash.
    *
    * Scale shape: one word-count shuffle + k vocabulary-local replaces +
    * one broadcast-sized join (the per-word stats are |vocab| rows) +
    * one per-doc aggregation. Nothing iterates over the corpus; the
    * merge loop touches only the vocabulary.
    *
    * Two apply arms, same semantics (spec-locked equal, measured in
    * SURVEY §6.9): tables ≤ [[BpeFoldMaxMerges]] fold as chained
    * codegen `replace` columns; a REALISTIC vocabulary-scale table
    * (1k–50k merges) would build a 1k-deep expression tree — past the
    * JIT/codegen sweet spot — so the large arm broadcasts the merge
    * array and applies it per DISTINCT WORD in one `mapPartitions`
    * pass. Either way the cost is |vocab| × |merges|, never corpus ×
    * |merges|.
    */
  val BpeFoldMaxMerges = 64

  /** One left-to-right merge pass: adjacent (l, r) symbols collapse to
    * l+r, non-overlapping, scan resuming after each replacement —
    * exactly the two-space-separator string `replace` semantics of the
    * fold arm.
    */
  private def bpeApplyOne(syms: Array[String], l: String,
      r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private[graft] def bpeApplyAll(w: String,
      merges: Array[(String, String)]): Array[String] = {
    var syms: Array[String] = w.map(_.toString).toArray
    var k = 0
    while (k < merges.length && syms.length > 1) {
      syms = bpeApplyOne(syms, merges(k)._1, merges(k)._2)
      k += 1
    }
    syms
  }

  def bpeEncode(docs: DataFrame): DataFrame = {
    val merges = bpeMerges(docs).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    bpeEncodeWith(docs, merges)
  }

  private[graft] def bpeEncodeWith(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    val words = OpUtil.spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
    val vocabWords = words.select("w").distinct()
    val wordSyms = if (merges.size <= BpeFoldMaxMerges) {
      val vocab0 = vocabWords
        .select(col("w"), concat(rtrim(concat(lit(" "),
          regexp_replace(col("w"), "(.)", "$1  "))), lit(" ")).as("seq"))
      val encoded = merges.foldLeft(vocab0) { case (df, (l, r)) =>
        df.withColumn("seq",
          replace(col("seq"), lit(s" $l  $r "), lit(s" $l$r ")))
      }
      encoded.select(col("w"),
        explode(split(trim(col("seq")), "  ")).as("sym"))
    } else {
      import spark.implicits._
      val bc = spark.sparkContext.broadcast(merges.toArray)
      vocabWords.select(col("w")).as[String]
        .mapPartitions { it =>
          val m = bc.value
          it.flatMap(w => bpeApplyAll(w, m).iterator.map(sym => (w, sym)))
        }
        .toDF("w", "sym")
    }
    // symbol-id assignment via the engine's standard sharded prefix-sum
    // rank (packSequences / shuffleShard shape): symbols shard by their
    // first character — monotone under Spark's byte-wise string order,
    // so global rank = shard offset + local per-shard rank — each shard
    // ranks independently, and the serial piece is the O(shards) driver
    // exclusive scan (sorted in unsigned UTF-8 byte order, the order
    // Spark's orderBy uses, so the ids equal the global dense_rank
    // exactly). No single task ever sorts the whole symbol table: a
    // 1 M-symbol production vocab spreads over its first-character
    // shards instead of one window partition.
    val syms = wordSyms.select("sym").distinct()
      .withColumn("rg", substring(col("sym"), 1, 1))
    val utf8Ord: Ordering[String] = (a: String, b: String) => {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0; var d = 0
      while (i < n && d == 0) { d = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
      if (d != 0) d else x.length - y.length
    }
    val rgCounts = syms.groupBy("rg").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)(utf8Ord)
    var run = 0L
    val offRows = rgCounts.map { case (rg, n) =>
      val o = run; run += n; (rg, o)
    }.toSeq
    import spark.implicits._
    val offs = broadcast(offRows.toDF("rg", "off"))
    val wShard = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rg")).orderBy(col("sym"))
    val vocabIds = syms
      .withColumn("lr", row_number().over(wShard).cast("long"))
      .join(offs, "rg")
      .select(col("sym"), (col("off") + col("lr")).as("token_id"))
    val wordStats = wordSyms.join(vocabIds, "sym")
      .groupBy("w")
      .agg(count(lit(1)).as("n_sym"), sum(col("token_id")).as("sum_id"))
    words.join(broadcast(wordStats), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ws_tokens"),
        sum(col("n_sym")).as("n_tokens"),
        sum(col("sum_id")).as("sum_token_id"))
  }

  def bpeEncodeQuery(s: SparkSession, dir: String): DataFrame =
    bpeEncode(Tables.documents(s, dir))

  /** Corpus rollup by language/source metadata: the report a pipeline
    * operator would feed a curation dashboard.
    */
  def corpusStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  // Driver registrations
  def corpusStatsQuery(s: SparkSession, dir: String): DataFrame =
    corpusStats(Tables.documents(s, dir))

  def tokenStatsQuery(s: SparkSession, dir: String): DataFrame =
    tokenStats(Tables.documents(s, dir))

  def qualityQuery(s: SparkSession, dir: String): DataFrame =
    qualityScore(Tables.documents(s, dir))

  def langIdQuery(s: SparkSession, dir: String): DataFrame =
    langId(s, Tables.documents(s, dir))

  def fingerprintQuery(s: SparkSession, dir: String): DataFrame =
    fingerprint(s, Tables.documents(s, dir))
}
